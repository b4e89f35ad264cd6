package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.operators.TableLog
import graft.query.FilterOptions
import graft.sink.ParquetStage

/** A continuing access-log store driven by one closed-loop client: each
  * op starts when the previous one ends. One unit is one cycle of ten
  * ops: five writes (stage a text batch, append it, GDPR delete by IP,
  * merge upsert, compaction) and five reads (a re-query of the staged
  * store, a scan, time travel, changes and a SQL select through the
  * tablelog catalog). The seed sets the data, the IPs deleted, the merge
  * slices, the re-query filters and the time-travel versions. */
final class LogStoreWorkload(o: Runner.Opts, r: Result) extends Workload(o, r) {
  private var cfg: TriageConfig = _
  private var root = ""
  private def table = s"$root/table"
  private def baseStage = s"$root/base_stage"
  private lazy val deleteIps: IndexedSeq[String] =
    read(s"$in/delete_ips.txt").split("\n").filter(_.nonEmpty).toIndexedSeq
  private val rnd = new scala.util.Random(o.seed)
  private var nextBatch = 0
  private var batchBytes = 0L
  private var storeBytes0 = 0L

  import LogStoreWorkload._

  /** Write ops in commit order, with the table version after each. */
  private val writes = ArrayBuffer.empty[(Write, Long)]
  private val ops = ArrayBuffer.empty[(String, Boolean, Double)] // (op, isWrite, seconds)

  private def read(p: String): String = {
    val s = scala.io.Source.fromFile(p)
    try s.mkString finally s.close()
  }

  private def keyed(stage: String)(implicit spark: SparkSession): DataFrame =
    ParquetStage.read(spark, stage).drop("event_date")
      .withColumn("row_key", concat_ws(":", col("source"), col("_row_id").cast("string")))

  def setup(spark: SparkSession, rep: Int): Unit = {
    implicit val s: SparkSession = spark
    cfg = new TriageConfig(in)
    root = s"${o.work}/store$rep"
    Runner.deleteRecursively(new File(root))
    Pipeline.stage(spark, Seq(s"$in/base/logs"), baseStage)
    TableLog.create(spark, table, keyed(baseStage))
    storeBytes0 = Runner.bytesUnder(new File(root))
  }

  def minUnits: Int = 2

  override def cli(spark: SparkSession): Unit = res.layer("cli.requery_s", Runner.runCli(
    o.cliPrefix, Seq("graft.cli.Triage", "--from-stage", baseStage) ++ cfg.cliFlags, in,
    s"${o.work}/cli.csv"))

  def itemsPerSecond(passS: Double): Double =
    ops.size.toDouble / ops.map(_._3).sum

  private val filterMix: IndexedSeq[Int => FilterOptions] = IndexedSeq(
    _ => cfg.cliFilters,
    _ => FilterOptions(statusInclude = Seq(500, 404)),
    _ => FilterOptions(methodInclude = Seq("POST"), requestCount = 2),
    _ => FilterOptions(uriInclude = Seq("api", "login")),
    k => FilterOptions(ipIgnore = Seq(deleteIps(k % deleteIps.size))),
    _ => FilterOptions(riskScore = 40, toolsPresent = false))

  /** Rows whose key hashes into slice k; their status is rewritten, and
    * a quarter of them come back under a new key (inserts). */
  private def mergeSource(cur: DataFrame, k: Int): DataFrame = {
    val pick = cur.filter(pmod(xxhash64(col("row_key")), lit(50L)) === k % 50)
    pick.withColumn("status", lit(299)).unionByName(
      pick.filter(pmod(xxhash64(col("row_key"), lit(7L)), lit(4L)) === 0)
        .withColumn("row_key", concat(lit(s"m$k:"), col("row_key"))))
  }

  private def runOp(spark: SparkSession, op: String, k: Int): Unit = {
    implicit val s: SparkSession = spark
    op match {
      case "stage" =>
        val b = nextBatch
        val dir = f"$in/batch$b%03d"
        require(new File(dir).isDirectory, s"out of input batches at $b")
        batchBytes += Runner.bytesUnder(new File(dir))
        Pipeline.stage(spark, Seq(dir), f"$root/stage/batch$b%03d")
      case "append" =>
        val b = nextBatch
        nextBatch += 1
        writes += ((Append(b), TableLog.append(spark, table, keyed(f"$root/stage/batch$b%03d"))))
      case "delete" =>
        val ip = deleteIps(k % deleteIps.size)
        writes += ((Delete(ip), TableLog.deleteWhereDV(spark, table, col("ip") === ip)))
      case "merge" =>
        writes += ((Merge(k), TableLog.merge(spark, table,
          mergeSource(TableLog.read(spark, table), k), "row_key")))
      case "compact" =>
        TableLog.compactDvs(spark, table)
        writes += ((Compact, TableLog.optimizeZOrder(spark, table, Seq("status", "_row_id"), 4)))
      case "requery" =>
        Runner.digest(Pipeline.runFromStage(spark, baseStage, cfg.config, cfg.rules,
          cfg.shells, filters = filterMix(k % filterMix.size)(k)))
      case "scan" =>
        TableLog.read(spark, table).groupBy("source")
          .agg(count(lit(1)), sum("resp_size")).collect()
      case "time_travel" =>
        val latest = TableLog.latestVersion(spark, table)
        Runner.digest(TableLog.read(spark, table, Some(1L + rnd.nextInt(latest.toInt))))
      case "changes" =>
        val latest = TableLog.latestVersion(spark, table)
        if (latest > 1) Runner.digest(TableLog.changes(spark, table, (latest - 3).max(1L), latest))
      case "sql" =>
        spark.sql(s"SELECT status, count(*) AS n, sum(resp_size) AS bytes FROM " +
          s"tablelog.`$table` WHERE status >= 300 GROUP BY status").collect()
    }
  }

  private val isWrite = Set("stage", "append", "delete", "merge", "compact")

  def unit(spark: SparkSession, i: Int, traced: Boolean): Double = withProbe(spark, traced) {
    // a fixed order: which op precedes which (a compaction before a
    // changes() window, say) sets their cost, so a seeded order would
    // vary the cycle's work from seed to seed
    val slots = Seq("stage", "append", "requery", "scan", "delete", "time_travel",
      "merge", "sql", "compact", "changes")
    val t0 = System.nanoTime()
    val (_, root) = span("log_store.cycle", 0, i) {
      slots.zipWithIndex.foreach { case (op, j) =>
        val k = i * slots.size + j
        val (_, id) = span(s"op.$op", -1, k) { runOp(spark, op, k) }
        if (i > 0) ops += ((op, isWrite(op), trace.spans(id - 1).seconds))
      }
    }
    for (k <- trace.spans.indices if trace.spans(k).parent == -1)
      trace.spans(k) = trace.spans(k).copy(parent = root)
    if (!traced) trace.spans.filterInPlace(_.attrs.nonEmpty) // keep only traced spans
    Runner.secondsSince(t0)
  }

  /** Independent replay of the committed writes on plain DataFrames:
    * append = union, delete = filter, merge = anti-join + union. */
  def check(spark: SparkSession): Unit = {
    implicit val s: SparkSession = spark
    var cur = keyed(baseStage).localCheckpoint()
    val byVersion = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
    val probeAt = writes.filter(_._1.isInstanceOf[Merge]).map(_._2).headOption
      .getOrElse(writes.head._2)
    for (((w, v), n) <- writes.zipWithIndex) {
      cur = w match {
        case Append(b) => cur.unionByName(keyed(f"$root/stage/batch$b%03d"))
        case Delete(ip) => cur.filter(!coalesce(col("ip") === ip, lit(false)))
        case Merge(k) =>
          val src = mergeSource(cur, k).localCheckpoint()
          cur.join(src.select("row_key"), Seq("row_key"), "left_anti").unionByName(src)
        case Compact => cur
      }
      if (n % 4 == 3) cur = cur.localCheckpoint()
      if (v == probeAt) byVersion(v) = Runner.digest(cur)
    }
    val live = Runner.digest(TableLog.read(spark, table))
    val replay = Runner.digest(cur)
    res.check("log_store.replay_final", live == replay,
      s"table $live vs replay $replay after ${writes.size} writes")
    val tt = Runner.digest(TableLog.read(spark, table, Some(probeAt)))
    res.check("log_store.replay_time_travel", byVersion.get(probeAt).contains(tt),
      s"version $probeAt: table $tt vs replay ${byVersion.get(probeAt)}")

    if (new File(s"${o.work}/cli.csv").exists()) {
      val (csv, _) = cfg.renderCsv(Pipeline.runFromStage(spark, baseStage, cfg.config,
        cfg.rules, cfg.shells, filters = cfg.cliFilters))
      java.nio.file.Files.writeString(new File(s"${o.work}/inproc.csv").toPath, csv)
    }

    val snap = TableLog.snapshot(spark, table)
    val dataBytes = snap.files.map(f => new File(TableLog.dataPath(table), f).length()).sum
    val written = Runner.bytesUnder(new File(root)) - storeBytes0
    val reads = ops.filterNot(_._2).map(_._3).toSeq
    val wr = ops.filter(_._2).map(_._3).toSeq
    val (rp, rt) = Runner.tail(reads)
    val (wp, wt) = Runner.tail(wr)
    res.note("tails", s"read tail = p$rp of ${reads.size} reads; write tail = p$wp of ${wr.size} writes")
    val layers = Seq(
      "log_store.read_p50_s" -> Runner.median(reads), "log_store.read_tail_s" -> rt,
      "log_store.write_p50_s" -> Runner.median(wr), "log_store.write_tail_s" -> wt,
      "log_store.stored_bytes_per_row" -> dataBytes.toDouble / live._1,
      "log_store.write_amp" -> written.toDouble / batchBytes,
      "operators.tablelog.files_live" -> snap.files.size.toDouble,
      "operators.tablelog.dv_files" -> snap.dvs.values.flatten.toSet.size.toDouble,
      "operators.tablelog.bytes_written_mb" -> written / 1048576.0)
    layers.foreach { case (k, v) => res.observe(k, v) }
    res.observe("live_rows", live._1)
    if (trace.spans.nonEmpty) {
      layers.foreach { case (k, v) => res.layer(k, v) }
      val names = Seq("stage" -> "sink.stage_write", "requery" -> "query.requery",
        "append" -> "operators.tablelog.append", "delete" -> "operators.tablelog.delete",
        "merge" -> "operators.tablelog.merge", "compact" -> "operators.tablelog.compact",
        "scan" -> "operators.tablelog.scan", "time_travel" -> "operators.tablelog.time_travel",
        "changes" -> "operators.tablelog.changes", "sql" -> "sql.select")
      for ((op, name) <- names) {
        val sp = trace.spans.filter(_.name == s"op.$op").toSeq
        if (sp.nonEmpty) {
          res.layer(s"${name}_s", Runner.median(sp.map(_.seconds)))
          res.layer(s"$name.jobs", sp.map(_.attrs.getOrElse("jobs", 0.0)).sum / sp.size)
        }
      }
      sparkLayersPerOp()
    }
  }

  /** log_store reports the listener counters per op, not per cycle. */
  private def sparkLayersPerOp(): Unit = {
    val sp = trace.spans.filter(_.name.startsWith("op."))
    for (k <- Seq("jobs", "tasks", "task_busy_s", "max_task_s", "driver_gap_s",
        "plan_s", "shuffle_mb", "spill_mb"))
      res.layer(s"spark.$k", sp.map(_.attrs.getOrElse(k, 0.0)).sum / sp.size)
  }
}

object LogStoreWorkload {
  sealed trait Write
  final case class Append(batch: Int) extends Write
  final case class Delete(ip: String) extends Write
  final case class Merge(k: Int) extends Write
  case object Compact extends Write
}
