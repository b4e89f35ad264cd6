package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM: set up three times, run the workload's
  * first unit (cold), then warm units until the measured time is spent,
  * then check the outputs. A unit is one pass (triage, curation) or one
  * op cycle (log_store). With tracing, warm units alternate between
  * traced and untraced so the run also yields the tracing overhead.
  *
  * Results go to a JSON file that `run.py` turns into the benchmark's
  * output line.
  */
object Runner {

  /** The in-process session every workload runs with (the Triage CLI
    * subprocess runs with its own confs). Mirrors graft.Bench's session
    * on 4 local cores, plus the tablelog SQL catalog. */
  def confs(work: String): Seq[(String, String)] = Seq(
    "spark.master" -> "local[4]",
    "spark.app.name" -> "perfbench",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.hadoop.fs.file.impl" -> "graft.util.NoForkLocalFileSystem",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.catalog.tablelog" -> "graft.sql.TableLogCatalog",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local")

  final case class Opts(workload: String, seed: Long, work: String, seconds: Double,
      trace: Boolean, out: String, cliPrefix: Seq[String], cert: String)

  private def parse(args: List[String], o: Opts): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--cli-prefix" :: v :: t => parse(t, o.copy(cliPrefix =
      java.nio.file.Files.readAllLines(new File(v).toPath).asScala.toSeq.filter(_.nonEmpty)))
    case "--cert" :: v :: t => parse(t, o.copy(cert = v))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def session(work: String): SparkSession = {
    val b = confs(work).foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Forces full evaluation like graft.Bench.force (a hash over every
    * column, so no column is pruned) and returns (row count, xor of row
    * hashes): an order-independent digest of the frame's content. */
  def digest(df: DataFrame): (Long, Long) = {
    val h = xxhash64(struct(df.columns.sorted.toIndexedSeq.map(c => col(s"`$c`")): _*))
    val r = df.select(h.as("_h")).agg(count(lit(1)), expr("bit_xor(_h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p50..p99 with at least ten samples beyond it
    * (p50 when there are fewer than 20 samples), and its value. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val p = Seq(99, 95, 90, 75, 50).find(p => s.size * (100 - p) / 100.0 >= 10).getOrElse(50)
    (p, s(math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1).max(0)))
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Progress to stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] +${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs $msg")

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, secondsSince(t0))
  }

  /** Old-generation occupancy right after a full collection, in MB. The
    * second collection runs after Spark's cleaner thread has had a moment
    * to drop what the first one released (broadcasts, shuffle state). */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()

  /** Runs a shipped main as a fresh JVM, stdout to `outFile`; returns
    * the wall seconds. A non-zero exit fails the run. */
  def runCli(prefix: Seq[String], mainArgs: Seq[String], cwd: String,
      outFile: String): Double = {
    val pb = new ProcessBuilder((prefix ++ mainArgs).asJava)
      .directory(new File(cwd))
      .redirectOutput(new File(outFile))
      .redirectError(new File(outFile + ".stderr"))
    pb.environment().keySet().removeIf(k => k.startsWith("SPARK_GRAFT_"))
    val t0 = System.nanoTime()
    val p = pb.start()
    val rc = p.waitFor()
    val s = secondsSince(t0)
    require(rc == 0, s"CLI exited with $rc: ${mainArgs.mkString(" ")} (see $outFile.stderr)")
    s
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList, Opts("", 0L, "", 10, trace = false, "", Nil, ""))
    require(o.workload.nonEmpty && o.work.nonEmpty && o.out.nonEmpty,
      "--workload, --work and --out are required")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val res = new Result
    val wl: Workload = o.workload match {
      case "triage" => new TriageWorkload(o, res)
      case "log_store" => new LogStoreWorkload(o, res)
      case "curation" => new CurationWorkload(o, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    res.note("confs", confs(o.work).map { case (k, v) => s"$k=$v" }.mkString(" "))

    // set-up, repeated; the first includes JVM start
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until wl.setupReps) {
      val t0 = System.nanoTime()
      if (spark != null) stop(spark)
      spark = session(o.work)
      wl.setup(spark, rep)
      setups += (if (rep == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else secondsSince(t0))
      log(f"setup $rep%d ${setups.last}%.3f s")
    }
    res.metric("setup_s", median(setups.toSeq))

    var heapMb = oldGenAfterGcMb()

    var attempted = 0
    var failed = 0
    def unit(i: Int, traced: Boolean): Option[Double] = {
      attempted += 1
      try {
        val s = wl.unit(spark, i, traced)
        log(f"unit $i%d traced=$traced%s $s%.3f s")
        Some(s)
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] unit $i failed:")
        e.printStackTrace()
        None
      } finally heapMb = math.max(heapMb, oldGenAfterGcMb())
    }

    val cold = unit(0, traced = false)
    val untraced = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val loop0 = System.nanoTime()
    var i = 1
    // a traced run needs one unit of each kind; an untraced run measures
    // for the run's seconds and at least the workload's minimum units
    def enough = secondsSince(loop0) >= o.seconds &&
      (if (o.trace) traced.nonEmpty && untraced.nonEmpty else untraced.size >= wl.minUnits)
    while (!enough) {
      val tr = o.trace && i % 2 == 1
      unit(i, tr).foreach(s => if (tr) traced += s else untraced += s)
      i += 1
      require(i < 10000, "runaway loop")
    }

    cold.foreach(c => res.metric("cold_s", c))
    if (untraced.nonEmpty) {
      val pass = median(untraced.toSeq)
      res.metric("pass_s", pass)
      res.metric("items_per_s", wl.itemsPerSecond(pass))
    }
    res.metric("heap_peak_mb", heapMb)
    res.note("units", s"cold=1 warm_untraced=${untraced.size} warm_traced=${traced.size}")
    if (o.trace && traced.nonEmpty && untraced.nonEmpty)
      res.layer("trace.overhead_s", median(traced.toSeq) - median(untraced.toSeq))

    if (o.trace) wl.cli(spark)
    log("checks")
    wl.check(spark)
    if (o.trace && o.workload == "triage") new CurationWorkload(o, res).section(spark)
    log("checks done")
    wl.finish(spark, o.trace)
    res.attempted = attempted
    res.failed = failed
    stop(spark)
    res.write(o.out)
  }
}

/** What a run reports: metrics, per-layer values, observed counts for
  * the checks, pass/fail of each check and free-form notes. */
final class Result {
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val observed = scala.collection.mutable.LinkedHashMap.empty[String, String]
  val checks = scala.collection.mutable.LinkedHashMap.empty[String, (Boolean, String)]
  val notes = scala.collection.mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var failed = 0

  def metric(name: String, v: Double): Unit = metrics(name) = v
  def layer(name: String, v: Double): Unit = layers(name) = v
  def observe(name: String, v: Any): Unit = observed(name) = v.toString
  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks(name) = (ok, detail)
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }
  def note(name: String, v: String): Unit = notes(name) = v

  def write(path: String): Unit = {
    def obj[V](m: Iterable[(String, V)])(f: V => String): String =
      m.map { case (k, v) => s"${Json.str(k)}: ${f(v)}" }.mkString("{", ", ", "}")
    val s = Seq(
      s""""metrics": ${obj(metrics)(Json.num)}""",
      s""""per_layer": ${obj(layers)(Json.num)}""",
      s""""observed": ${obj(observed)(Json.str)}""",
      s""""checks": ${obj(checks) { case (ok, d) => s"""{"ok": $ok, "detail": ${Json.str(d)}}""" }}""",
      s""""notes": ${obj(notes)(Json.str)}""",
      s""""attempted": $attempted""", s""""failed": $failed""")
    java.nio.file.Files.writeString(new File(path).toPath, s.mkString("{", ",\n", "}\n"))
  }
}

/** A workload: its set-up, its unit of work, its checks. */
abstract class Workload(val o: Runner.Opts, val res: Result) {
  val in: String = s"${o.work}/input"
  val trace = new Trace
  var probe: Probe = _
  def minUnits: Int
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int = 3
  def setup(spark: SparkSession, rep: Int): Unit
  /** Traced runs only: the shipped CLI as a fresh JVM, timed as a layer. */
  def cli(spark: SparkSession): Unit = ()
  def unit(spark: SparkSession, i: Int, traced: Boolean): Double
  def itemsPerSecond(passS: Double): Double
  def check(spark: SparkSession): Unit

  /** Runs `f` as a span under `parent`; with a probe attached the span
    * carries the listener counters of the work inside it. */
  def span[A](name: String, parent: Int, unitId: Int)(f: => A): (A, Int) = {
    val m0 = if (probe != null) probe.mark() else null
    val t0 = System.nanoTime()
    val a = f
    val t1 = System.nanoTime()
    val attrs = if (probe != null) probe.between(m0, probe.mark()) else Map.empty[String, Double]
    (a, trace.add(name, parent, unitId, t0, t1, attrs))
  }

  def withProbe[A](spark: SparkSession, traced: Boolean)(f: => A): A =
    if (!traced) f
    else {
      probe = new Probe(spark)
      probe.attach()
      try f finally { probe.detach(); probe = null }
    }

  /** Per-unit averages of the listener counters over the traced units. */
  def sparkLayers(unitSpan: String): Unit = {
    val us = trace.spans.filter(_.name == unitSpan)
    if (us.nonEmpty)
      for (k <- Seq("jobs", "tasks", "task_busy_s", "max_task_s", "driver_gap_s",
          "plan_s", "shuffle_mb", "spill_mb"))
        res.layer(s"spark.$k", us.map(_.attrs.getOrElse(k, 0.0)).sum / us.size)
  }

  def finish(spark: SparkSession, traced: Boolean): Unit =
    if (traced) trace.write(s"${o.work}/spans.jsonl")
}
