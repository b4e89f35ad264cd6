package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.cli.Triage
import graft.functions.RiskFeatures
import graft.norm.Normalizer
import graft.operators.{BurstDetector, ToolScanner}
import graft.query.{FilterOptions, Filters}
import graft.rules.{GraftConfig, RuleEngine}
import graft.session.Sessionizer
import graft.sink.Renderer
import graft.sources.LogSources

/** Shared by triage and log_store: the generated config, rules and
  * webshell list, and the filters the Triage CLI derives from
  * `--config config.yaml --risk-score 70`. */
final class TriageConfig(dir: String) {
  val config: GraftConfig = GraftConfig.load(s"$dir/config.yaml")
    .copy(rulesPath = s"$dir/rules.yaml", webshellPath = s"$dir/shells.txt")
  val rules: Seq[RuleEngine.SigmaRule] = RuleEngine.loadRules(config.rulesPath)
  val shells: Set[String] = GraftConfig.loadWebshells(config.webshellPath)
  val cliFilters: FilterOptions = FilterOptions(riskScore = 70).copy(
    extensionIgnore = config.ignoreExtensions, ipIgnore = config.ignoreIp)
  val cliFlags: Seq[String] = Seq("--config", "config.yaml", "--risk-score", "70", "--csv")

  /** The CLI's default bounded collect and CSV rendering. */
  def renderCsv(out: DataFrame): (String, Int) = {
    val limit = Triage.Args.DefaultLimit
    val rows = Renderer.withMethodPath(out).limit(limit + 1).collect().toSeq
    require(rows.size <= limit, s"output exceeds the CLI's $limit-row display bound")
    (Renderer.renderCsv(rows), rows.size)
  }
}

/** Batch triage: the paper's text-to-report path over a seeded raw-log
  * corpus, as the shipped CLI (fresh JVM) and as warm in-process passes
  * through the pipeline's public functions. */
final class TriageWorkload(o: Runner.Opts, r: Result) extends Workload(o, r) {
  private val paths = Seq(s"$in/logs", s"$in/splunk_export.csv")
  private var cfg: TriageConfig = _
  private var lastCsv = ""
  private var digestChecked = false
  /** The last traced pass's materialized output of each span. */
  private val spanOut = scala.collection.mutable.HashMap.empty[String, DataFrame]
  private lazy val rawLines: Long = {
    val logs = new java.io.File(s"$in/logs").listFiles().toSeq
    val csvRows = scala.io.Source.fromFile(s"$in/splunk_export.csv")
    try logs.map(f => java.nio.file.Files.lines(f.toPath).count()).sum +
      csvRows.getLines().size - 1
    finally csvRows.close()
  }

  def setup(spark: SparkSession, rep: Int): Unit = cfg = new TriageConfig(in)

  def minUnits: Int = 2
  /** A set-up is only a session build here, ~0.2 s: more of them steady the median. */
  override def setupReps: Int = 7

  override def cli(spark: SparkSession): Unit = {
    val args = Seq("graft.cli.Triage", "--path", "logs", "--path", "splunk_export.csv") ++ cfg.cliFlags
    res.layer("cli.triage_s", Runner.runCli(o.cliPrefix, args, in, s"${o.work}/cli.csv"))
  }

  def itemsPerSecond(passS: Double): Double = rawLines / passS

  def unit(spark: SparkSession, i: Int, traced: Boolean): Double =
    if (!traced) {
      val (csv, s) = Runner.time {
        val parsed = LogSources.parseLogs(spark, paths)
        val norm = Pipeline.normalize(parsed.parsed)
        val scored = Pipeline.score(norm, cfg.config, cfg.rules, cfg.shells)
        cfg.renderCsv(Filters(scored, cfg.cliFilters, col("_row_id")))._1
      }
      lastCsv = csv
      s
    } else withProbe(spark, traced) { tracedPass(spark, i) }

  /** The same composition as Pipeline.normalize + score, one public call
    * per span. Each span materializes its output (localCheckpoint), so
    * the next span starts from a forced input and a span's time is its
    * self time. */
  private def tracedPass(spark: SparkSession, i: Int): Double = {
    val t0 = System.nanoTime()
    val (_, root) = span("triage.pass", 0, i) {
      def stage(name: String)(df: => DataFrame): DataFrame = {
        val out = span(name, -1, i) { df.localCheckpoint() }._1
        spanOut(name) = out
        out
      }
      val parsed = LogSources.parseLogs(spark, paths)
      val p = stage("sources.parse")(parsed.parsed)
      val d = stage("norm.dedup")(Normalizer.removeDuplicates(
        p.withColumn("_row_id", monotonically_increasing_id()), col("_row_id")))
      val u = stage("norm.utc")(Normalizer.withUtcTimestamp(d))
      val c = stage("session.cluster")(Sessionizer.withClusters(u))
      val rc = stage("session.request_count")(Sessionizer.withRequestCount(c))
      val f = stage("functions.risk")(rc
        .withColumn("uri_risk", RiskFeatures.uriRisk(col("request_uri"),
          cfg.config.sensitivePaths, cfg.config.riskyExtensionPatterns, cfg.shells))
        .withColumn("method_risk", RiskFeatures.methodRisk(col("method")))
        .withColumn("status_risk", RiskFeatures.statusRisk(col("status"))))
      val opts = Pipeline.Options()
      val ru = stage("rules.engine")(RuleEngine(f, cfg.rules))
      val b = stage("operators.burst")(BurstDetector(ru,
        opts.burstRiskScore, opts.burstMinRequests, opts.burstMaxGapSeconds))
      val t = stage("operators.tool")(ToolScanner(b, cfg.config.toolSignatures))
      val out = stage("query.filters")(Filters(t, cfg.cliFilters, col("_row_id")))
      span("sink.render", -1, i) { cfg.renderCsv(out) }

      if (!digestChecked) {
        digestChecked = true
        val composed = Runner.digest(out)
        val shipped = Runner.digest(Pipeline.run(spark, paths, cfg.config, cfg.rules,
          cfg.shells, filters = cfg.cliFilters))
        res.check("triage.traced_digest", composed == shipped,
          s"traced composition $composed vs Pipeline.run $shipped")
      }
    }
    // children were added before their parent: point them at it
    for (k <- trace.spans.indices if trace.spans(k).parent == -1 && trace.spans(k).unit == i)
      trace.spans(k) = trace.spans(k).copy(parent = root)
    Runner.secondsSince(t0)
  }

  def check(spark: SparkSession): Unit = {
    java.nio.file.Files.writeString(new java.io.File(s"${o.work}/inproc.csv").toPath, lastCsv)
    val parsed = LogSources.parseLogs(spark, paths)
    val p = parsed.parsed.cache()
    val nParsed = p.count()
    val nErr = parsed.errors.count()
    p.groupBy("format").count().collect().foreach(row =>
      res.observe(s"format.${row.getString(0)}", row.getLong(1)))
    res.observe("parsed_lines", nParsed)
    res.observe("error_lines", nErr)
    val hot = scala.io.Source.fromFile(s"$in/truth.json")
    val hotIp = try "\"hot_ip\": \"([^\"]*)\"".r.findFirstMatchIn(hot.mkString).map(_.group(1)).get
      finally hot.close()
    res.observe("hot_ip_lines", p.filter(col("ip") === hotIp).count())
    val dropped = nParsed - Normalizer.removeDuplicates(
      p.withColumn("_row_id", monotonically_increasing_id()), col("_row_id")).count()
    res.observe("dedup_dropped", dropped)
    if (trace.spans.nonEmpty) {
      val tr = trace.spans.filter(_.name.contains("."))
      def self(n: String, k: String) = {
        val sp = tr.filter(_.name == n).toSeq
        Runner.median(sp.map(s => if (k == "self_s") s.seconds else s.attrs.getOrElse(k, 0.0)))
      }
      for (n <- Seq("sources.parse", "norm.dedup", "norm.utc", "session.cluster",
          "session.request_count", "functions.risk", "rules.engine", "operators.burst",
          "operators.tool", "query.filters", "sink.render")) {
        res.layer(s"${n}_s", self(n, "self_s"))
        res.layer(s"$n.jobs", self(n, "jobs"))
      }
      res.layer("session.max_task_s", self("session.cluster", "max_task_s"))
      res.layer("sources.parsed_ratio", nParsed.toDouble / (nParsed + nErr))
      res.layer("sources.error_lines", nErr.toDouble)
      res.layer("norm.dedup_dropped", dropped.toDouble)
      res.layer("session.clusters",
        spanOut("session.request_count").select("cluster").distinct().count().toDouble)
      res.layer("rules.hit_rows",
        spanOut("rules.engine").filter(col("rule_applied") =!= "").count().toDouble)
      res.layer("operators.burst_rows", spanOut("operators.tool")
        .filter(col("rule_applied") === BurstDetector.RuleTitle).count().toDouble)
      res.layer("operators.tool_rows",
        spanOut("operators.tool").filter(col("tool") =!= "").count().toDouble)
      res.layer("query.rows_out", (lastCsv.count(_ == '\n') - 1).toDouble)
      sparkLayers("triage.pass")
    }
    p.unpersist()
  }
}
