package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.textops.LangClassifier
import graft.vector.{GraphAnn, Ivf}

/** Passes over fixed documents/embeddings tables, each forcing the
  * registry queries whose first call builds a memoized model or index.
  * Every pass's per-query digest must equal the digest of the same
  * query's output as dumped by the shipped graft.Verify main and checked
  * against the DuckDB oracles when the benchmark was built.
  *
  * Runs as its own workload, and as a section of traced triage runs
  * ([[section]]) so that its layers are measured on a workload the
  * benchmark's run budget can afford. */
final class CurationWorkload(o: Runner.Opts, r: Result) extends Workload(o, r) {
  def minUnits: Int = 2
  private val data = s"${o.cert}/data"
  private val dump = s"${o.cert}/verify"
  private val registry = SparkEntry.queries
  private val seen = scala.collection.mutable.HashMap.empty[String, Set[(Long, Long)]]
  private var docs = 0L

  def setup(spark: SparkSession, rep: Int): Unit = {
    val missing = CurationWorkload.Queries.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(", ")}")
    docs = spark.read.parquet(s"$data/documents.parquet").count()
  }

  def itemsPerSecond(passS: Double): Double = docs / passS

  def unit(spark: SparkSession, i: Int, traced: Boolean): Double = withProbe(spark, traced) {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val (_, root) = span("curation.pass", 0, i) {
      for (q <- CurationWorkload.Queries) {
        val (d, _) = span(s"registry.$q", -1, i) { Runner.digest(registry(q)(spark, data)) }
        seen(q) = seen.getOrElse(q, Set.empty) + d
      }
    }
    for (k <- trace.spans.indices if trace.spans(k).parent == -1)
      trace.spans(k) = trace.spans(k).copy(parent = root)
    if (!traced) trace.spans.filterInPlace(_.attrs.nonEmpty)
    Runner.secondsSince(t0)
  }

  /** The traced-triage section: a cold pass, then one traced and one
    * untraced pass, reported as per-layer metrics. */
  def section(spark: SparkSession): Unit = {
    setup(spark, 0)
    res.layer("registry.curation_cold_s", unit(spark, 0, traced = false))
    unit(spark, 1, traced = true)
    res.layer("registry.curation_pass_s", unit(spark, 2, traced = false))
    check(spark)
    trace.write(s"${o.work}/spans_curation.jsonl")
  }

  def check(spark: SparkSession): Unit = {
    for (q <- CurationWorkload.Queries) {
      val cert = Runner.digest(spark.read.parquet(s"$dump/$q"))
      val got = seen.getOrElse(q, Set.empty)
      res.check(s"curation.$q", got == Set(cert),
        s"pass digests $got vs oracle-checked Verify dump $cert")
    }
    if (trace.spans.nonEmpty) {
      for (q <- CurationWorkload.Queries) {
        val sp = trace.spans.filter(_.name == s"registry.$q").toSeq
        res.layer(s"registry.$q.self_s", Runner.median(sp.map(_.seconds)))
        res.layer(s"registry.$q.jobs", sp.map(_.attrs.getOrElse("jobs", 0.0)).sum / sp.size)
        res.layer(s"registry.$q.driver_gap_s",
          Runner.median(sp.map(_.attrs.getOrElse("driver_gap_s", 0.0))))
      }
      if (o.workload == "curation") sparkLayers("curation.pass")
      builds(spark)
    }
  }

  /** The three model/index builds the queries memoize per process, timed
    * as direct calls of their public functions on this input. */
  private def builds(spark: SparkSession): Unit = {
    val labeled = spark.read.parquet(s"$data/documents.parquet")
      .filter(col("doc_id") % 7 < 5 && col("doc_id") < 700)
      .select(col("doc_id"), col("text"), col("lang").as("label"))
    res.layer("textops.lang_train_s",
      Runner.time(LangClassifier.train(labeled, "text", "label", "doc_id"))._2)
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
    val (centroids, fitS) = Runner.time(Ivf.fitCentroids(emb, "embedding", 16))
    res.layer("vector.ivf_fit_s", fitS)
    res.layer("vector.graph_ann_build_s", Runner.time {
      val (edges, nodes) = GraphAnn.build(emb, "vec_id", "embedding", centroids)
      Runner.digest(edges)
      Runner.digest(nodes)
    }._2)
  }
}

object CurationWorkload {
  /** Kept in step with build.py's CURATION_QUERIES. */
  val Queries: Seq[String] = Seq("q78_semdedup", "q133_ann_graph", "q135_lang_classifier")
}
