package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.operators.Dedup

/** Batch near-duplicate removal over a seeded replicate-and-perturb corpus
  * (gen.py): three ops, run round-robin until the run's seconds are used.
  *
  *  - text:     Dedup.ngramJaccard → Dedup.connectedComponents → keep the
  *              min-id document of each component
  *  - embed:    Dedup.embeddingNearDupBucketed → Dedup.connectedComponents
  *  - semantic: Dedup.semanticDedupLloyd
  *
  * The operators run with the parameters of the registered queries d04,
  * d07/d06 and d15, so their outputs are checked against those queries'
  * DuckDB oracles on the generated corpus (d06's closure through the
  * checked d07 pairs, which is cheaper than its recursive oracle).
  */
final class DedupWorkload(run: Run) extends Workload {
  private val spark = run.spark
  private val corpus = s"${run.a.work}/dedup"
  private val out = s"${run.a.work}/dedup_out"
  private val dump = s"${run.a.work}/dedup_dump"
  /** A small corpus of the same shape (gen.py) for the warm-up. */
  private val WarmSuffix = "_warm"

  private lazy val docs = Tables.documents(spark, corpus)
  private lazy val emb = Tables.embeddings(spark, corpus)
  private lazy val warmDocs = Tables.documents(spark, s"$corpus$WarmSuffix")
  private lazy val warmEmb = Tables.embeddings(spark, s"$corpus$WarmSuffix")
  private lazy val nDocs = docs.count()
  private lazy val nVecs = emb.count()

  /** Per traced op: step name → ms. */
  private val steps = mutable.HashMap.empty[String, mutable.LinkedHashMap[String, Double]]
  /** Per traced text op: (pairs out, candidate-join rows out). */
  private val pairCounts = mutable.HashMap.empty[String, (Long, Long)]
  private var lastTextPairs: DataFrame = _
  private var lastEmbedPairs: DataFrame = _

  private def step[T](times: mutable.LinkedHashMap[String, Double], name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = run.span(name)(body)
    times(name) = (System.nanoTime() - t0) / 1e6
    r
  }

  /** Rows out of the candidate join: the largest join output in the
    * AQE-final plan, read from its SQL metrics after the action. */
  private object Plans extends AdaptiveSparkPlanHelper {
    def candidateRows(plan: SparkPlan): Long =
      (0L +: collect(plan) { case j: BaseJoinExec => j }
        .flatMap(_.metrics.get("numOutputRows").map(_.value))).max
  }

  private def text(docs: DataFrame, dst: String,
      times: mutable.LinkedHashMap[String, Double]): (DataFrame, Long) = {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", minJaccard = 0.5)
    val raw = step(times, "Dedup.ngramJaccard")(pairs.localCheckpoint(true))
    val cand = Plans.candidateRows(pairs.queryExecution.executedPlan)
    val cc = step(times, "Dedup.connectedComponents")(Dedup.connectedComponents(raw, "a", "b"))
    val dropped = cc.where(col("node_id") =!= col("cluster_id")).select(col("node_id").as("doc_id"))
    step(times, "keep.write")(docs.select("doc_id").join(dropped, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(dst))
    (raw, cand)
  }

  private def embed(emb: DataFrame, dst: String, times: mutable.LinkedHashMap[String, Double]): DataFrame = {
    val pairs = step(times, "Dedup.embeddingNearDupBucketed")(Dedup.embeddingNearDupBucketed(
      emb, "vec_id", "embedding", minCosine = 0.35, dim = 64).localCheckpoint(true))
    val cc = step(times, "Dedup.connectedComponents")(Dedup.connectedComponents(pairs, "a", "b"))
    step(times, "clusters.write")(cc.select(col("node_id").as("vec_id"), col("cluster_id"))
      .write.mode("overwrite").parquet(dst))
    pairs
  }

  private def semantic(emb: DataFrame, dst: String, times: mutable.LinkedHashMap[String, Double]): Unit =
    step(times, "Dedup.semanticDedupLloyd")(
      Dedup.semanticDedupLloyd(emb, "vec_id", "embedding", eps = 0.35)
        .write.mode("overwrite").parquet(dst))

  def setup(): Unit = {
    val t = mutable.LinkedHashMap.empty[String, Double]
    run.warm(s"load $nDocs docs, $nVecs vecs")(())
    run.warm("text")(text(warmDocs, s"$out/warm_text", t))
    run.warm("embed")(embed(warmEmb, s"$out/warm_embed", t))
    run.warm("semantic")(semantic(warmEmb, s"$out/warm_semantic", t))
  }

  private def record(times: mutable.LinkedHashMap[String, Double]): Unit =
    if (run.ops.last.ok) Option(run.ops.last.group).foreach(g => steps(g) = times)

  /** Two rounds at least: a median needs more than one sample of each op,
    * and a traced run a traced and an untraced one. */
  def measure(): Unit = {
    var i = 0
    while (i < 2 || run.timeLeft) { round(); i += 1 }
  }

  /** One timed execution of each op. */
  def round(): Unit = {
    val t1 = mutable.LinkedHashMap.empty[String, Double]
    var res: (DataFrame, Long) = null
    run.timed("text") { res = text(docs, s"$out/text_keep", t1) }
    record(t1)
    if (res != null) {
      lastTextPairs = res._1
      Option(run.ops.last.group).foreach(g => pairCounts(g) = (res._1.count(), res._2))
    }
    val t2 = mutable.LinkedHashMap.empty[String, Double]
    run.timed("embed") { lastEmbedPairs = embed(emb, s"$out/embed_clusters", t2) }
    record(t2)
    val t3 = mutable.LinkedHashMap.empty[String, Double]
    run.timed("semantic")(semantic(emb, s"$out/semantic", t3))
    record(t3)
  }

  val latencyKinds: String => Boolean = Set("text", "embed", "semantic")

  def suiteS(ops: Seq[OpRec]): Double =
    Seq("text", "embed", "semantic").map(k => medianMs(ops, k)).sum / 1000.0

  def itemsPerS(ops: Seq[OpRec]): Double = (nDocs + 2 * nVecs) / suiteS(ops)

  def workloadMetrics(ops: Seq[OpRec]): ListMap[String, Double] = ListMap(
    "error_rate" -> errorRate(ops),
    "dedup.text_docs_per_s" -> nDocs / (medianMs(ops, "text") / 1000.0),
    "dedup.embed_vecs_per_s" -> nVecs / (medianMs(ops, "embed") / 1000.0))

  def layerMetrics(p: Probe, traced: Seq[OpRec]): ListMap[String, Double] = {
    val ok = traced.filter(o => o.ok && o.group != null)
    def stepMs(kind: String, name: String): Seq[Double] =
      ok.filter(_.kind == kind).flatMap(o => steps.get(o.group).flatMap(_.get(name)))
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val textOps = ok.filter(_.kind == "text")
    val counts = textOps.flatMap(o => pairCounts.get(o.group))
    val ccOps = ok.filter(o => o.kind == "text" || o.kind == "embed")
    ListMap(
      "dedup.pairs_ms" -> med(stepMs("text", "Dedup.ngramJaccard")),
      "dedup.pairs_out" -> med(counts.map(_._1.toDouble)),
      "dedup.pairs_kept_ratio" -> med(counts.filter(_._2 > 0).map { case (k, c) => k.toDouble / c }),
      "dedup.cc_ms" -> med(stepMs("text", "Dedup.connectedComponents") ++
        stepMs("embed", "Dedup.connectedComponents")),
      "dedup.cc_jobs" -> med(ccOps.map(o => run.opStats(p, o, Some("Dedup.connectedComponents")).jobs.toDouble)),
      "dedup.embed_pairs_ms" -> med(stepMs("embed", "Dedup.embeddingNearDupBucketed")),
      "dedup.semantic_ms" -> med(stepMs("semantic", "Dedup.semanticDedupLloyd")))
  }

  def describe(): ListMap[String, Any] = ListMap("docs" -> nDocs, "vecs" -> nVecs)

  /** Outputs of the last round, one parquet file each: the pairs and the
    * Lloyd output under their registered query's name, next to the oracle
    * SQL the comparison tool reads; the clusters and the kept set are
    * checked against the pairs (run.py). */
  def checkData(): ListMap[String, Any] = {
    def one(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
    one(lastTextPairs, "d04_ngram_jaccard")
    one(lastEmbedPairs, "d07_embed_neardup_lsh")
    one(spark.read.parquet(s"$out/embed_clusters"), "embed_clusters")
    one(spark.read.parquet(s"$out/semantic"), "d15_semantic_dedup_lloyd")
    one(spark.read.parquet(s"$out/text_keep"), "text_keep")
    val oracles = SparkEntry.oracleSqlFor(false)
    val withOracle = Seq("d04_ngram_jaccard", "d07_embed_neardup_lsh", "d15_semantic_dedup_lloyd")
    Files.writeString(Paths.get(dump, "oracle_sql.json"),
      Json.of(ListMap(withOracle.map(n => n -> oracles(n)): _*)) + "\n")
    ListMap("dump_dir" -> dump, "corpus_dir" -> corpus,
      "oracle_checked" -> Seq("d07_embed_neardup_lsh", "d15_semantic_dedup_lloyd"))
  }
}
