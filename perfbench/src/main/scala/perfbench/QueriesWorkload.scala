package perfbench

import java.security.MessageDigest

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.{Bench, SparkEntry}

/** Read-only registered queries from `graft.Bench.headline`, run through
  * `SparkEntry.queries` into the noop sink, in a seed-permuted order per
  * pass, over the committed sf0.01 fixture. Overhead-bound: most queries
  * take well under a second, so planning, job count and codegen dominate.
  *
  * The set is a fixed subset of the headline list that fits a run: the
  * queries the roadmap names (s03, s10, s12, q52, t12 of the rank family,
  * d07, d13) and a multimodal query, so every family has a member. d06 is
  * the dedup workload's embed op on its own corpus, and the sync family's
  * q01/q02 are the sync workload's merge, so neither is repeated here.
  */
final class QueriesWorkload(run: Run) extends Workload {
  private val spark = run.spark
  private val dir = run.a.fixture

  val names: Seq[String] = QueriesWorkload.Subset
  private lazy val qs = SparkEntry.queries
  private val digests = mutable.LinkedHashMap.empty[String, String]

  private def exec(n: String): Unit =
    qs(n)(spark, dir).write.format("noop").mode("overwrite").save()

  /** The warm-up runs every query once and keeps an order-independent
    * digest of its output for the check. */
  def setup(): Unit = {
    val missing = names.filterNot(n => Bench.headline.contains(n) && qs.contains(n))
    require(missing.isEmpty, s"not registered headline queries: ${missing.mkString(",")}")
    names.foreach { n =>
      run.warm(n)(digests(n) = QueriesWorkload.digest(qs(n)(spark, dir).collect()))
    }
  }

  private val rng = new scala.util.Random(run.a.seed)

  /** Every query runs at least once; a traced run needs a traced and an
    * untraced sample of each, so at least two passes. */
  def measure(): Unit = {
    val minPasses = if (run.a.trace) 2 else 1
    var i = 0
    while (i < minPasses || run.timeLeft) { pass(); i += 1 }
  }

  /** Every query once, in a seed-permuted order. */
  def pass(): Unit =
    rng.shuffle(names).foreach(n => run.timed(s"query:$n")(run.span("SparkEntry.queries")(exec(n))))

  val latencyKinds: String => Boolean = _.startsWith("query:")

  private def medians(ops: Seq[OpRec]): Seq[(String, Double)] =
    names.map(n => n -> medianMs(ops, s"query:$n"))

  def suiteS(ops: Seq[OpRec]): Double = medians(ops).map(_._2).sum / 1000.0

  def itemsPerS(ops: Seq[OpRec]): Double = names.length / suiteS(ops)

  def workloadMetrics(ops: Seq[OpRec]): ListMap[String, Double] = {
    val lat = ops.filter(o => latencyKinds(o.kind)).map(_.ms)
    ListMap(
      "error_rate" -> errorRate(ops),
      "queries.suite_s" -> Stats.capped(suiteS(ops)),
      "queries.p50_ms" -> Stats.capped(Stats.pct(lat, 0.5)),
      "queries.p90_ms" -> Stats.capped(Stats.pct(lat, 0.9)))
  }

  def layerMetrics(p: Probe, traced: Seq[OpRec]): ListMap[String, Double] = {
    val med = medians(traced.filter(_.ok)).filterNot(_._2.isInfinite)
    val fam = Metrics.families.map { f =>
      s"queries.family.${f}_s" -> med.filter(_._1.startsWith(f)).map(_._2).sum / 1000.0
    }
    val named = Metrics.namedQueries.map { q =>
      s"queries.q.${q}_ms" -> med.find(_._1.startsWith(q + "_")).map(_._2).getOrElse(0.0)
    }
    ListMap(fam ++ named: _*)
  }

  def describe(): ListMap[String, Any] = ListMap("dir" -> "perfbench/data/sf0.01",
    "median_ms" -> ListMap(medians(run.ops.toSeq).map { case (n, ms) => n -> Stats.capped(ms) }: _*))

  def checkData(): ListMap[String, Any] = ListMap("digests" -> digests)
}

object QueriesWorkload {
  val Subset: Seq[String] = Seq(
    "q52_pagerank", "d07_embed_neardup_lsh", "d13_semantic_dedup_trained",
    "s03_ann_ivf", "s10_ivfpq", "s12_ann_ivf_trained",
    "m01_multimodal", "t12_sequence_pack")

  /** Canonical text of a value: floating point to 10 significant digits,
    * so a last-bit difference in a reordered sum does not change it. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(10)).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Row count and the sum (mod 2^64) of each row's MD5 prefix. */
  def digest(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val h = MessageDigest.getInstance("MD5").digest(canon(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    f"${rows.length}:$sum%016x"
  }
}
