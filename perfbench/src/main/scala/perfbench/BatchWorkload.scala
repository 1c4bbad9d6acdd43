package perfbench

import scala.collection.immutable.ListMap

/** The dedup and queries workloads in one process: one set-up, then rounds
  * of every dedup op followed by one pass over the query set, two rounds at
  * least. Sharing the JVM, the session and the warm-up is what lets both run
  * every time within the benchmark's budget; each keeps its own inputs,
  * checks and per-layer metrics.
  */
final class BatchWorkload(run: Run) extends Workload {
  private val dedup = new DedupWorkload(run)
  private val queries = new QueriesWorkload(run)

  def setup(): Unit = { dedup.setup(); queries.setup() }

  def measure(): Unit = {
    var i = 0
    while (i < 2 || run.timeLeft) { dedup.round(); queries.pass(); i += 1 }
  }

  /** Query latencies only: mixed with the few, slower dedup ops a
    * percentile would jump between the two groups from run to run. */
  val latencyKinds: String => Boolean = queries.latencyKinds

  def suiteS(ops: Seq[OpRec]): Double = dedup.suiteS(ops) + queries.suiteS(ops)

  /** The dedup pipeline's corpus items per second. */
  def itemsPerS(ops: Seq[OpRec]): Double = dedup.itemsPerS(ops)

  def workloadMetrics(ops: Seq[OpRec]): ListMap[String, Double] =
    dedup.workloadMetrics(ops) ++ queries.workloadMetrics(ops) ++ ListMap("error_rate" -> errorRate(ops))

  def layerMetrics(p: Probe, traced: Seq[OpRec]): ListMap[String, Double] =
    dedup.layerMetrics(p, traced) ++ queries.layerMetrics(p, traced)

  def describe(): ListMap[String, Any] = dedup.describe() ++ queries.describe()

  def checkData(): ListMap[String, Any] = dedup.checkData() ++ queries.checkData()
}
