package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark's JVM side: runs one workload against inputs generated
  * beforehand (see gen.py), times the library's public calls from outside,
  * and writes a result file that run.py checks and prints.
  *
  * Usage: perfbench.Main --workload sync|dedup|queries --seed N --seconds S
  *   --trace 0|1 --t0-ms EPOCH_MS --work DIR --fixture DIR --out FILE --cores K
  *
  * An untraced run (`--trace 0`) times ops with no listener, span or job
  * group. A traced run installs the probe and alternates traced and
  * untraced ops of each kind, so the tracing overhead on every end-to-end
  * metric is read as traced minus untraced within the same process.
  */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, t0Ms: Long,
      work: String, fixture: String, out: String, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("t0-ms").toLong, m("work"), m("fixture"), m("out"), m("cores").toInt)
  }

  /** The session `graft.Bench` builds, plus a warehouse inside the work dir. */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.prep(spark)
  }

  def effectiveConfig(spark: SparkSession): ListMap[String, Any] = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.codegen.cache.maxEntries", "spark.sql.ansi.enabled",
      "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone",
      "spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize", "spark.sql.adaptive.enabled")
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    ListMap("spark.master" -> spark.sparkContext.master,
      "spark.version" -> spark.version,
      "spark.local.dir" -> spark.sparkContext.getConf.get("spark.local.dir", "")) ++
      keys.map(k => k -> scala.util.Try(spark.conf.get(k)).getOrElse("")) ++
      ListMap("jvm.max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
        "jvm.options" -> jvm.toArray.toSeq.map(_.toString).filterNot(_.startsWith("--add-opens")))
  }

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val probe = if (a.trace) Some(new Probe(spark)) else None
    val installNs = probe.map(_.install()).getOrElse(0L)
    val run = new Run(spark, a, probe)
    val out = mutable.LinkedHashMap.empty[String, Any]
    try {
      val w: Workload = a.workload match {
        case "sync" => new SyncWorkload(run)
        case "dedup" => new DedupWorkload(run)
        case "queries" => new QueriesWorkload(run)
        case "batch" => new BatchWorkload(run)
        case other => sys.error(s"unknown workload '$other' (sync, dedup, queries, batch)")
      }
      w.setup()
      run.startMeasuring()
      w.measure()
      probe.foreach(_.drain())
      out("config") = effectiveConfig(spark)
      out("inputs") = w.describe()
      out("check") = w.checkData()
      val peak = peakRssMb()
      val e2e = run.endToEnd(w, run.ops.toSeq, peak)
      out("end_to_end") = e2e
      out("samples") = ListMap(run.ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, v) => k -> v.length }: _*)
      def workloadMetrics(ops: Seq[OpRec]) =
        ListMap(Metrics.workload.map { case (n, _) => n -> w.workloadMetrics(ops).getOrElse(n, 0.0) }: _*)
      out("workload_metrics") = workloadMetrics(run.ops.toSeq)
      probe.foreach { p =>
        val traced = run.ops.filter(_.traced).toSeq
        val untraced = run.ops.filterNot(_.traced).toSeq
        val t = run.endToEnd(w, traced, peak)
        val u = run.endToEnd(w, untraced, peak)
        val overhead = Metrics.endToEnd.map(_._1).map {
          case "setup_s" => "trace_overhead.setup_s" -> installNs / 1e9
          case "peak_rss_mb" => "trace_overhead.peak_rss_mb" -> p.retainedBytes() / (1024.0 * 1024.0)
          case n => s"trace_overhead.$n" -> (t(n) - u(n))
        }
        val own = w.layerMetrics(p, traced) ++ run.engineMetrics(p, traced)
        val layers = Metrics.layers.map { case (n, _) => n -> own.getOrElse(n, 0.0) }
        out("per_layer") = ListMap(workloadMetrics(traced).toSeq ++ layers ++ overhead: _*)
        val spansFile = s"${a.work}/spans.json"
        Files.writeString(Paths.get(spansFile), p.spansJson())
        out("spans_file") = spansFile
        out("spans") = p.spans.length
      }
      out("units") = ListMap(Metrics.endToEnd ++ Metrics.perLayer: _*)
      out("attempted") = run.ops.length
      out("failed") = run.ops.count(!_.ok)
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        out("error") = e.toString
    } finally {
      Files.writeString(Paths.get(a.out), Json.of(out) + "\n")
      spark.stop()
    }
  }
}

/** One timed op execution; a failed op has an infinite latency, so it misses
  * every latency limit. */
final case class OpRec(kind: String, traced: Boolean, ms: Double, ok: Boolean, group: String)

/** Shared run state: the clock, the op log and the probe. */
final class Run(val spark: SparkSession, val a: Main.Args, val probe: Option[Probe]) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  private val counts = mutable.HashMap.empty[String, Int]
  private var measureStartNs = 0L
  var setupS = 0.0

  def startMeasuring(): Unit = {
    setupS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    measureStartNs = System.nanoTime()
  }
  def timeLeft: Boolean = System.nanoTime() - measureStartNs < (a.seconds * 1e9).toLong

  /** In a traced run, every other op of a kind is traced. */
  def nextTraced(kind: String): Boolean = {
    val i = counts.getOrElse(kind, 0)
    counts(kind) = i + 1
    a.trace && i % 2 == 0
  }

  /** Time one op; failures are logged, counted, and never rethrown. */
  def timed[T](kind: String)(body: => T): Option[T] = {
    val traced = nextTraced(kind)
    var group: String = null
    val t0 = System.nanoTime()
    try {
      val r = probe match {
        case Some(p) => p.op(kind, traced) { group = p.group.orNull; body }
        case None => body
      }
      ops += OpRec(kind, traced, (System.nanoTime() - t0) / 1e6, ok = true, group)
      Some(r)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] op $kind failed: $e")
        e.printStackTrace()
        ops += OpRec(kind, traced, Double.PositiveInfinity, ok = false, group)
        None
    }
  }

  /** Untimed warm-up op: a failure fails the run. */
  def warm[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(f"[perfbench] warm-up $what ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  def span[T](name: String)(body: => T): T = probe match {
    case Some(p) => p.span(name)(body)
    case None => body
  }

  def endToEnd(w: Workload, ops: Seq[OpRec], peakMb: Double): ListMap[String, Double] = {
    val lat = ops.filter(o => w.latencyKinds(o.kind)).map(_.ms)
    val suite = w.suiteS(ops)
    ListMap(
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakMb,
      "success_rate" -> (if (ops.isEmpty) 0.0 else ops.count(_.ok).toDouble / ops.length),
      "op_p50_ms" -> Stats.capped(Stats.pct(lat, 0.5)),
      "op_p90_ms" -> Stats.capped(Stats.pct(lat, 0.9)),
      "suite_s" -> Stats.capped(suite),
      "items_per_s" -> w.itemsPerS(ops))
  }

  /** Engine counters per traced op, from the probe's job groups. */
  def engineMetrics(p: Probe, traced: Seq[OpRec]): ListMap[String, Double] = {
    val groups = p.groupStats()
    val planning = p.planningByGroup()
    val opGroups = traced.flatMap(o => Option(o.group))
    def tracedOp(g: String): Boolean = opGroups.exists(o => g == o || g.startsWith(o + "/"))
    val total = new GroupStats
    groups.foreach { case (g, s) => if (tracedOp(g)) total.add(s) }
    val planningMs = planning.collect { case (g, ms) if tracedOp(g) => ms }.sum
    val n = math.max(1, traced.length).toDouble
    val wallS = traced.filter(_.ok).map(_.ms).sum / 1000.0
    val skewW = total.skew.map(_._2).sum.toDouble
    val codegenMs = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6
    ListMap(
      "engine.jobs_per_op" -> total.jobs / n,
      "engine.stages_per_op" -> total.stages / n,
      "engine.tasks_per_op" -> total.tasks / n,
      "engine.planning_ms" -> planningMs / n,
      "engine.codegen_compile_ms" -> codegenMs,
      "engine.task_busy_s" -> total.runMs / 1000.0 / n,
      "engine.task_cpu_s" -> total.cpuNs / 1e9 / n,
      "engine.core_util" -> (if (wallS > 0) total.runMs / 1000.0 / (wallS * a.cores) else 0.0),
      "engine.skew_max_median" ->
        (if (skewW > 0) total.skew.map { case (r, w) => r * w }.sum / skewW else 0.0),
      "engine.shuffle_read_bytes" -> total.shuffleRead / n,
      "engine.shuffle_write_bytes" -> total.shuffleWrite / n,
      "engine.spill_bytes" -> total.spill / n,
      "engine.gc_ms" -> total.gcMs / n,
      "engine.tasks_failed" -> total.tasksFailed.toDouble)
  }

  /** Engine counters of one traced op: all its job groups (its calls and
    * streaming runs included), or only those of one call. */
  def opStats(p: Probe, op: OpRec, call: Option[String] = None): GroupStats = {
    val s = new GroupStats
    def mine(g: String): Boolean = call match {
      case Some(c) => g == s"${op.group}/$c"
      case None => g == op.group || g.startsWith(op.group + "/")
    }
    if (op.group != null) p.groupStats().foreach { case (g, x) => if (mine(g)) s.add(x) }
    s
  }
}

object Stats {
  /** Linear-interpolated percentile; infinite samples (failed ops) sort last. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.PositiveInfinity
    else {
      val s = xs.sorted
      val pos = (s.length - 1) * q
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) s(lo)
      else if (s(hi).isInfinite) Double.PositiveInfinity
      else s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** A latency past every limit (from a failed op) prints as 1e9. */
  def capped(x: Double): Double = if (x.isInfinite || x.isNaN) 1e9 else x
}

/** One workload: set-up (input loading and warm-up, untimed), a closed loop
  * of timed ops until the run's seconds are used, and its metrics. */
trait Workload {
  def setup(): Unit
  def measure(): Unit
  /** Op kinds whose latencies make `op_p50_ms` / `op_p90_ms`. */
  def latencyKinds: String => Boolean
  /** Sum over op kinds of each kind's median latency, in seconds. */
  def suiteS(ops: Seq[OpRec]): Double
  def itemsPerS(ops: Seq[OpRec]): Double
  /** This workload's entries of `Metrics.workload`; the others print as 0. */
  def workloadMetrics(ops: Seq[OpRec]): ListMap[String, Double]
  def layerMetrics(p: Probe, traced: Seq[OpRec]): ListMap[String, Double]
  def describe(): ListMap[String, Any]
  def checkData(): ListMap[String, Any]

  protected def medianMs(ops: Seq[OpRec], kind: String): Double =
    Stats.median(ops.filter(_.kind == kind).map(_.ms))

  protected def errorRate(ops: Seq[OpRec]): Double =
    if (ops.isEmpty) 0.0 else ops.count(!_.ok).toDouble / ops.length
}
