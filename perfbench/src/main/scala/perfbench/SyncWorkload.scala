package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.sources.ExportCatalog
import graft.streaming.IncrementalStream

/** The reference's own job on one events-shaped table: catch up from a full
  * export plus its backlog of incrementals into a state table, then tail
  * new windows one at a time, each merged latest-wins by (ts_us, event_id)
  * into the state. The only workload that writes.
  *
  * Inputs (from gen.py): `<work>/sync/{export,tail,landings.json}` and a
  * small `<work>/sync_warm` of the same shape for the warm-up.
  */
final class SyncWorkload(run: Run) extends Workload {
  private val spark = run.spark
  private val Keys = Seq("user_id")
  private val Ord = Seq("ts_us", "event_id")
  private val Table = "events"
  /** Catch-ups per run; their median makes the catch-up throughput. */
  private val Catchups = 4
  /** Landings every run makes, even past its seconds: the generator puts an
    * `.empty` marker and the re-upload among the first six. */
  private val MinLandings = 6

  private val base = s"${run.a.work}/sync"
  private val info = new ObjectMapper().readTree(Files.readString(Paths.get(s"$base/landings.json")))
  private val landings = info.get("landings").elements().asScala.map(_.asText).toSeq
  private val catchupRows = info.get("catchup_rows").asLong
  private var landed = 0

  /** Per traced op: discovery ms, files listed, files planned. */
  private val discovery = mutable.HashMap.empty[String, (Double, Int, Int)]
  /** Per traced window: stream run id, IncrementalStream.run ms, state bytes after. */
  private val windows = mutable.HashMap.empty[String, (String, Double, Long)]

  private def catchup(exportDir: String, stateDir: String): (Double, Int, Int) = {
    val t0 = System.nanoTime()
    val files = run.span("ExportCatalog.list")(ExportCatalog.list(spark, exportDir))
    val plan = run.span("ExportCatalog.plan")(ExportCatalog.plan(files, Table))
      .getOrElse(sys.error(s"no full export under $exportDir"))
    val discoverMs = (System.nanoTime() - t0) / 1e6
    val df = run.span("ExportCatalog.load")(ExportCatalog.load(spark, plan, Keys, Ord))
    run.span("state.write")(df.write.mode("overwrite").parquet(stateDir))
    (discoverMs, files.length, 1 + plan.incrementals.length)
  }

  /** A window lands atomically: written under a hidden name, then renamed. */
  private def land(from: String, incoming: String, name: String): Unit = {
    val tmp = Paths.get(incoming, s".$name.tmp")
    Files.copy(Paths.get(from, name), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(incoming, name), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def tail(incoming: String, stateDir: String, ckpt: String, sample: DataFrame): (String, Double) = {
    val t0 = System.nanoTime()
    val q = run.span("IncrementalStream.run")(
      IncrementalStream.run(spark, incoming, sample, Keys, Ord, stateDir, ckpt))
    val startMs = (System.nanoTime() - t0) / 1e6
    run.probe.foreach(_.adoptStream(q.runId.toString))
    run.span("StreamingQuery.awaitTermination")(q.awaitTermination())
    q.exception.foreach(e => throw e)
    (q.runId.toString, startMs)
  }

  private def dirs(root: String): (String, String, String) = {
    val incoming = s"$root/incoming"
    Files.createDirectories(Paths.get(incoming))
    (incoming, s"$root/state", s"$root/checkpoint")
  }

  private def dirBytes(dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith(".")).map(_.getLen).sum
  }

  def setup(): Unit = {
    val warm = s"${run.a.work}/sync_warm"
    val warmLandings = new ObjectMapper().readTree(Files.readString(Paths.get(s"$warm/landings.json")))
      .get("landings").elements().asScala.map(_.asText).toSeq
    val (incoming, state, ckpt) = dirs(s"$warm/run")
    run.warm("catch-up")(catchup(s"$warm/export", state))
    val sample = spark.read.parquet(state)
    run.warm(s"${warmLandings.length} landings")(warmLandings.foreach { n =>
      land(s"$warm/tail", incoming, n)
      tail(incoming, state, ckpt, sample)
    })
  }

  def measure(): Unit = {
    val (incoming, state, ckpt) = dirs(s"$base/run")
    for (_ <- 1 to Catchups) {
      var d: (Double, Int, Int) = null
      run.timed("catchup") { d = catchup(s"$base/export", state) }
      if (run.ops.last.ok) Option(run.ops.last.group).foreach(g => discovery(g) = d)
    }
    val sample = spark.read.parquet(state)
    while (landed < landings.length && (landed < MinLandings || run.timeLeft)) {
      val name = landings(landed)
      land(s"$base/tail", incoming, name)
      landed += 1
      var r: (String, Double) = null
      run.timed("window") { r = tail(incoming, state, ckpt, sample) }
      if (run.ops.last.ok) Option(run.ops.last.group).foreach(g => windows(g) = (r._1, r._2, dirBytes(state)))
    }
  }

  val latencyKinds: String => Boolean = _ == "window"

  def suiteS(ops: Seq[OpRec]): Double =
    (medianMs(ops, "catchup") + medianMs(ops, "window")) / 1000.0

  def itemsPerS(ops: Seq[OpRec]): Double = catchupRows / (medianMs(ops, "catchup") / 1000.0)

  def workloadMetrics(ops: Seq[OpRec]): ListMap[String, Double] = {
    val w = ops.filter(_.kind == "window").map(_.ms)
    ListMap(
      "error_rate" -> errorRate(ops),
      "sync.catchup_rows_per_s" -> itemsPerS(ops),
      "sync.window_p50_ms" -> Stats.capped(Stats.pct(w, 0.5)),
      "sync.window_p90_ms" -> Stats.capped(Stats.pct(w, 0.9)))
  }

  def layerMetrics(p: Probe, traced: Seq[OpRec]): ListMap[String, Double] = {
    val ok = traced.filter(o => o.ok && o.group != null)
    val cu = ok.filter(_.kind == "catchup")
    val win = ok.filter(_.kind == "window")
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val cuStats = cu.map(o => run.opStats(p, o))
    val all = ok.map(o => run.opStats(p, o))
    val prog = win.flatMap(o => windows.get(o.group)).map { case (runId, _, _) => p.progressOf(runId) }
    def dur(key: String): Seq[Double] = prog.filter(_.nonEmpty).map { evs =>
      evs.map(e => Option(e.progress.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).sum
    }
    val rewritten = win.zip(prog).flatMap { case (o, evs) =>
      val in = evs.map(_.progress.numInputRows).sum
      if (in > 0) Some(run.opStats(p, o).outputRows.toDouble / in) else None
    }
    ListMap(
      "sources.discover_ms" -> med(cu.flatMap(o => discovery.get(o.group)).map(_._1)),
      "sources.files_listed" -> med(cu.flatMap(o => discovery.get(o.group)).map(_._2.toDouble)),
      "sources.files_planned" -> med(cu.flatMap(o => discovery.get(o.group)).map(_._3.toDouble)),
      "sources.scan_rows" -> med(cuStats.map(_.inputRows.toDouble)),
      "sources.scan_bytes" -> med(cuStats.map(_.inputBytes.toDouble)),
      "merge.ms" -> med(all.map(_.reduceRunMs.toDouble)),
      "merge.rows_in" -> med(all.map(_.inputRows.toDouble)),
      "merge.keys_out" -> med(all.map(_.outputRows.toDouble)),
      "merge.shuffle_write_bytes" -> med(all.map(_.shuffleWrite.toDouble)),
      "stream.start_ms" -> med(win.flatMap(o => windows.get(o.group)).map(_._2)),
      "stream.planning_ms" -> med(dur("queryPlanning")),
      "stream.add_batch_ms" -> med(dur("addBatch")),
      "stream.wal_commit_ms" -> med(dur("walCommit")),
      "stream.state_bytes_written" -> med(win.flatMap(o => windows.get(o.group)).map(_._3.toDouble)),
      "stream.state_rows_rewritten_per_input_row" -> med(rewritten))
  }

  def describe(): ListMap[String, Any] = ListMap(
    "keys_full" -> info.get("keys_full").asLong,
    "catchup_rows" -> catchupRows,
    "backlog_windows" -> info.get("backlog_windows").asLong,
    "tail_windows" -> info.get("tail_windows").asLong,
    "tail_empty_markers" -> info.get("tail_empty").asLong,
    "reupload" -> info.get("reupload").asText,
    "landings_available" -> landings.length,
    "landed" -> landed)

  def checkData(): ListMap[String, Any] = ListMap("landed" -> landed, "state_dir" -> s"$base/run/state")
}
