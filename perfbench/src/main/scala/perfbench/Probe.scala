package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEndAccess
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed public call: name, start, end, parent span and op id. */
final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long)

/** Engine counters of one job group (one traced op, or one streaming run). */
final class GroupStats {
  var jobs, stages, tasks, tasksFailed = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var inputRows, inputBytes, outputRows, outputBytes = 0L
  /** Run time of stages that read a shuffle: the reduce side of a merge. */
  var reduceRunMs = 0L
  /** Per completed stage with at least two tasks: (max/median task time, run ms). */
  val skew = mutable.ArrayBuffer.empty[(Double, Long)]

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; tasksFailed += o.tasksFailed
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    inputRows += o.inputRows; inputBytes += o.inputBytes
    outputRows += o.outputRows; outputBytes += o.outputBytes
    reduceRunMs += o.reduceRunMs; skew ++= o.skew
  }
}

/** Everything a traced run observes from outside the library: a span per
  * public call, and per-job-group engine counters from a `SparkListener`, a
  * `QueryExecutionListener` and a `StreamingQueryListener` registered on the
  * benchmark's own session. An op is traced by running it inside
  * `op(traced = true)`, which gives it its own job group; untraced ops run
  * with no group and the listeners ignore them.
  */
final class Probe(spark: SparkSession) {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val execGroup = mutable.HashMap.empty[Long, String]
  /** Planning ms per query execution id, and the SQL execution each ran as. */
  private val planningMs = mutable.HashMap.empty[Long, Long]
  private val qeExec = mutable.HashMap.empty[Long, Long]
  private val progress = mutable.HashMap.empty[String, mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]]
  /** Streaming runs set their own job group (the run id): alias it to the op's. */
  private val alias = mutable.HashMap.empty[String, String]

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var currentOp = -1
  private var currentGroup: String = null
  private var nextOp = 0

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)
  private def ours(g: String): Boolean = g != null && (g.startsWith("pb-") || alias.synchronized(alias.contains(g)))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        stats(g).jobs += 1
        e.stageIds.foreach(s => stageGroup(s) = g)
        Option(e.properties.getProperty("spark.sql.execution.id")).foreach(x => execGroup(x.toLong) = g)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val s = stats(g)
        if (!e.taskInfo.successful) s.tasksFailed += 1
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputRows += m.inputMetrics.recordsRead; s.inputBytes += m.inputMetrics.bytesRead
          s.outputRows += m.outputMetrics.recordsWritten; s.outputBytes += m.outputMetrics.bytesWritten
          if (m.shuffleReadMetrics.totalBytesRead > 0) s.reduceRunMs += m.executorRunTime
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Probe.this.synchronized(s.jobGroupId.foreach(g => execGroup(s.executionId) = g))
      case end: SparkListenerSQLExecutionEnd =>
        ExecutionEndAccess.queryExecutionId(end).foreach(q => Probe.this.synchronized(qeExec(q) = end.executionId))
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      val id = e.stageInfo.stageId
      stageGroup.get(id).foreach { g =>
        val s = stats(g)
        s.stages += 1
        s.tasks += e.stageInfo.numTasks
        stageTasks.remove(id).foreach { d =>
          if (d.length >= 2) {
            val sorted = d.sorted
            val med = math.max(1L, sorted(sorted.length / 2))
            s.skew += ((sorted.last.toDouble / med, d.sum))
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Probe.this.synchronized {
        planningMs(qe.id) = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Probe.this.synchronized {
      progress.getOrElseUpdate(e.progress.runId.toString, mutable.ArrayBuffer.empty) += e
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Register the three listeners; returns the time it took (ns). */
  def install(): Long = {
    val t0 = System.nanoTime()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    System.nanoTime() - t0
  }

  /** Run one op; when traced it gets its own job group and a root span. */
  def op[T](kind: String, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      val id = nextOp; nextOp += 1
      val group = s"pb-$id:$kind"
      currentOp = id; currentGroup = group
      spark.sparkContext.setJobGroup(group, kind)
      try span(kind)(body)
      finally {
        spark.sparkContext.clearJobGroup()
        currentOp = -1; currentGroup = null
      }
    }

  /** A span around one public call, inside the current traced op. A call
    * made directly by the op also gets its own job group,
    * `pb-<op>:<kind>/<call>`, so its jobs can be counted apart. */
  def span[T](name: String)(body: => T): T =
    if (currentOp < 0) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      val step = stack.length == 1
      stack = id :: stack
      spans += Span(id, name, currentOp, parent, System.nanoTime(), 0L)
      if (step) spark.sparkContext.setJobGroup(s"$currentGroup/$name", name)
      try body
      finally {
        if (step) spark.sparkContext.setJobGroup(currentGroup, currentGroup)
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Job group of the call running now (streaming runs are attributed to it). */
  def group: Option[String] = Option(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))

  /** Attribute a streaming run's jobs to the traced call that started it. */
  def adoptStream(runId: String): Unit =
    group.filter(_.startsWith("pb-")).foreach(g => alias.synchronized(alias(runId) = g))

  def drain(): Unit = org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)

  private def resolve(g: String): String = alias.synchronized(alias.getOrElse(g, g))

  /** Engine counters per job group ("pb-<op>:<kind>[/<call>]"), streaming runs folded in. */
  def groupStats(): Map[String, GroupStats] = synchronized {
    val out = mutable.HashMap.empty[String, GroupStats]
    groups.foreach { case (g, s) =>
      if (ours(g)) out.getOrElseUpdate(resolve(g), new GroupStats).add(s)
    }
    out.toMap
  }

  /** Planning (analysis + optimization + physical planning) ms per op group. */
  def planningByGroup(): Map[String, Long] = synchronized {
    planningMs.toSeq.flatMap { case (qe, ms) =>
      qeExec.get(qe).flatMap(execGroup.get).filter(ours).map(g => resolve(g) -> ms)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def progressOf(runId: String): Seq[StreamingQueryListener.QueryProgressEvent] = synchronized {
    progress.get(runId).map(_.toSeq).getOrElse(Nil)
  }

  /** Bytes the trace state holds (spans and per-group counters), estimated. */
  def retainedBytes(): Long = synchronized {
    spans.length * 96L + groups.size * 256L + groups.values.map(_.skew.length * 32L).sum +
      stageGroup.size * 48L + execGroup.size * 48L + (planningMs.size + qeExec.size) * 48L + progress.values.map(_.length * 2048L).sum
  }

  def spansJson(): String = {
    val sb = new StringBuilder("[")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"op":${s.op},"parent":${s.parent},""")
      sb.append(s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("]\n").toString
  }
}
