package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Peak block-manager bytes held by cached and checkpointed (RDD) blocks,
  * tracked from block-update events. Always registered: peak_storage_mb is
  * an end-to-end metric. Also counts marker jobs so the harness can wait
  * until the asynchronous listener bus has delivered every earlier event. */
class StorageTracker extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var total = 0L
  private var peak = 0L
  @volatile var markers = 0

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      total += now - sizes.getOrElse(key, 0L)
      if (now == 0L) sizes.remove(key) else sizes(key) = now
      peak = math.max(peak, total)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = markers += 1

  /** Restart peak tracking from the current level; returns that level. */
  def resetPeak(): Long = synchronized { peak = total; total }
  def peakBytes: Long = synchronized(peak)
}

/** One timed unit of client work: a registry query, a kernel, or one leg
  * of an ingest batch. `group` is the job group the harness set for it. */
final case class StepSpan(id: Int, pass: Int, module: String, name: String,
    group: String, start: Long, end: Long, ok: Boolean)

final class StageRec(val stageId: Int, val attempt: Int) {
  var jobId = -1
  var submit = 0L
  var complete = 0L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var waitMs = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final class JobRec(val id: Int, val group: String, val start: Long) {
  var end = 0L
}

final case class PlanRec(start: Long, planMs: Long)
final case class StreamRec(stateRows: Long, commitMs: Long, updateMs: Long,
    stateBytes: Long)

/** The traced run's listeners: Spark scheduler events (jobs, stages,
  * aggregated task metrics), query planning phases and streaming progress,
  * all kept in memory and written out as spans when the run ends. */
class Tracer extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val streams = mutable.ArrayBuffer.empty[StreamRec]

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += new JobRec(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.jobId = stageJob.getOrElse(i.stageId, -1)
    s.submit = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.complete = i.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    val ti = e.taskInfo
    s.tasks += 1
    s.durations += ti.duration
    if (s.submit > 0) s.waitMs += math.max(0L, ti.launchTime - s.submit)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) Tracer.this.synchronized {
        plans += PlanRec(ph.values.map(_.startTimeMs).min,
          ph.values.map(_.durationMs).sum)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      Tracer.this.synchronized {
        streams += StreamRec(ops.map(_.numRowsTotal).sum,
          ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
          ops.map(_.memoryUsedBytes).sum)
      }
    }
  }
}

/** Turns the spans of a traced run into per-layer metrics and the
  * "where the time goes" table. */
object Layers {
  val Modules = Seq("features", "operators", "llm", "streaming")

  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  private def median(xs: Seq[Long]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2).toDouble
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

  /** Jobs belong to the step whose job group they carry; jobs started on
    * other threads (streaming micro-batches) go to the step whose window
    * contains their start. */
  def jobsByStep(t: Tracer, steps: Seq[StepSpan]): Map[Int, Seq[JobRec]] = {
    val byGroup = steps.map(s => s.group -> s.id).toMap
    t.jobs.toSeq.flatMap { j =>
      byGroup.get(j.group).orElse(steps.find(s =>
        j.start >= s.start && j.start <= s.end).map(_.id)).map(_ -> j)
    }.groupMap(_._1)(_._2)
  }

  final case class Agg(wall: Double, driver: Double, planMs: Double,
      jobs: Int, tasks: Int, cpuS: Double, cpuRatio: Double, waitMs: Double,
      shuffleMb: Double, spillMb: Double, gcMs: Double, skew: Double)

  def aggregate(t: Tracer, steps: Seq[StepSpan],
      byStep: Map[Int, Seq[JobRec]]): Agg = {
    val jobs = steps.flatMap(s => byStep.getOrElse(s.id, Nil))
    val jobIds = jobs.map(_.id).toSet
    val st = t.stages.values.filter(s => jobIds(s.jobId)).toSeq
    val driverMs = steps.map { s =>
      val iv = byStep.getOrElse(s.id, Nil).map(j =>
        (math.max(j.start, s.start), math.min(if (j.end > 0) j.end else s.end, s.end)))
        .filter { case (a, b) => b > a }
      (s.end - s.start) - union(iv)
    }.sum
    val plan = t.plans.filter(p => steps.exists(s =>
      p.start >= s.start && p.start <= s.end)).map(_.planMs).sum
    val run = st.map(_.runMs).sum
    val skews = st.filter(_.durations.size >= 2).map { s =>
      val m = median(s.durations.toSeq)
      if (m <= 0) 1.0 else s.durations.max / m
    }
    Agg(steps.map(s => s.end - s.start).sum / 1000.0, driverMs / 1000.0,
      plan.toDouble, jobs.size, st.map(_.tasks).sum, st.map(_.cpuNs).sum / 1e9,
      if (run == 0) 0.0 else st.map(_.cpuNs).sum / 1e6 / run,
      st.map(_.waitMs).sum.toDouble,
      st.map(_.shuffleWrite).sum / 1048576.0, st.map(_.spill).sum / 1048576.0,
      st.map(_.gcMs).sum.toDouble, if (skews.isEmpty) 1.0 else skews.max)
  }

  /** Span records: run -> step -> job -> stage, one JSON object a line. */
  def spans(t: Tracer, runStart: Long, runEnd: Long, steps: Seq[StepSpan],
      byStep: Map[Int, Seq[JobRec]]): Seq[String] = {
    val out = mutable.ArrayBuffer(
      s"""{"kind":"run","id":"run","parent":null,"start_ms":$runStart,"end_ms":$runEnd}""")
    steps.foreach { s =>
      out += s"""{"kind":"step","id":"step-${s.id}","parent":"run","pass":${s.pass},""" +
        s""""module":"${s.module}","name":"${s.name}","start_ms":${s.start},""" +
        s""""end_ms":${s.end},"ok":${s.ok}}"""
      byStep.getOrElse(s.id, Nil).foreach { j =>
        out += s"""{"kind":"job","id":"job-${j.id}","parent":"step-${s.id}",""" +
          s""""start_ms":${j.start},"end_ms":${j.end}}"""
        t.stages.values.filter(_.jobId == j.id).foreach { g =>
          out += s"""{"kind":"stage","id":"stage-${g.stageId}.${g.attempt}",""" +
            s""""parent":"job-${j.id}","start_ms":${g.submit},"end_ms":${g.complete},""" +
            s""""tasks":${g.tasks},"run_ms":${g.runMs},"cpu_ms":${g.cpuNs / 1000000},""" +
            s""""gc_ms":${g.gcMs},"shuffle_write_bytes":${g.shuffleWrite},""" +
            s""""shuffle_read_bytes":${g.shuffleRead},"spill_bytes":${g.spill},""" +
            s""""sched_wait_ms":${g.waitMs},"max_task_ms":${if (g.durations.isEmpty) 0 else g.durations.max}}"""
        }
      }
    }
    out.toSeq
  }
}
