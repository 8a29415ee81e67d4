package graft

import java.util.UUID

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.{JInt, JObject}

/** What one run of a body did on the session: its result (or what it
  * threw) and wall seconds, the jobs and stages it ran, the SQL
  * executions it ran (a build-time `collect`, a checkpoint, the final
  * write) and one state summary per stream it started. [[Bench]],
  * [[StageProfile]] and [[PlanDump]] all read this one record. */
private[graft] final case class QueryRun[T](result: Try[T], sec: Double,
    jobs: Seq[QueryRun.Job], stages: Seq[QueryRun.Stage],
    sql: Seq[QueryExecution], streams: Seq[JObject])

private[graft] object QueryRun {
  final case class Job(id: Int, ms: Long)
  final case class Stage(id: Int, name: String, ms: Long, tasks: Int,
    inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** Run `body` with one `SparkListener`, one `QueryExecutionListener`
    * and one `StreamingQueryListener` on `spark`, and return its
    * record. `sec` times the body alone; a throw (fatal ones included)
    * is the record's `Failure`, not the caller's exception.
    *
    * The scheduler and SQL listeners share Spark's one shared listener
    * queue, which delivers in order. So a marker job before the body
    * skips every event still queued from earlier work, and one after it
    * drains every event the body posted. Stream progress and
    * termination come on the separate `streams` queue (only for
    * queries started in `spark`'s own session); its start events are
    * delivered synchronously, so the body has named every stream it
    * started when it returns, and each one's termination drains its
    * progress. */
  def apply[T](spark: SparkSession)(body: => T): QueryRun[T] = {
    val rec = new Recorder
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    spark.streams.addListener(rec.streams)
    try {
      rec.mark(sc)
      val t0 = System.nanoTime()
      val result = try Success(body) catch { case e: Throwable => Failure(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      rec.mark(sc)
      rec.awaitStreams()
      rec.synchronized(QueryRun(result, sec, rec.jobs.toSeq, rec.stages.toSeq,
        rec.executions.toSeq, rec.streamProgress.values.toSeq.map(summary)))
    } finally {
      sc.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
      spark.streams.removeListener(rec.streams)
    }
  }

  /** A stream's state-operator summary, from its progress in batch
    * order: how many batches ran and their total duration and, for a
    * stateful stream, the final batch's state rows (a gauge) and the
    * per-batch costs summed. Bench reports it per stream row as
    * `stream_state`. */
  private def summary(ps: Seq[StreamingQueryProgress]): JObject = {
    val ops = ps.flatMap(_.stateOperators.toSeq)
    val base = List("batches" -> JInt(ps.size),
      "batch_duration_ms" -> JInt(ps.map(_.batchDuration).sum))
    JObject(if (ops.isEmpty) base else base ++ List(
      "state_rows_total" ->
        JInt(ps.last.stateOperators.map(_.numRowsTotal).sum),
      "state_rows_updated" -> JInt(ops.map(_.numRowsUpdated).sum),
      "commit_ms" -> JInt(ops.map(_.commitTimeMs).sum),
      "updates_ms" -> JInt(ops.map(_.allUpdatesTimeMs).sum),
      "removals_ms" -> JInt(ops.map(_.allRemovalsTimeMs).sum),
      "state_memory_bytes" -> JInt(ops.map(_.memoryUsedBytes).max)))
  }

  /** The job property that tags a marker job. */
  private val Marker = "graft.queryrun.marker"

  /** The three listeners and what they saw. Scheduler and SQL events
    * count only while `phase` is 2: between the end of the first marker
    * job and the start of the second (each marker start and end steps
    * it by one). */
  private final class Recorder extends SparkListener
      with QueryExecutionListener {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
    val executions = mutable.ArrayBuffer.empty[QueryExecution]
    /** Each started stream's progress events, in start order. */
    val streamProgress =
      mutable.LinkedHashMap.empty[UUID, Vector[StreamingQueryProgress]]
    private val terminated = mutable.Set.empty[UUID]
    private val jobStart = mutable.HashMap.empty[Int, Long]
    private var markerJob = -1
    private var phase = 0

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(Marker) != null)) {
        markerJob = e.jobId
        phase += 1
      } else if (phase == 2) jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobs += Job(e.jobId, e.time - t0))
      if (e.jobId == markerJob) { phase += 1; notifyAll() }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val (si, m) = (e.stageInfo, e.stageInfo.taskMetrics)
        if (phase == 2) stages += Stage(si.stageId, si.name,
          si.completionTime.zip(si.submissionTime).fold(-1L)(t => t._1 - t._2),
          si.numTasks, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized(if (phase == 2) executions += qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      onSuccess(f, qe, 0L)

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        Recorder.this.synchronized(streamProgress(e.runId) = Vector.empty)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        Recorder.this.synchronized {
          val id = e.progress.runId
          if (streamProgress.contains(id)) streamProgress(id) :+= e.progress
        }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        Recorder.this.synchronized {
          terminated += e.runId
          Recorder.this.notifyAll()
        }
    }

    /** Run one marker job and wait until the listener has seen it end. */
    def mark(sc: SparkContext): Unit = {
      val seen = synchronized(phase)
      sc.setLocalProperty(Marker, "true")
      try sc.parallelize(Seq(0), 1).foreach(_ => ())
      finally sc.setLocalProperty(Marker, null)
      await(phase >= seen + 2)
    }

    def awaitStreams(): Unit =
      await(streamProgress.keySet.subsetOf(terminated))

    private def await(done: => Boolean): Unit = synchronized {
      val deadline = System.currentTimeMillis() + 10000
      while (!done && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      if (!done) System.err.println("[queryrun] listener events not drained")
    }
  }
}
