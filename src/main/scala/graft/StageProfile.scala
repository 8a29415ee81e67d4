package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement tool (optimization guide §1): per-job / per-stage wall
  * breakdown of a registered query, the local substitute for the Spark
  * UI's Stages page (the UI is off in the [[BenchHarness]] session).
  * Usage: runMain graft.StageProfile [sfDir] [queryName...]
  * Prints, per query: total wall, job count, and every stage's wall,
  * task count, shuffle read/write bytes and the head of its name — the
  * evidence for "where do the seconds go" claims in OPTIMIZATION_r*.md.
  * Runs in the [[BenchHarness]] session with its warm-up and timed run,
  * so the breakdown reflects the benched shape. Diagnostic only: never
  * run by the driver, changes no query. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = BenchHarness.queryNames(args.drop(1).toSeq)
    val spark = BenchHarness.session()
    case class StageRow(id: Int, name: String, ms: Long, tasks: Int,
      shufRead: Long, shufWrite: Long, input: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        stages.add(StageRow(si.stageId, si.name, ms, si.numTasks,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten,
          si.taskMetrics.inputMetrics.bytesRead))
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.put(e.jobId, e.time): Unit
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(e.jobId))
          .foreach(t0 => jobs.add((e.jobId, e.time - t0)))
      }
    })
    BenchHarness.warmup(spark, sfDir)
    import scala.jdk.CollectionConverters._
    names.foreach { n =>
      stages.clear(); jobs.clear(); jobStart.clear()
      spark.sparkContext.setJobDescription(n)
      val (wall, cnt) =
        BenchHarness.timedRun(spark, sfDir, n, SparkEntry.queries(n))
      // listener bus is async; give it a beat to drain
      Thread.sleep(300)
      val ss = stages.asScala.toSeq.sortBy(-_.ms)
      val js = jobs.asScala.toSeq
      println(f"\n=== $n%s wall=$wall%.2fs rows=${cnt.getOrElse(-1L)}%d " +
        f"jobs=${js.size}%d (job-ms sum=${js.map(_._2).sum}%d) " +
        f"stages=${ss.size}%d (stage-ms sum=${ss.map(_.ms).sum}%d)")
      ss.take(25).foreach { s =>
        println(f"  ${s.ms}%6dms t=${s.tasks}%3d in=${s.input}%9d " +
          f"sr=${s.shufRead}%9d sw=${s.shufWrite}%9d s${s.id}%d " +
          s.name.take(110))
      }
      // callsite histogram: which code sites own the job/stage count
      ss.groupBy(_.name.take(70)).toSeq
        .map { case (k, v) => (v.size, v.map(_.ms).sum, k) }
        .sortBy(-_._1).take(12)
        .foreach { case (n2, ms, k) =>
          println(f"  x$n2%3d ${ms}%6dms total  $k") }
    }
    spark.stop()
  }
}
