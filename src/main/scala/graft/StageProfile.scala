package graft

/** Measurement tool (optimization guide §1): per-job / per-stage wall
  * breakdown of a registered query, the local substitute for the Spark
  * UI's Stages page (the UI is off in the [[BenchHarness]] session).
  * Usage: runMain graft.StageProfile [sfDir] [queryName...]
  * Prints, per query: total wall, job count, and every stage's wall,
  * task count, shuffle read/write bytes and the head of its name — the
  * evidence for "where do the seconds go" claims in OPTIMIZATION_r*.md.
  * It prints the [[QueryRun]] record of one [[BenchHarness]] timed run
  * after its warm-up, so the breakdown reflects the benched shape.
  * Diagnostic only: never run by the driver, changes no query. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = BenchHarness.queryNames(args.drop(1).toSeq)
    val spark = BenchHarness.session()
    BenchHarness.warmup(spark, sfDir)
    names.foreach { n =>
      val run = BenchHarness.timedRun(spark, sfDir, n, SparkEntry.queries(n))
      val ss = run.stages.sortBy(-_.ms)
      println(f"\n=== $n%s wall=${run.sec}%.2fs " +
        f"rows=${run.result.getOrElse(-1L)}%d " +
        f"jobs=${run.jobs.size}%d (job-ms sum=${run.jobs.map(_.ms).sum}%d) " +
        f"stages=${ss.size}%d (stage-ms sum=${ss.map(_.ms).sum}%d)")
      ss.take(25).foreach { s =>
        println(f"  ${s.ms}%6dms t=${s.tasks}%3d in=${s.inputBytes}%9d " +
          f"sr=${s.shuffleReadBytes}%9d sw=${s.shuffleWriteBytes}%9d " +
          f"s${s.id}%d " + s.name.take(110))
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
