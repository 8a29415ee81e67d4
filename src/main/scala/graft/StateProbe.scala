package graft
import org.json4s._
import org.json4s.jackson.JsonMethods.compact
import BenchHarness.r4

/** State-store provider A/B probe for the streaming keepers (r17
  * verdict item 7): run registered stream_* queries under BOTH the
  * default HDFS-backed provider and RocksDBStateStoreProvider in one
  * JVM, and print one JSON line per (query, provider) carrying wall
  * seconds plus the captured state-operator metrics
  * ([[SparkEntry.lastStreamMetrics]] — state rows, memory, commit /
  * update times). The keepers' scale contract names RocksDB as the
  * at-volume provider (state spills off-heap instead of growing the
  * executor heap); this turns that scaladoc claim into a committed
  * same-box measurement (PLANS.md records the runs).
  *
  * Usage: runMain graft.StateProbe [sfDir] [query...]
  *   defaults: sfDir = /root/testdata/sf0.1, queries =
  *   stream_dedup_near stream_phash_near stream_embed_near.
  * Each (query, provider) runs twice and reports the min, in the
  * [[BenchHarness]] session after its warm-up (the Bench protocol);
  * providers alternate per query so a box-load window cannot bias one
  * side of the A/B. */
object StateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = BenchHarness.queryNames(
      if (args.length > 1) args.drop(1).toSeq
      else Seq("stream_dedup_near", "stream_phash_near", "stream_embed_near"))
    val spark = BenchHarness.session()
    BenchHarness.warmup(spark, sfDir)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    // measurement protocol is BenchHarness — the ONE definition Bench
    // also uses, so these numbers stay comparable with the committed
    // BENCH_* artifacts (a failed run reports sec -1, Bench's failure
    // sentinel, and the remaining (query, provider) legs still run)
    names.foreach { name =>
      Seq("default" -> None, "rocksdb" -> Some(rocks)).foreach {
        case (label, provider) =>
          provider match {
            case Some(p) => spark.conf.set(providerKey, p)
            case None => spark.conf.unset(providerKey)
          }
          val runs = (1 to 2).map { _ =>
            val (sec, ok) = BenchHarness.timedRun(spark, sfDir, name,
              SparkEntry.queries(name))
            (sec, ok.isDefined, SparkEntry.lastStreamMetrics)
          }
          val allOk = runs.forall(_._2)
          val best = runs.filter(_._2).minByOption(_._1)
          println(compact(JObject("probe" -> JString("state_provider"),
            "query" -> JString(name), "provider" -> JString(label),
            "sec" -> best.fold[JValue](JInt(-1))(b => r4(b._1)),
            "ok" -> JBool(allOk),
            "runs" -> JArray(runs.map(r => r4(r._1)).toList),
            "stream_state" -> best.flatMap(_._3).getOrElse(JNull),
            "sf" -> JString(sfDir))))
      }
    }
    spark.stop()
  }
}
