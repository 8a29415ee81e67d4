package graft

import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** [[SparkEntry.scratch]] and [[SparkEntry.steady]]: what a registry run
  * writes is released when its scope ends, and a steady artifact is
  * built once per session. */
class LifecycleSpec extends SparkSpec {
  private def tables: Set[String] =
    spark.catalog.listTables().collect().map(_.name).toSet
  // entries a row leaves behind; another process sharing the tmpdir
  // may remove its own entries meanwhile, so only additions count
  private def leftIn(before: Set[String]): Set[String] = graftTmp -- before
  private def graftTmp: Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list())
      .map(_.filter(_.startsWith("graft")).toSet).getOrElse(Set.empty)

  // every registered row that runs in a scratch scope
  private val scratchRows = Seq(
    "dedup_simhash_incremental", "dedup_minhash_incremental",
    "dedup_embedding_incremental", "dedup_passage_incremental",
    "dedup_semantic_incremental", "multimodal_phash_incremental",
    "multimodal_audio_incremental", "layout_bucketed_join",
    "layout_partition_prune", "events_cardinality_sketch",
    "events_cardinality_kmv", "similarity_ivf_persisted",
    "text_perplexity_persisted", "text_bm25_write",
    "text_sample_quantiles_merged", "text_bpe_encode_persisted",
    "text_heavy_hitters_incremental", "text_count_min_merged",
    "stream_embed_near", "stream_phash_near", "stream_audio_near",
    "stream_perplexity", "stream_window_counts", "stream_dedup_keys",
    "stream_heavy_hitters", "stream_cardinality_kmv", "stream_count_min",
    "stream_merge_snapshot", "stream_sessionize", "stream_attribution",
    "stream_dedup_near", "stream_ivf_append", "stream_bm25_append")

  test("every scratch row leaves the catalog and the graft temp dirs " +
      "as it found them, and its result outlives the scope") {
    // steady artifacts a row reads are built before the snapshot
    SparkEntry.cachedIvfHashInit(spark, sf0001)
    val (t0, d0) = (tables, graftTmp)
    scratchRows.foreach { n =>
      val out = SparkEntry.queries(n)(spark, sf0001)
      assert(tables == t0, n)
      assert(leftIn(d0).isEmpty, n)
      out.collect() // reads no released table or dir
    }
  }

  test("a scratch body that throws still releases its dir and tables") {
    val (t0, d0) = (tables, graftTmp)
    var made: (String, String) = null
    val e = intercept[IllegalStateException](SparkEntry.scratch(spark) { sc =>
      made = (sc.bucketed("graft_lc_throw", spark.range(10).toDF("bk"), "bk"),
        sc.dir)
      assert(tables.contains(made._1) && new File(made._2).isDirectory)
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(!new File(made._2).exists)
    assert(tables == t0 && leftIn(d0).isEmpty)
  }

  test("two calls of a steady row build its artifact once") {
    Seq("similarity_ivf", "layout_bucketed_join_steady",
        "text_bm25_persisted").foreach { n =>
      SparkEntry.queries(n)(spark, sf0001).collect()
      val (t1, d1) = (tables, graftTmp)
      SparkEntry.queries(n)(spark, sf0001).collect()
      assert(tables == t1 && leftIn(d1).isEmpty, n)
    }
    assert(SparkEntry.cachedIvfHashInit(spark, sf0001) eq
      SparkEntry.cachedIvfHashInit(spark, sf0001))
    assert(SparkEntry.cachedBucketedJoinTables(spark, sf0001) ==
      SparkEntry.cachedBucketedJoinTables(spark, sf0001))
  }

  test("steady: a racing first build is released, the winner kept") {
    val t0 = tables
    val both = new CountDownLatch(2)
    val builds = (1 to 2).map(_ => Future(
      SparkEntry.steady(spark, "lc_race", "d") { sc =>
        both.countDown()
        both.await(60, TimeUnit.SECONDS)
        sc.bucketed("graft_lc_race", spark.range(10).toDF("bk"), "bk")
      }))
    val names = builds.map(Await.result(_, 5.minutes))
    assert(names.distinct.size == 1)
    assert(tables -- t0 == Set(names.head))
    val key = SparkEntry.SteadyKey(spark.sparkContext.applicationId,
      "lc_race", "d")
    SparkEntry.steadyCache.remove(key).foreach(_._1.release())
    assert(tables == t0)
  }

  test("steady: entries of another application are released on access") {
    val (t0, d0) = (tables, graftTmp)
    val stale = new SparkEntry.Scratch(spark)
    val t = stale.bucketed("graft_lc_stale", spark.range(10).toDF("bk"), "bk")
    val dir = stale.dir
    SparkEntry.steadyCache.put(
      SparkEntry.SteadyKey("app-stopped", "lc_stale", "d"), (stale, t))
    assert(SparkEntry.steady(spark, "lc_live", "d")(_ => 1) == 1)
    assert(!SparkEntry.steadyCache.keys.exists(_.app == "app-stopped"))
    assert(!tables.contains(t) && !new File(dir).exists)
    SparkEntry.steadyCache.remove(SparkEntry.SteadyKey(
      spark.sparkContext.applicationId, "lc_live", "d"))
    assert(tables == t0 && leftIn(d0).isEmpty)
  }
}
