package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.json4s._
import org.json4s.jackson.JsonMethods.parseOpt

/** What every tool main ([[Bench]], [[Verify]], [[PlanDump]],
  * [[StageProfile]], [[StateProbe]]) and the test session share: one
  * session config, one warm-up and one timed run. There is one
  * definition of each, so a dumped plan, a stage profile and a probe
  * describe the session [[Bench]] timed, and the committed BENCH_*
  * artifacts stay comparable (a protocol change lands in all or none).
  * The one knob is `SPARK_GRAFT_CPUS`; any other Spark conf is passed
  * as a `-Dspark.*` system property, which the session's `SparkConf`
  * loads. */
private[graft] object BenchHarness {
  /** `named`, de-duplicated, or every registered query (sorted) when
    * none is named. An unknown name fails here, before the caller pays
    * for a session, with the names it did not find. */
  def queryNames(named: Seq[String]): Seq[String] = {
    val unknown = named.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"query names not in the registry: ${unknown.mkString(", ")}")
    if (named.nonEmpty) named.distinct else SparkEntry.queries.keys.toSeq.sorted
  }

  /** `local[cpus]` with one shuffle partition per core, the UI off and
    * the session time zone UTC (the oracle's timestamps are UTC). */
  def session(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-ups, each best-effort: a missing warm-up table must
    * not abort the run (per-query failures are reported, this isn't
    * one). Without them JIT, codegen, parquet-footer caches and the
    * MLlib/ANN classloading land entirely on whichever query runs
    * first, distorting its number by seconds. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    try {
      spark.range(100000).selectExpr("sum(id)").collect()
      graft.sources.Sources.parquetTable(spark, sfDir, "region").count()
    } catch { case e: Throwable =>
      System.err.println(s"[warmup] skipped: ${e.getMessage}")
    }
    // The FIRST linear-algebra fit in a JVM pays several seconds of
    // Breeze/L-BFGS/netlib-BLAS classloading + JIT that otherwise lands
    // on whichever fit query runs unluckily (validation_curves went
    // 3.98→22.09s across rounds on unchanged code). Tiny seeded fits
    // per family — LR (logistic/L-BFGS), KMeans (distance kernels), PCA
    // (SVD), IDF (treeAggregate) — move that one-time cost out of the
    // measured queries.
    try {
      import org.apache.spark.ml.classification.LogisticRegression
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.feature.{IDF, PCA}
      import org.apache.spark.ml.functions.array_to_vector
      import org.apache.spark.ml.tuning.{ParamGridBuilder, TrainValidationSplit}
      import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
      import org.apache.spark.sql.functions.col
      val tiny = spark.range(100)
        .selectExpr("cast(id % 2 as double) as label",
          "array(cast(id as double), cast(id % 7 as double), 1.0d) as arr")
        .select(col("label"), array_to_vector(col("arr")).as("features"))
      new LogisticRegression().setMaxIter(5).fit(tiny)
      new KMeans().setK(2).setSeed(42L).setMaxIter(3).fit(tiny)
      new PCA().setK(2).setInputCol("features").setOutputCol("pca").fit(tiny)
      new IDF().setInputCol("features").setOutputCol("idf").fit(tiny)
      // tuning-harness classloading (TrainValidationSplit + evaluator):
      // r9 showed predefined_split_grid run 1 = 7.1s vs run 2 = 4.5s —
      // the gap is one-time ml.tuning init, not plan cost
      val tvsLr = new LogisticRegression().setMaxIter(3)
      new TrainValidationSplit()
        .setEstimator(tvsLr)
        .setEvaluator(new MulticlassClassificationEvaluator()
          .setMetricName("accuracy"))
        .setEstimatorParamMaps(new ParamGridBuilder()
          .addGrid(tvsLr.regParam, Array(0.0, 0.1)).build())
        .setTrainRatio(0.75).setSeed(42L)
        .fit(tiny)
    } catch { case e: Throwable =>
      System.err.println(s"[warmup] mllib skipped: ${e.getMessage}")
    }
    // The first IVF/PQ index build pays takeSample + two KMeans fits +
    // probe-join codegen that otherwise land on whichever similarity_*
    // query is timed first (r8 driver log: similarity_ivfpq run 1 =
    // 13.0s vs run 2 = 1.76s — all cold-start). A tiny seeded fit+probe
    // per index family moves that one-time cost out of the measured
    // window.
    try {
      import org.apache.spark.sql.functions.col
      val tinyEmb = spark.range(200).selectExpr(
        "id as vec_id",
        "transform(sequence(0, 7), i -> cast(hash(id, i) % 1000 as float) / 1000.0f) as embedding")
      val q = tinyEmb.filter(col("vec_id") < 4)
      graft.llm.Similarity.ivfProbe(
        graft.llm.Similarity.ivfIndex(tinyEmb, nCells = 4),
        q, k = 4, nProbe = 2).count()
      graft.llm.Similarity.ivfPqProbe(
        graft.llm.Similarity.ivfPqIndex(tinyEmb, nCells = 4, m = 4, pqK = 8),
        q, k = 4, nProbe = 2).count()
    } catch { case e: Throwable =>
      System.err.println(s"[warmup] ann skipped: ${e.getMessage}")
    }
  }

  /** 4-decimal (0.1 ms) precision: full doubles ballooned the JSON
    * line past the driver's tail-capture window (BENCH_r09 landed
    * front-truncated, losing the headline fields) — sub-ms digits are
    * noise on a shared box anyway. */
  def r4(v: Double): JDecimal =
    JDecimal(BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP))

  /** The flat `{"name": number}` object under `key` of a bench
    * artifact's text; empty when the text does not parse or has no
    * such key (a tail-truncated capture, a summary-only artifact). */
  def numObj(text: String, key: String): Map[String, Double] =
    parseOpt(text).map(_ \ key) match {
      case Some(JObject(fs)) => fs.collect {
        case (k, JDouble(v)) => k -> v
        case (k, JInt(v)) => k -> v.toDouble
      }.toMap
      case _ => Map.empty
    }

  /** One timed execution: (seconds, Some(outputRowCount) |
    * None-on-failure). The frame is written to the `noop` sink, so
    * every output column is computed (a `count()` let the optimizer
    * prune a plan down to its scan), and the row count comes from a
    * `Dataset.observe` in the same pass. Recording it (r16 verdict
    * item 2) lets any later round compute sec/output-row and separate
    * "query got slower" from "fixture emits more rows" without
    * trusting hand-written PLANS.md tables. */
  def timedRun(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): (Double, Option[Long]) = {
    // per-query isolation: cached fold/CV blocks from one query must
    // not occupy (or re-register, cf. the r4 "block already exists"
    // churn) block-manager state while a later query is timed
    spark.catalog.clearCache()
    // ... and stale stream metrics must not attribute to a later
    // stream query whose own run failed before reaching the sink
    SparkEntry.lastStreamMetrics = None
    val t0 = System.nanoTime()
    val cnt = try {
      val rows = org.apache.spark.sql.Observation(s"bench_$name")
      fn(spark, sfDir).observe(rows, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      Some(rows.get("n").asInstanceOf[Long])
    } catch {
      case e: Throwable =>
        System.err.println(
          s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
    ((System.nanoTime() - t0) / 1e9, cnt)
  }
}
