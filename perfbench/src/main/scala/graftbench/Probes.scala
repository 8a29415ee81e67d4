package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions._
import graft.llm.{Dedup, Similarity}
import graft.sources.Sources

/** Per-layer numbers of a traced run: module aggregates from the spans,
  * plus probes that call one layer's public API on the workload's input. */
object Probes {
  import Main.{noop, spark}

  /** Steps named in BENCHMARK.json's per-layer list, in every workload. */
  val AllSteps: Seq[(String, String)] = Main.FeatureSteps ++ Main.IngestSteps

  /** `steps` are the spans of the traced units only; `tracedUnits` and
    * `untracedUnits` count the passes (ingest: batches) behind the traced
    * and untraced pipeline_s. */
  def layers(workload: String, t: Tracer, steps: Seq[StepSpan], perPass: Double,
      tracedPipeline: Double, untracedPipeline: Double, tracedUnits: Int,
      untracedUnits: Int, data: String, work: String): Map[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    val byStep = Layers.jobsByStep(t, steps)
    val norm = math.max(perPass, 1e-9)
    val rows = mutable.ArrayBuffer.empty[String]
    var wallSum = 0.0
    (Layers.Modules :+ "sources").foreach { m =>
      val ss = steps.filter(_.module == m)
      val g = Layers.aggregate(t, ss, byStep)
      wallSum += g.wall / norm
      if (Layers.Modules.contains(m)) {
        out ++= Seq(s"$m.wall_s" -> g.wall / norm, s"$m.driver_s" -> g.driver / norm,
          s"$m.plan_ms" -> g.planMs / norm, s"$m.jobs" -> g.jobs / norm,
          s"$m.tasks" -> g.tasks / norm, s"$m.task_cpu_ratio" -> g.cpuRatio,
          s"$m.sched_wait_ms" -> g.waitMs / norm, s"$m.shuffle_mb" -> g.shuffleMb / norm,
          s"$m.spill_mb" -> g.spillMb / norm, s"$m.gc_ms" -> g.gcMs / norm,
          s"$m.task_skew" -> g.skew)
      }
      if (ss.nonEmpty) rows += f"| $m | ${g.wall / norm}%.3f | ${g.driver / norm}%.3f | " +
        f"${g.cpuS / norm}%.3f | ${g.shuffleMb / norm}%.2f | ${g.spillMb / norm}%.2f | " +
        f"${g.gcMs / norm}%.0f | ${g.jobs / norm}%.1f |"
    }
    AllSteps.foreach { case (m, q) =>
      val ds = steps.filter(s => s.module == m && s.name == q)
        .map(s => (s.end - s.start) / 1000.0).sorted
      out(s"$m.${q}_s") = if (ds.isEmpty) 0.0 else ds(ds.size / 2)
    }
    out ++= Seq("trace.pipeline_s" -> tracedPipeline,
      "trace.overhead_s" -> (tracedPipeline - untracedPipeline),
      "trace.unattributed_s" -> (tracedPipeline - wallSum),
      "trace.passes" -> tracedUnits, "trace.untraced_passes" -> untracedUnits)

    // streaming state, from StreamingQueryListener progress
    val sp = t.streams.toSeq
    out ++= Seq("streaming.batches" -> sp.size / norm,
      "streaming.state_rows" -> sp.lastOption.map(_.stateRows).getOrElse(0L),
      "streaming.commit_ms" -> sp.map(_.commitMs).sum / norm,
      "streaming.state_update_ms" -> sp.map(_.updateMs).sum / norm,
      "streaming.state_mb" -> sp.lastOption.map(_.stateBytes / 1048576.0).getOrElse(0.0))

    Json.writeLines(s"$work/spans.jsonl", Layers.spans(t,
      steps.map(_.start).minOption.getOrElse(0L),
      steps.map(_.end).maxOption.getOrElse(0L), steps, byStep))
    Json.writeLines(s"$work/where_time_goes.md", Seq(
      s"## $workload: where the time goes (per pass, traced)",
      "",
      s"traced pipeline_s ${"%.3f".format(tracedPipeline)} (from " +
        s"$tracedUnits traced ${if (workload == "ingest_incremental") "batches" else "passes"}), " +
        s"untraced ${"%.3f".format(untracedPipeline)} (from $untracedUnits), " +
        s"steps ${"%.3f".format(wallSum)}; module figures are per pass",
      "",
      "| module | wall s | driver s | executor CPU s | shuffle MB | spill MB | GC ms | jobs |",
      "|---|---|---|---|---|---|---|---|") ++ rows)

    // the probes below run untraced: they are not part of the traced steps
    out ++= sources(workload, data, work)
    out ++= kernels(data)
    out ++= llmRatios(data)
    out.toMap
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Scans of the workload's inputs through `Sources.parquetTable` and
    * one bucketed write of its largest table through `Sources.writeBucketed`. */
  def sources(workload: String, data: String, work: String): Map[String, Any] = {
    val (tables, big, key) = workload match {
      case "features_analytics" =>
        (Seq("customer", "orders", "lineitem", "events"), "lineitem", "l_orderkey")
      case _ => (Seq("documents"), "documents", "doc_id")
    }
    val rows = tables.map(tb => spark.read.parquet(s"$data/$tb.parquet").count()).sum
    val tasks = tables.map(tb => Sources.parquetTable(spark, data, tb).rdd.getNumPartitions)
    val scan = med((0 until 3).map(_ => timed(tables.foreach(tb =>
      noop(Sources.parquetTable(spark, data, tb))))))
    val write = med((0 until 3).map(i => timed(Sources.writeBucketed(
      Sources.parquetTable(spark, data, big), s"pb_write_probe_$i", key))))
    val loc = new File(s"$work/warehouse/pb_write_probe_0")
    val bytes = Option(loc.listFiles()).map(_.map(_.length).sum).getOrElse(0L)
    (0 until 3).foreach(i => spark.sql(s"DROP TABLE IF EXISTS pb_write_probe_$i"))
    Map("sources.scan_s" -> scan, "sources.scan_rows_per_s" -> rows / scan,
      "sources.scan_tasks" -> tasks.sum.toDouble / tasks.size,
      "sources.write_s" -> write, "sources.write_mb" -> bytes / 1048576.0)
  }

  private def bmp(id: Long, text: String): Array[Byte] = {
    val w = 16 + (id % 17).toInt
    val h = 12 + (id % 11).toInt
    val stride = (w * 3 + 3) / 4 * 4
    val buf = java.nio.ByteBuffer.allocate(54 + stride * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + stride * h).putInt(0)
      .putInt(54).putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(stride * h).putInt(0).putInt(0).putInt(0).putInt(0)
    val px = text.getBytes("UTF-8")
    (0 until stride * h).foreach(i => buf.put(px(i % px.length)))
    buf.array()
  }

  /** Rows/s of each public Column kernel over the workload's own
    * pre-materialized documents and embeddings, written to the noop sink. */
  def kernels(data: String): Map[String, Any] = {
    val session = spark
    import session.implicits._
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("tok", split(lower(col("text")), " "))
      .withColumn("sh", WordNgrams(col("text"), 3, false))
      .withColumn("sa", array_sort(array_distinct(col("sh"))))
      .withColumn("sb", array_sort(array_distinct(
        WordNgrams(concat(col("text"), lit(" r1")), 3, false))))
      .localCheckpoint(true)
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("v2", transform(col("v"), x => x + 0.01))
      .localCheckpoint(true)
    val img = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (i, s) => (i, bmp(i, s)) }.toSeq.toDF("doc_id", "payload")
      .localCheckpoint(true)
    val (m, k, sub) = (8, 16, 8)
    val rnd = new scala.util.Random(42)
    val codebook = spark.sparkContext.broadcast(
      Array.fill(m * k * sub)(rnd.nextGaussian() * 0.1))
    val bk = udaf(new BottomK(64), Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    val nd = docs.count()
    val ne = emb.count()
    val cases: Seq[(String, DataFrame, Long)] = Seq(
      ("minhash", docs.select(MinhashSignature(col("sh"), 64, 42L)), nd),
      ("simhash", docs.select(SimhashSignature(col("tok"))), nd),
      ("rolling_chunk_hashes", docs.select(RollingChunkHashes(col("text"), 6, 16)), nd),
      ("word_ngrams", docs.select(WordNgrams(col("text"), 3, false)), nd),
      ("sorted_intersect", docs.select(SortedIntersectCount(col("sa"), col("sb"))), nd),
      ("cosine", emb.select(CosineSimilarity(col("v"), col("v2"))), ne),
      ("hyperplane", emb.select(HyperplaneSignature(col("v"), 8, 16, 42L)), ne),
      ("pq_encode", emb.select(PqEncode(col("v"), codebook, m, k, sub)), ne),
      ("bottomk", docs.agg(bk(BottomK.hash64(col("doc_id")), lit(0.0))), nd),
      ("dhash", img.select(BmpDHash(col("payload"))), nd))
    cases.map { case (name, df, n) =>
      noop(df) // codegen and JIT before timing
      var reps = 0
      val t0 = System.nanoTime()
      while (reps < 3 || (System.nanoTime() - t0 < 400000000L && reps < 40)) {
        noop(df); reps += 1
      }
      s"functions.${name}_rows_per_s" -> n * reps / ((System.nanoTime() - t0) / 1e9)
    }.toMap
  }

  /** Useful-work ratios of the llm layer on the workload's inputs. */
  def llmRatios(data: String): Map[String, Any] = {
    // ingest's near-copies are among its arrivals, so they join the corpus
    val arrivals = new File(s"$data/arrivals")
    val docs = (Seq(s"$data/documents.parquet") ++
        (if (arrivals.isDirectory) Seq(arrivals.getPath) else Nil))
      .map(spark.read.parquet(_).select("doc_id", "text")).reduce(_ unionByName _)
    val bands = Dedup.minhashBandKeys(docs, numHashes = 64, bands = 16)
    val pairs = bands.alias("x").join(bands.alias("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct().localCheckpoint(true)
    val cand = pairs.count()
    val verified = Dedup.ngramJaccard(docs, pairs)
      .filter(col("jaccard") >= 0.5).count()

    // IVF-PQ: vectors in the 8 probed cells per query, per returned result
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
    val idx = Similarity.ivfPqIndexHashInit(emb)
    val sizes = idx.cellCodes.groupBy("cell").count().collect()
      .map(r => r.getAs[Number](0).intValue -> r.getLong(1)).toMap
    val qs = emb.filter(col("vec_id") < 10).select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum + 1e-300)
    }
    val probed = qs.map(q => idx.centroids.indices
      .sortBy(c => -cos(q, idx.centroids(c))).take(8).map(sizes.getOrElse(_, 0L)).sum).sum
    val recall = SparkEntry.queries("similarity_ivfpq_recall")(spark, data)
      .agg(avg(col("recall"))).head().getDouble(0)
    Map("llm.dedup_candidate_pairs" -> cand, "llm.dedup_verified_pairs" -> verified,
      "llm.dedup_verify_yield" -> (if (cand == 0) 0.0 else verified.toDouble / cand),
      "llm.ivf_candidates_per_result" -> probed.toDouble / math.max(1, qs.length * 10),
      "llm.ann_recall_at_10" -> recall)
  }
}
