package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val embeddings =
    spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("cosineTopK: hand-computed neighbors on a 3-vector corpus") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 1.0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(df, df.filter(col("vec_id") === 0L), k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
    // neighbor 2 first (cos = 1/sqrt(2)), then neighbor 1 (cos = 0)
    assert(out.map(_._1).toSeq == Seq(2L, 1L))
    assert(math.abs(out(0)._3 - 1.0 / math.sqrt(2)) < 1e-12)
    assert(math.abs(out(1)._3 - 0.0) < 1e-12)
  }

  test("cosine: zero-norm vector scores -1, never tops the ranking") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, Seq(1.0, 1.0)), (1L, Seq(0.9, 1.1)), (2L, Seq(0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(df, df.filter(col("vec_id") === 0L), k = 2)
      .orderBy("rank").collect()
    assert(out(0).getLong(1) == 1L)
    assert(out(1).getLong(1) == 2L && out(1).getDouble(3) == -1.0)
  }

  test("roundAt: cosine rounded before ranking") {
    val out = Similarity.cosineTopK(embeddings,
      embeddings.filter(col("vec_id") === 0L), k = 5, roundAt = 6)
    out.collect().foreach { r =>
      val c = r.getDouble(3)
      assert(math.abs(c * 1e6 - math.round(c * 1e6)) < 1e-6)
    }
  }

  test("cosine custom expression: bit-identical to the HOF formulation") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0 until 50).map { i =>
      (i.toLong,
        Seq.fill(16)(rng.nextDouble() * 2 - 1),
        if (i == 49) Seq.fill(16)(0.0) else Seq.fill(16)(rng.nextDouble()))
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select(
      Similarity.cosine(col("a"), col("b")).as("fast"),
      Similarity.cosineHof(col("a"), col("b")).as("hof"))
    out.collect().foreach { r =>
      // exact double equality, including the zero-norm -1 guard row
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0)
    }
    // null ELEMENT parity: both formulations map it to -1
    val withNull = df.limit(1).select(
      Similarity.cosine(array(lit(1.0), lit(null).cast("double")),
        col("a")).as("fast"),
      Similarity.cosineHof(array(lit(1.0), lit(null).cast("double")),
        col("a")).as("hof"))
    val r = withNull.head()
    assert(r.getDouble(0) == -1.0 && r.getDouble(1) == -1.0)
  }

  test("ivfIndex: rejects nAssign outside [1, nCells]") {
    intercept[IllegalArgumentException] {
      Similarity.ivfIndex(embeddings, nCells = 8, nAssign = 9)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfIndex(embeddings, nCells = 8, nAssign = 0)
    }
  }

  test("ivfTopK: recall >= 0.9 vs exact top-k on the 500-row fixture") {
    val queries = embeddings.filter(col("vec_id") < 20)
    val truth = Similarity.cosineTopK(embeddings, queries, k = 10)
    val approx = Similarity.ivfTopK(embeddings, queries, k = 10,
      nCells = 16, nProbe = 8)
    val recall = Similarity.recallAgainst(approx, truth)
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("ivfProbe exhaustive (nProbe = nCells) equals brute-force top-k exactly") {
    val queries = embeddings.filter(col("vec_id") < 20)
    val truth = Similarity.cosineTopK(embeddings, queries, k = 10, roundAt = 6)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val idx = Similarity.ivfIndex(embeddings, nCells = 16)
    val exhaustive = Similarity.ivfProbe(idx, queries, k = 10, nProbe = 16,
      roundAt = 6)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    // every cell probed ⇒ candidate set = whole corpus ⇒ identical rows,
    // ranks, and rounded cosines — the oracle contract of
    // similarity_ivf_exhaustive
    assert(exhaustive == truth)
  }

  test("pqIndex/pqProbe: codes shape, determinism, and recall vs exact") {
    val idx = Similarity.pqIndex(embeddings)
    // every indexed row carries m codes, each in [0, k)
    val bad = idx.codes.filter(size(col("codes")) =!= idx.m ||
      exists(col("codes"), c => c < 0 || c >= idx.k)).count()
    assert(bad == 0)
    assert(idx.codes.count() == embeddings.count())

    val queries = embeddings.filter(col("vec_id") < 20)
    val truth = Similarity.cosineTopK(embeddings, queries, k = 10)
    val approx = Similarity.pqProbe(idx, queries, k = 10)
    assert(approx.groupBy("query_id").count()
      .filter(col("count") =!= 10).count() == 0)
    val recall = Similarity.recallAgainst(approx, truth)
    // ADC-only is quantization-bounded — lossy codes reorder the tail
    // on these weakly-clustered synthetic embeddings
    assert(recall >= 0.4, s"pq adc-only recall=$recall")

    // the refine stage (exact re-rank of the ADC top-50 shortlist) is
    // the production shape and must recover high recall
    val refined = Similarity.pqProbe(idx, queries, k = 10,
      refine = 50, corpus = embeddings)
    val refinedRecall = Similarity.recallAgainst(refined, truth)
    assert(refinedRecall >= 0.85, s"pq refined recall=$refinedRecall")
    assert(refinedRecall > recall)

    // seeded fits ⇒ identical output across independent builds
    val again = Similarity.pqProbe(Similarity.pqIndex(embeddings),
      queries, k = 10)
    assert(approx.exceptAll(again).count() == 0)
  }

  test("ivfPqProbe: two-level ANN recall with refine; codes-only probe side") {
    val idx = Similarity.ivfPqIndex(embeddings)
    // the probe-side artifact carries codes, never raw embeddings
    assert(idx.cellCodes.columns.toSet ==
      Set("cell", "neighbor_id", "codes", "norm"))
    val queries = embeddings.filter(col("vec_id") < 20)
    val truth = Similarity.cosineTopK(embeddings, queries, k = 10)
    val approx = Similarity.ivfPqProbe(idx, queries, k = 10, nProbe = 8,
      refine = 50, corpus = embeddings)
    val recall = Similarity.recallAgainst(approx, truth)
    // bounded by BOTH stages: cell pruning (ivf recall >= 0.9 at
    // nProbe=8) and the ADC shortlist; refine recovers exact ordering
    // over the probed cells
    assert(recall >= 0.75, s"ivfpq recall=$recall")
    // determinism across independent builds (both fits seeded)
    val again = Similarity.ivfPqProbe(Similarity.ivfPqIndex(embeddings),
      queries, k = 10, nProbe = 8, refine = 50, corpus = embeddings)
    assert(approx.exceptAll(again).count() == 0)
  }

  test("pqIndexHashInit: codebook rows are exactly the idHash-ranked " +
      "corpus rows; probe deterministic and exhaustively rankable") {
    val idx = Similarity.pqIndexHashInit(embeddings)
    assert(idx.m == 16 && idx.k == 64 && idx.subDim == 4)
    // re-derive the selection rule independently (the same arithmetic
    // the DuckDB oracle uses) and check the codebook content: centroid
    // c of subspace j must equal dims [j*4, j*4+4) of the c-th row in
    // ((id % p) * 2654435761 % p, id) order
    val expected = embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy { case (id, _) =>
        (((id % 1048573L) * Similarity.PqHashMultiplier) % 1048573L, id) }
      .take(64)
    val flat = idx.codebook.value
    for (c <- 0 until 64; j <- 0 until 16; t <- 0 until 4) {
      assert(flat((j * 64 + c) * 4 + t) == expected(c)._2(j * 4 + t),
        s"codebook mismatch at c=$c j=$j t=$t")
    }
    // trainless + hash-drawn ⇒ bitwise identical across builds
    val queries = embeddings.filter(col("vec_id") < 20)
    val p1 = Similarity.pqProbe(idx, queries, k = 10, roundAt = 6)
    val p2 = Similarity.pqProbe(Similarity.pqIndexHashInit(embeddings),
      queries, k = 10, roundAt = 6)
    assert(p1.exceptAll(p2).count() == 0)
    // sampled codebooks still rank: the refine stage recovers recall
    // like the Lloyd-fit path
    val truth = Similarity.cosineTopK(embeddings, queries, k = 10)
    val refined = Similarity.pqProbe(idx, queries, k = 10,
      refine = 50, corpus = embeddings)
    val recall = Similarity.recallAgainst(refined, truth)
    assert(recall >= 0.8, s"hash-init refined recall=$recall")
  }

  test("ivfPqIndexHashInit: exhaustive probe (nProbe = nCells) equals " +
      "the flat hash-init PQ probe bitwise") {
    // with every cell probed the candidate set is the whole corpus, so
    // the two-level composition must reduce to the flat ADC scan over
    // the SAME codebook — pinning that cell assignment loses no rows
    // and ADC scoring is cell-independent
    val queries = embeddings.filter(col("vec_id") < 20)
    val ivfpq = Similarity.ivfPqProbe(
      Similarity.ivfPqIndexHashInit(embeddings, nCells = 16),
      queries, k = 10, nProbe = 16, roundAt = 6)
    val flat = Similarity.pqProbe(Similarity.pqIndexHashInit(embeddings),
      queries, k = 10, roundAt = 6)
    assert(ivfpq.exceptAll(flat).count() == 0 &&
      flat.exceptAll(ivfpq).count() == 0)
    // and at the registered nProbe=8 the pruned probe stays close to
    // the flat ADC ordering (cell pruning is the only loss)
    val pruned = Similarity.ivfPqProbe(
      Similarity.ivfPqIndexHashInit(embeddings, nCells = 16),
      queries, k = 10, nProbe = 8, roundAt = 6)
    val recallVsFlat = Similarity.recallAgainst(pruned, flat)
    assert(recallVsFlat >= 0.6, s"pruned-vs-flat recall=$recallVsFlat")
  }

  test("labelOutliers: planted far vector flagged; rate tracks pct; " +
      "flag deterministic") {
    val s = spark
    import s.implicits._
    // plant one vector far outside label 0's cluster
    val planted = Seq((900000L,
      Array.fill(64)(100.0f).toSeq, 0))
      .toDF("vec_id", "embedding", "label")
    val withPlant = embeddings.select("vec_id", "embedding", "label")
      .unionByName(planted)
    val out = Similarity.labelOutliers(withPlant)
    val rows = out.collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getInt(3))).toMap
    assert(rows(900000L)._2 == 1, s"planted outlier not flagged: ${rows(900000L)}")
    // planted distance dwarfs every natural one in its label
    val naturalMax = out.filter(col("label") === 0 &&
      col("vec_id") =!= 900000L)
      .agg(max(col("dist"))).head().getDouble(0)
    assert(rows(900000L)._1 > naturalMax * 2)
    // P95 cut ⇒ roughly 5% flagged overall
    val n = out.count().toDouble
    val flagged = out.filter(col("is_outlier") === 1).count().toDouble
    assert(flagged / n > 0.01 && flagged / n < 0.10,
      s"outlier rate ${flagged / n}")
    // deterministic across runs
    val again = Similarity.labelOutliers(withPlant)
    assert(out.exceptAll(again).count() == 0)
  }

  test("ivfIndexHashInit: exhaustive probe equals brute-force top-k; " +
      "pruned probe loses only via cell pruning") {
    val queries = embeddings.filter(col("vec_id") < 20)
    val idx = Similarity.ivfIndexHashInit(embeddings, nCells = 16)
    // nProbe = nCells visits every cell → candidate set = whole corpus
    // → must equal the brute-force twin bitwise (the ivf_exhaustive
    // contract, now with the trainless coarse quantizer)
    val exhaustive = Similarity.ivfProbe(idx, queries, k = 10,
      nProbe = 16, roundAt = 6)
    val truth = Similarity.cosineTopK(embeddings, queries, k = 10,
      roundAt = 6)
    assert(exhaustive.exceptAll(truth).count() == 0 &&
      truth.exceptAll(exhaustive).count() == 0)
    // hash-drawn centroids still partition usefully: the registered
    // nProbe=4 probe keeps a sane recall floor vs exact
    val pruned = Similarity.ivfProbe(idx, queries, k = 10,
      nProbe = 4, roundAt = 6)
    val recall = Similarity.recallAgainst(pruned, truth)
    assert(recall >= 0.4, s"hash-init ivf nProbe=4 recall=$recall")
    // persisted round-trip is the identity (the registered
    // similarity_ivf_persisted contract)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_hi")
    val table = "graft_ivf_hi_cells"
    try {
      Similarity.writeIndex(idx, table, s"$tmp/centroids")
      val loaded = Similarity.readIndex(spark, table, s"$tmp/centroids")
      val reprobed = Similarity.ivfProbe(loaded, queries, k = 10,
        nProbe = 4, roundAt = 6)
      assert(reprobed.exceptAll(pruned).count() == 0 &&
        pruned.exceptAll(reprobed).count() == 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(tmp.toFile)
    }
  }

  test("pq persistence + append: reloaded probe identical, batch visible") {
    val idx = Similarity.pqIndex(embeddings)
    val queries = embeddings.filter(col("vec_id") < 5)
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq")
    try {
      Similarity.writePqIndex(idx, s"$tmp/codes", s"$tmp/codebook")
      val loaded = Similarity.readPqIndex(spark, s"$tmp/codes",
        s"$tmp/codebook")
      assert((loaded.m, loaded.k, loaded.subDim) ==
        (idx.m, idx.k, idx.subDim))
      assert(loaded.codebook.value.sameElements(idx.codebook.value))
      val a = Similarity.pqProbe(idx, queries, k = 10)
      val b = Similarity.pqProbe(loaded, queries, k = 10)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)

      // append: a near-copy of vec 0 becomes probe-visible, codebook
      // untouched (same broadcast), original index unchanged
      val s = spark
      import s.implicits._
      val v0 = embeddings.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      val batch = Seq((777777L, v0.map(_ * 1.001).toSeq))
        .toDF("vec_id", "embedding")
      val grown = Similarity.pqAppend(idx, batch)
      val hit = Similarity.pqProbe(grown,
          embeddings.filter(col("vec_id") === 0L), k = 10,
          refine = 50, corpus = embeddings.select("vec_id", "embedding")
            .unionByName(batch.select(col("vec_id"), col("embedding"))))
        .filter(col("neighbor_id") === 777777L)
      assert(hit.count() == 1)
      assert(hit.head().getInt(2) == 1) // near-copy ranks first
      assert(idx.codes.filter(col("neighbor_id") === 777777L).count() == 0)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(tmp.toFile)
    }
  }

  test("pqIndex: rejects a dim not divisible by m; drops null embeddings") {
    val s = spark
    import s.implicits._
    intercept[IllegalArgumentException] {
      Similarity.pqIndex(
        Seq((0L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "embedding"), m = 2)
    }
    val withNull = embeddings.select("vec_id", "embedding").unionByName(
      Seq((9999L, null.asInstanceOf[Seq[Double]]))
        .toDF("vec_id", "embedding"))
    val idx = Similarity.pqIndex(withNull)
    assert(idx.codes.filter(col("neighbor_id") === 9999L).count() == 0)
  }

  test("ivfAppend: appended vectors are probe-visible without a refit") {
    val s = spark
    import s.implicits._
    val base = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val idx = Similarity.ivfIndex(base, nCells = 16)
    // batch = a near-copy of vec 0 under a fresh id
    val batch = base.filter(col("vec_id") === 0L)
      .select(lit(900100L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(1e-4)).otherwise(x))
          .as("embedding"))
    val grown = Similarity.ivfAppend(idx, batch)
    assert(grown.nAssign == idx.nAssign)
    // probing with vec 0 must now return the appended near-copy as the
    // top neighbor (cosine ~ 1.0)
    val top = Similarity.ivfProbe(grown, base.filter(col("vec_id") === 0L),
      k = 1).head()
    assert(top.getLong(1) == 900100L, top.toString)
    assert(top.getDouble(3) > 0.999)
    // the original index object is untouched (no in-place mutation)
    val before = Similarity.ivfProbe(idx, base.filter(col("vec_id") === 0L),
      k = 1).head()
    assert(before.getLong(1) != 900100L)
  }

  test("ivfIndex: null embeddings are excluded from the fit with a clear error") {
    val s = spark
    import s.implicits._
    val withNulls = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
      .unionByName(Seq((99999L, null: Seq[Double]))
        .toDF("vec_id", "embedding"))
    // a null row in the corpus must not NPE the quantizer fit
    val idx = Similarity.ivfIndex(withNulls, nCells = 4,
      fitSampleFraction = 1.0)
    assert(idx.centroids.length == 4)
    // an all-null corpus fails fast with a meaningful message
    val allNull = Seq((1L, null: Seq[Double]), (2L, null: Seq[Double]))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfIndex(allNull, nCells = 2, fitSampleFraction = 1.0)
    }
    assert(e.getMessage.contains("null"))
  }

  test("sqIndex: codes shaped dim × [0,255]; hand-checked quantization") {
    val s = spark
    import s.implicits._
    // hand fixture: per-dim bounds [0, 10] × [0, 10]
    val df = Seq(
      (0L, Seq(0.0, 10.0)), (1L, Seq(10.0, 0.0)), (2L, Seq(5.0, 5.0))
    ).toDF("vec_id", "embedding")
    val idx = Similarity.sqIndex(df)
    assert(idx.vmin.toSeq == Seq(0.0, 0.0))
    assert(idx.vdiff.toSeq == Seq(10.0, 10.0))
    val codes = idx.codes.orderBy("neighbor_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2)))
    // (5-0)/10*255 + 0.5 = 128.0 → floor 128 (half-UP, the oracle's rule)
    assert(codes.map(_._2.toSeq).toSeq ==
      Seq(Seq(0, 255), Seq(255, 0), Seq(128, 128)))
    // rnorm = norm of the RECONSTRUCTED vector: 128*10/255 per dim
    val r5 = 128.0 * 10.0 / 255.0
    assert(math.abs(codes(2)._3 - math.sqrt(2 * r5 * r5)) < 1e-12)

    // full fixture: every row encodes, all codes in range
    val full = Similarity.sqIndex(embeddings)
    assert(full.codes.count() == embeddings.count())
    val bad = full.codes.filter(
      size(col("codes")) =!= full.vmin.length ||
        exists(col("codes"), c => c < 0 || c > 255)).count()
    assert(bad == 0)
  }

  test("sqProbe: high recall ADC-only (trainless quantizer); refine exact") {
    val queries = embeddings.filter(col("vec_id") < 20)
    val truth = Similarity.cosineTopK(embeddings, queries, k = 10)
    val idx = Similarity.sqIndex(embeddings)
    val approx = Similarity.sqProbe(idx, queries, k = 10)
    assert(approx.groupBy("query_id").count()
      .filter(col("count") =!= 10).count() == 0)
    val recall = Similarity.recallAgainst(approx, truth)
    // 8-bit/dim distortion is tiny (range/255 per dim) — unlike PQ's
    // subspace codebooks the quantized ordering tracks the exact one
    assert(recall >= 0.9, s"sq adc-only recall=$recall")
    val refined = Similarity.sqProbe(idx, queries, k = 10,
      refine = 50, corpus = embeddings)
    val refinedRecall = Similarity.recallAgainst(refined, truth)
    assert(refinedRecall >= 0.95, s"sq refined recall=$refinedRecall")
    // deterministic: no seeds anywhere — two independent builds agree
    val again = Similarity.sqProbe(Similarity.sqIndex(embeddings),
      queries, k = 10)
    assert(approx.exceptAll(again).count() == 0)
  }

  test("sqAppend: out-of-range batch CLAMPS; near-copy probe-visible; " +
      "ill-shaped rows cannot poison bounds") {
    val s = spark
    import s.implicits._
    val base = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val idx = Similarity.sqIndex(base)
    // appended near-copy of vec 0 (inside bounds) ranks first on probe
    val v0 = base.filter(col("vec_id") === 0L)
      .head().getSeq[Double](1)
    val batch = Seq(
      (888888L, v0.map(_ * 1.0001).toSeq),
      // far outside every bound: must clamp, not throw or over-range
      (888889L, Seq.fill(v0.length)(1e9))
    ).toDF("vec_id", "embedding")
    val grown = Similarity.sqAppend(idx, batch)
    val outOfRange = grown.codes.filter(
      exists(col("codes"), c => c < 0 || c > 255)).count()
    assert(outOfRange == 0)
    assert(grown.codes.filter(col("neighbor_id") === 888889L).count() == 1)
    val hit = Similarity.sqProbe(grown,
        base.filter(col("vec_id") === 0L), k = 10, refine = 50,
        corpus = base.unionByName(batch))
      .filter(col("neighbor_id") === 888888L)
    assert(hit.count() == 1 && hit.head().getInt(2) == 1)
    // the original index is untouched
    assert(idx.codes.filter(col("neighbor_id") === 888888L).count() == 0)

    // a wrong-length row is excluded from BOTH bounds and codes: the
    // quantizer of the clean corpus is bit-identical with it present
    val poisoned = base.unionByName(
      Seq((777777L, Seq(1e9, 1e9))).toDF("vec_id", "embedding"))
    val idx2 = Similarity.sqIndex(poisoned)
    assert(idx2.vmin.sameElements(idx.vmin) &&
      idx2.vdiff.sameElements(idx.vdiff))
    assert(idx2.codes.filter(col("neighbor_id") === 777777L).count() == 0)
  }

  test("sq persistence: reloaded probe identical to in-memory") {
    val idx = Similarity.sqIndex(embeddings)
    val queries = embeddings.filter(col("vec_id") < 5)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sq")
    try {
      Similarity.writeSqIndex(idx, s"$tmp/codes", s"$tmp/bounds")
      val loaded = Similarity.readSqIndex(spark, s"$tmp/codes", s"$tmp/bounds")
      assert(loaded.vmin.sameElements(idx.vmin) &&
        loaded.vdiff.sameElements(idx.vdiff))
      val a = Similarity.sqProbe(idx, queries, k = 10, roundAt = 6)
      val b = Similarity.sqProbe(loaded, queries, k = 10, roundAt = 6)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
      // the persisted probe never references the embedding column on
      // the codes side — that scan reads (neighbor_id, codes, rnorm)
      // only (the query side legitimately reads its raw embeddings)
      val scans = b.queryExecution.executedPlan.toString
        .linesIterator.filter(l =>
          l.contains("Scan parquet") && l.contains("codes#")).toSeq
      assert(scans.nonEmpty, "expected a codes-parquet scan")
      assert(scans.forall(!_.contains("embedding#")), scans.mkString("\n"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(tmp.toFile)
    }
  }

  test("writeIndex/readIndex: persisted probe matches the in-memory probe") {
    val queries = embeddings.filter(col("vec_id") < 20)
    val idx = Similarity.ivfIndex(embeddings, nCells = 16)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.writeIndex(idx, "graft_test_ivf_cells", s"$tmp/centroids",
      numBuckets = 4)
    try {
      val loaded = Similarity.readIndex(spark,
        "graft_test_ivf_cells", s"$tmp/centroids")
      assert(loaded.nAssign == idx.nAssign)
      assert(loaded.centroids.length == idx.centroids.length)
      assert(loaded.centroids.zip(idx.centroids)
        .forall { case (a, b) => a.sameElements(b) })
      val mem = Similarity.ivfProbe(idx, queries, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val per = Similarity.ivfProbe(loaded, queries, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(per == mem)
      // the bucketed cells side joins with NO Exchange above its scan
      // even when the probe batch can't broadcast (the at-scale case the
      // bucketing exists for: index shuffled once at build, never again)
      val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val probes = queries
          .select(col("vec_id").as("query_id"),
            col("embedding").cast("array<double>").as("q_emb"))
          .withColumn("cell", explode(array(lit(0), lit(1))))
        val joined = loaded.cells.join(probes, "cell")
        joined.count()
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin") ||
          plan.contains("ShuffledHashJoin"), plan.take(800))
        // exactly one Exchange in the whole join: the probe side's
        assert("Exchange".r.findAllIn(
          plan.replace("ReusedExchange", "RE")).length == 1,
          plan.take(1500))
      } finally saved match {
        case Some(v) =>
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_test_ivf_cells")
  }

  test("mmrRerank: a cloned top hit is skipped for the diverse " +
      "candidate at lambda = 0.5; greedy steps never repeat") {
    val s = spark
    import s.implicits._
    // q = e0; d1/d2 identical (rel .90, mutual sim 1); d3 mirrored
    // across e0 (rel .90, sim to d1 ≈ .62) — plain topk ranks the
    // clone 2nd, MMR must not
    val rows = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (100L, Array(0.9f, 0.436f, 0.0f, 0.0f)),
      (101L, Array(0.9f, 0.436f, 0.0f, 0.0f)),
      (102L, Array(0.9f, -0.436f, 0.0f, 0.0f)))
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(emb, emb.filter(col("vec_id") === 1L),
        k = 3, select = 2, lambda = 0.5, oneMinusLambda = 0.5)
      .orderBy("mmr_rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(100L, 102L))
    // plain topk WOULD return the clone second (ties by id)
    val topk = Similarity.cosineTopK(emb,
        emb.filter(col("vec_id") === 1L), k = 2, roundAt = 6)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(topk == Seq(100L, 101L))
  }

  test("mmrRerank: a non-integral, non-string query id is rejected " +
      "(the greedy loop groups by its string form)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .withColumn("vec_id", col("vec_id").cast("decimal(10,2)"))
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrRerank(emb, emb.filter(col("vec_id") < 5))
    }
    assert(e.getMessage.contains("decimal(10,2)"), e.getMessage)
  }

  test("mmrRerank: 5 distinct picks per query on real embeddings; " +
      "step 1 equals the relevance argmax") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val out = Similarity.mmrRerank(emb, q, k = 10, select = 5).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 5)
    byQ.foreach { case (qid, rows) =>
      assert(rows.length == 5, s"query $qid")
      assert(rows.map(_.getAs[Long]("neighbor_id")).distinct.length == 5)
      assert(rows.map(_.getAs[Int]("mmr_rank")).sorted.toSeq ==
        Seq(1, 2, 3, 4, 5))
    }
    val top1 = Similarity.cosineTopK(emb, q, k = 1, roundAt = 6)
      .collect().map(r =>
        r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    out.filter(_.getAs[Int]("mmr_rank") == 1).foreach { r =>
      assert(top1(r.getAs[Long]("query_id")) ==
        r.getAs[Long]("neighbor_id"))
    }
  }

  test("mmrRerank: corpus-as-queries (|Q| = 200) runs the per-query " +
      "greedy distributed — the r19 flatMapGroups shape that removed " +
      "the |Q|-linear driver collect — with full per-query output") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .where(col("embedding").isNotNull && size(col("embedding")) === 64)
    val out = Similarity.mmrRerank(emb, emb, k = 5, select = 3).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == emb.count())
    byQ.foreach { case (qid, rows) =>
      assert(rows.length == 3, s"query $qid")
      assert(rows.map(_.getAs[Long]("neighbor_id")).distinct.length == 3)
      assert(rows.map(_.getAs[Int]("mmr_rank")).sorted.toSeq == Seq(1, 2, 3))
    }
  }

  test("randomProjection: basis-vector rows read the sign matrix " +
      "directly; the matrix matches the md5 recipe") {
    val s = spark
    import s.implicits._
    // e_i (1 at dim i) projects to s(i, j)/√8 exactly
    val basis = Seq(0, 5, 63).map { i =>
      (i.toLong, Array.tabulate(64)(d => if (d == i) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(basis).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    for (i <- Seq(0, 5, 63); j <- 0 until 8) {
      val sign = if (Similarity.md5Hash60(s"$i:$j") % 2 == 1) 1.0 else -1.0
      val want = math.floor(sign / math.sqrt(8.0) * 1e6 + 0.5) / 1e6
      val got = out(i.toLong).getAs[Double](s"proj_$j")
      // Spark round() is BigDecimal HALF_UP — same answer here since
      // ±1/√8 is nowhere near a 6dp half boundary
      assert(math.abs(got - want) < 1e-9, s"e_$i proj_$j: $got vs $want")
    }
    // unit inputs: projected norm == 1 exactly (one nonzero coordinate)
    out.values.foreach { r =>
      assert(r.getAs[Double]("l2_orig") == 1.0)
      assert(r.getAs[Double]("l2_proj") == 1.0)
    }
  }

  test("randomProjection: JL norm preservation within loose bounds " +
      "on real embeddings; deterministic across runs") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val out = Similarity.randomProjection(emb)
    val rows = out.collect()
    assert(rows.length == emb.count())
    // E[l2_proj²] = l2_orig² — individual rows concentrate well inside
    // [1/4, 4]× for k=8 (loose enough to never flake, tight enough to
    // catch a dropped 1/√k or a sign-matrix bug)
    rows.foreach { r =>
      val (o, p) = (r.getAs[Double]("l2_orig"), r.getAs[Double]("l2_proj"))
      assert(o > 0.0)
      assert(p / o > 0.25 && p / o < 4.0, s"vec ${r.get(0)}: ratio ${p / o}")
    }
    val again = Similarity.randomProjection(emb).collect()
    assert(rows.map(_.toString).sorted.toSeq ==
      again.map(_.toString).sorted.toSeq)
  }

  test("ivfDelete: tombstoned vectors vanish from probes without a " +
      "refit; survivors re-rank exactly as the full probe minus the " +
      "deleted rows (r18)") {
    val idx = Similarity.ivfIndexHashInit(embeddings, nCells = 16)
    val deleted = embeddings.filter(col("vec_id") % 7 === 3)
      .select("vec_id")
    val deletedSet = deleted.collect().map(_.getLong(0)).toSet
    assert(deletedSet.nonEmpty)
    val queries = embeddings.filter(col("vec_id") < 5)
    val after = Similarity.ivfProbe(Similarity.ivfDelete(idx, deleted),
        queries, k = 10, nProbe = 4, roundAt = 6)
      .collect()
    assert(after.length == 5 * 10) // plenty of survivors per cell
    assert(after.forall(r =>
      !deletedSet.contains(r.getAs[Long]("neighbor_id"))))
    // frozen-quantizer semantics: probed cells and candidate scores
    // are the FULL index's — so the delete-probe must equal the full
    // probe's candidate ranking with deleted rows dropped and ranks
    // recomputed (k=600 >= any candidate set on this fixture, so the
    // full probe enumerates every candidate)
    val ref = Similarity.ivfProbe(idx, queries, k = 600, nProbe = 4,
        roundAt = 6)
      .collect()
      .filter(r => !deletedSet.contains(r.getAs[Long]("neighbor_id")))
      .groupBy(_.getAs[Long]("query_id"))
      .toSeq
      .flatMap { case (q, rows) =>
        rows.sortBy(r =>
            (-r.getAs[Double]("cosine"), r.getAs[Long]("neighbor_id")))
          .take(10).zipWithIndex
          .map { case (r, i) =>
            (q, r.getAs[Long]("neighbor_id"), i + 1,
              r.getAs[Double]("cosine")) }
      }.toSet
    val got = after.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"),
      r.getAs[Double]("cosine"))).toSet
    assert(got == ref)
  }
}
