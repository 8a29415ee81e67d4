package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.features._
import graft.llm._
import graft.operators.{Events, Profile, RangeJoin, Relational, Sketches, Skew}
import graft.sources.Sources
import graft.streaming.StreamOps
import graft.SparkEntry._

/** Similarity search / ann (exact top-k, ivf, pq, ivfpq, sq8, mmr, random projection) and embedding diagnostics — one slice of [[SparkEntry.queries]].
  *
  * Registration bodies are the pre-split [[SparkEntry]] map entries
  * moved VERBATIM (r16 verdict item 7: the per-family OracleSql file
  * pattern applied to the query registry, which had regrown to 3,200+
  * lines). Shared fixtures/harnesses stay on [[SparkEntry]] as
  * private[graft] members, wildcard-imported here, so the bodies did
  * not change; [[SparkEntry.queries]] assembles the slices and pins
  * key-disjointness. */
private[graft] object EntryQueriesSimilarity {
  /** The one recall aggregation under the four `*_recall` rows:
    * per query, how many of the exact cosine top-10 (6dp, the
    * similarity_topk leg) the `approx` probe of the first 10 vectors
    * found. `approx` gets `(session, dir, embeddings, queries)`. */
  private def recallAt10(
      approx: (SparkSession, String, DataFrame, DataFrame) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = embeddings(s, dir)
    val qs = emb.filter(col("vec_id") < 10)
    val truth = Similarity.cosineTopK(emb, qs, k = 10, roundAt = 6)
      .select("query_id", "neighbor_id")
    val hits = approx(s, dir, emb, qs)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    truth.join(hits, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum(col("hit")), lit(0)).cast("long").as("n_hit"),
        round(coalesce(sum(col("hit")), lit(0)) / count(lit(1)), 6)
          .as("recall"))
  }

  // Seq, not Map (r17 advice #5): a key accidentally registered twice
  // in ONE literal would silently last-wins inside a Map before any
  // disjointness check could see it; as a Seq the duplicate survives
  // to SparkEntry.queries' require, which fails loudly.
  def entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ---------------------------------------- §7 LLM-pipeline: similarity
    "similarity_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 10),
        k = 10, roundAt = 6)
    }),
    "embedding_label_stats" -> ((s, dir) =>
      Similarity.labelStats(embeddings(s, dir))),
    // Label-centroid outlier screen: distance from each vector to its
    // label's mean vector, flagged past the per-label exact P95 of the
    // 6dp-ROUNDED distances (threshold inputs bit-identical across
    // engines, so the flag can't flip on a summation-order ulp).
    "embedding_label_outliers" -> ((s, dir) =>
      Similarity.labelOutliers(embeddings(s, dir))),
    // Johnson–Lindenstrauss ±1 sign projection 64→8 dims (Achlioptas
    // 2003), signs drawn by the cross-engine md5 recipe instead of an
    // RNG — the hash-init quantizer trick applied to projections, so
    // the matrix, every projected coordinate, and the JL norm
    // evidence (l2_proj vs l2_orig) are all hash-exact under an
    // oracle that re-derives the signs in SQL. Narrow, shuffle-free,
    // codegen'd per-row fold — the vector-compression stage that cuts
    // downstream ANN/cluster bytes 8× at 100 TB.
    "embedding_random_projection" -> ((s, dir) =>
      Similarity.randomProjection(embeddings(s, dir), k = 8, dim = 64)),
    // MMR diversity re-ranking of the exact top-10 (Carbonell &
    // Goldstein 1998 — the RAG context-window re-ranker): 5 greedy
    // steps UNROLLED, relevance and pairwise sims 6dp-rounded before
    // every argmax, λ/1−λ as separate literals — the whole selection
    // trajectory hash-exact. Everything past the topk scan is
    // |queries|·k-bounded.
    "similarity_mmr" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.mmrRerank(emb, emb.filter(col("vec_id") < 10),
        k = 10, select = 5)
    }),
    // IVF-Flat ANN, registered with the HASH-INIT coarse quantizer
    // (round 10): centroids = unit-normalized hash-drawn rows, so cell
    // assignment (cosine argmax, largest-cell ties), top-4 probe-cell
    // ranking and the in-cell exact-cosine top-k are all restated in
    // the DuckDB oracle — hash-EXACT. The production Lloyd fit
    // (ivfIndex, nAssign=2) keeps its recall specs; the exhaustive
    // Lloyd probe stays oracle-pinned as similarity_ivf_exhaustive.
    // Round 11 (VERDICT item 5): probes the per-session cached index —
    // steady-state probe cost under the timer; the build cost has its
    // own oracle row + timer below (similarity_ivf_build). Rows are
    // identical to a fresh build (hash-init is deterministic).
    "similarity_ivf" -> ((s, dir) =>
      Similarity.ivfProbe(cachedIvfHashInit(s, dir),
        embeddings(s, dir).filter(col("vec_id") < 10),
        k = 10, nProbe = 4, roundAt = 6)),
    // The living index's DELETE leg (round 18): drop every 7th-mod-3
    // vector from the cached index WITHOUT refitting (one anti-join on
    // neighbor_id; the quantizer stays frozen — the ivfAppend contract
    // in reverse), then probe. ~1/7 of the corpus vanishes from the
    // candidate cells, so deleted ids that held top-10 slots in
    // similarity_ivf are replaced by the next survivors — the oracle
    // is the shared probe chain with the survivor filter applied to
    // the candidate set (the same frozen full-corpus quantizer CTE:
    // deletion must NOT move centroids to hash).
    "similarity_ivf_delete" -> ((s, dir) =>
      Similarity.ivfProbe(
        Similarity.ivfDelete(cachedIvfHashInit(s, dir),
          embeddings(s, dir).filter(col("vec_id") % 7 === 3)
            .select(col("vec_id"))),
        embeddings(s, dir).filter(col("vec_id") < 10),
        k = 10, nProbe = 4, roundAt = 6)),
    // The build half under its own named timer (round 11): a FRESH
    // uncached hash-init build, materialized through its per-cell
    // occupancy/id-checksum profile — count+sum force the full corpus
    // assignment pass, and the profile is itself the index-health
    // artifact an operator inspects before enabling a probe path (empty
    // or mega cells = bad quantizer draw). Integer aggregates only, so
    // the row is hash-EXACT against the oracle's re-derived assignment.
    "similarity_ivf_build" -> ((s, dir) =>
      Similarity.ivfIndexHashInit(embeddings(s, dir)).cells
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("neighbor_id")).as("id_sum"),
          min(col("neighbor_id")).as("min_id"),
          max(col("neighbor_id")).as("max_id"))),
    // Build → persist (bucketed cells + centroid artifact) → reload →
    // probe: the cross-session deployment shape. Deterministic (seeded
    // build), so identical rows to probing the in-memory index —
    // SimilaritySpec asserts the round-trip equality and the
    // Exchange-free cells scan. The table name is minted per invocation
    // (concurrent sessions must not collide on one catalog entry); the
    // scratch scope drops both artifacts after the probe has run.
    // Round 10: the persisted round-trip now carries the hash-init
    // index, so "write → reload → probe == in-memory probe" graduates
    // from a spec-only equality to a hash-EXACT oracle row (same
    // DuckDB twin as similarity_ivf — persistence must be identity).
    "similarity_ivf_persisted" -> ((s, dir) => scratch(s) { sc =>
      val emb = embeddings(s, dir)
      val table = sc.table("graft_ivf_cells")
      Similarity.writeIndex(Similarity.ivfIndexHashInit(emb),
        table, s"${sc.dir}/centroids")
      val loaded = Similarity.readIndex(s, table, s"${sc.dir}/centroids")
      Similarity.ivfProbe(loaded, emb.filter(col("vec_id") < 10),
        k = 10, nProbe = 4, roundAt = 6)
    }),
    // Driver-visible ANN recall (round 14, VERDICT item 3): recall@10
    // of the hash-init IVF probe (nProbe=4) against the exact cosine
    // top-k, per query. Both legs are the deterministic quantizer
    // pipelines already under oracle (similarity_ivf/similarity_topk),
    // so the recall NUMBER itself is hash-exact — the quality of the
    // cell-pruned scan is pinned, not just its shape. The truth leg
    // broadcasts the 10 query vectors (cosineTopK's contract); the
    // membership join is per-query top-10 rows on both sides.
    "similarity_ivf_recall" -> recallAt10((s, dir, _, qs) =>
      Similarity.ivfProbe(cachedIvfHashInit(s, dir), qs,
        k = 10, nProbe = 4, roundAt = 6)),

    // Product quantization: codes-only ANN scan (the compressed-corpus
    // complement of IVF's pruned scan). Registered with the HASH-INIT
    // codebook (pqIndexHashInit: centroids = subvector slices of the
    // 64 corpus rows drawn by the engine-portable idHash rule) so the
    // ENTIRE pipeline — codebook derivation, encode argmin, LUT, ADC
    // scan, ranking — is deterministic arithmetic with a DuckDB twin:
    // hash-EXACT like similarity_sq8, not just recall-tested.
    // Registered without refine so the oracle adjudicates the
    // quantized ordering itself. The production Lloyd-fit codebook
    // (pqIndex) and the refine=50 stage run the SAME encode/ADC/rank
    // machinery and keep their recall bounds in SimilaritySpec.
    "similarity_pq" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.pqProbe(
        Similarity.pqIndexHashInit(emb),
        emb.filter(col("vec_id") < 10), k = 10, roundAt = 6)
    }),

    // Round 15 (r14 verdict item 4): the PQ counterpart of
    // similarity_ivf_recall — with no cell pruning in play, this
    // number isolates pure ADC QUANTIZATION loss (4-dim subvector
    // codes reordering true neighbors out of the top-10). Same
    // deterministic hash-init codebook as similarity_pq, so the
    // recall is hash-exact against an oracle re-deriving BOTH
    // rankings.
    "similarity_pq_recall" -> recallAt10((_, _, emb, qs) =>
      Similarity.pqProbe(Similarity.pqIndexHashInit(emb), qs,
        k = 10, roundAt = 6)),

    // Scalar quantization (SQ8) — the TRAINLESS quantizer: bounds are
    // one exact min/max aggregate, so unlike the seeded-fit indexes
    // (IVF/PQ) the ENTIRE index — encode, reconstruction, ADC scoring,
    // ranking — is deterministic arithmetic with a DuckDB twin:
    // hash-EXACT, not just recall-tested. Registered without refine so
    // the oracle adjudicates the quantized ordering itself; the
    // refine=50 production path is recall-spec'd in SimilaritySpec.
    "similarity_sq8" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.sqProbe(Similarity.sqIndex(emb),
        emb.filter(col("vec_id") < 10), k = 10, roundAt = 6)
    }),

    // Round 15 (r14 verdict item 4): SQ8's recall row — the loss of
    // 8-bit per-dim reconstruction alone, the gentlest quantizer in
    // the family (expected near-1 recall; the row makes that a gated
    // number instead of a spec-only bound). Trainless exact bounds →
    // hash-exact.
    "similarity_sq8_recall" -> recallAt10((_, _, emb, qs) =>
      Similarity.sqProbe(Similarity.sqIndex(emb), qs, k = 10, roundAt = 6)),

    // The composed two-level ANN (FAISS IVFPQ): coarse-cell pruning ×
    // compressed-code scan. Registered with BOTH quantizers hash-init
    // (ivfPqIndexHashInit: unit-normalized coarse centroids and PQ
    // codebooks drawn by two decorrelated idHash rules, nAssign=1) so
    // cell assignment, probe-cell ranking, encode, ADC and top-k are
    // all restated in the DuckDB oracle — the two-level composition
    // itself is hash-verified. Production recall shape (Lloyd fits,
    // nAssign=2, refine) stays ivfPqIndex/ivfPqProbe, recall-spec'd.
    // Round 11 (VERDICT item 5): cached-index steady-state probe, build
    // under similarity_ivfpq_build — same amortization as similarity_ivf.
    "similarity_ivfpq" -> ((s, dir) =>
      Similarity.ivfPqProbe(
        cachedIvfPqHashInit(s, dir),
        embeddings(s, dir).filter(col("vec_id") < 10),
        k = 10, nProbe = 8, roundAt = 6)),
    // Fresh uncached two-level build under its own timer (round 11):
    // per-cell occupancy + id checksum + the PQ code checksum (sum over
    // every row's m code words) force BOTH the coarse assignment and the
    // full encode pass; all-integer aggregates keep the row hash-EXACT
    // against the oracle's re-derived assign/encode.
    "similarity_ivfpq_build" -> ((s, dir) =>
      Similarity.ivfPqIndexHashInit(embeddings(s, dir)).cellCodes
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("neighbor_id")).as("id_sum"),
          sum(aggregate(col("codes"), lit(0L),
            (acc, x) => acc + x.cast("long"))).as("code_sum"))),
    // The IVFPQ counterpart of similarity_ivf_recall (round 14): IVF's
    // recall row quantifies what cell PRUNING loses; this one adds the
    // ADC QUANTIZATION loss on top — approximate scores from 4-dim
    // subvector codes can reorder true neighbors out of the top-10
    // even when probing surfaces them, so this recall is the stricter
    // end-to-end quality number for the compressed-corpus scan. Same
    // deterministic hash-init legs, so the number is hash-exact.
    "similarity_ivfpq_recall" -> recallAt10((s, dir, _, qs) =>
      Similarity.ivfPqProbe(cachedIvfPqHashInit(s, dir), qs,
        k = 10, nProbe = 8, roundAt = 6)),

    // Hybrid retrieval: reciprocal-rank fusion of the PROVEN bm25 and
    // cosine top-10 rankings over the same query ids (documents and
    // embeddings share ids in the testdata). Rank-only arithmetic, so
    // the fused list is exactly derivable from the parent oracles.
    "retrieval_hybrid" -> ((s, dir) => {
      val docs = documents(s, dir)
      val emb = embeddings(s, dir)
      val bm = bm25FirstFive(TextFeatures.bm25Index(docs), docs)
      val cos = Similarity.cosineTopK(emb,
        emb.filter(col("vec_id") < 5), k = 10, roundAt = 6)
        .withColumnRenamed("neighbor_id", "doc_id")
      TextFeatures.rrfFuse(Seq(
        bm.select("query_id", "doc_id", "rank"),
        cos.select("query_id", "doc_id", "rank")))
    }),

    // Exhaustive-probe IVF: nProbe = nCells visits every cell, so the
    // candidate set is the entire corpus and the probe MUST return
    // exactly the brute-force top-k — the whole index machinery
    // (assignment, multi-assign replication, cell equi-join, replica
    // dedup, ranking) held to the same DuckDB brute-force oracle as
    // similarity_topk. Rounding before ranking (roundAt) makes the
    // tie order cross-engine-stable, as in cosineTopK.
    "similarity_ivf_exhaustive" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val idx = Similarity.ivfIndex(emb, nCells = 16)
      Similarity.ivfProbe(idx, emb.filter(col("vec_id") < 10),
        k = 10, nProbe = 16, roundAt = 6)
    }),
  )
}
