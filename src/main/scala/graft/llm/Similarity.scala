package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Three tiers, cheap → scale:
  *  1. [[cosineTopK]] — brute-force per-query top-k against the corpus:
  *     exact, broadcast the (small) query set, one pass over the
  *     corpus. The correctness baseline.
  *  2. [[selfTopK]] — all-vectors × all-vectors exact top-k; quadratic,
  *     only for validation at small SF and for recall measurement.
  *  3. [[ivfIndex]] + [[ivfProbe]] — IVF (inverted-file) index split
  *     into its two real-life phases: BUILD ONCE (spherical-k-means
  *     coarse quantizer fit on a bounded sample, one cell-assignment
  *     pass over the corpus) and PROBE MANY (each query batch ranks the
  *     centroids, visits its `nProbe` nearest cells, re-ranks exactly
  *     inside them). At 100 TB this turns O(N·Q) into
  *     O(N·Q·nProbe/nCells) with one co-partitioned join on cell id —
  *     the classic billion-scale ANN layout (IVF-Flat). [[ivfTopK]]
  *     composes the two for one-shot use.
  *
  * The exact, IVF, PQ, IVF-PQ and SQ probes differ only in how they
  * find and score candidates; each ends in the same [[score]] and
  * [[rank]] stages, and the IVF and PQ quantizers share one [[kMeans]]
  * fit.
  */
object Similarity {

  /** Cosine similarity between two double-array columns — the custom
    * Catalyst expression [[graft.functions.CosineSimilarity]] (tight
    * codegen'd loop; higher-order functions would evaluate interpreted
    * in this hot path). Zero-norm vectors yield -1, never NaN/null —
    * NaN sorts ABOVE every double and would win each desc top-k. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** The composable `sql.functions`-only formulation, kept as the
    * bit-parity cross-check for the custom expression (SimilaritySpec)
    * and as a porting reference. `try_divide` guards ANSI
    * divide-by-zero; coalesce maps the null to -1 like [[cosine]]. */
  private[llm] def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)
    coalesce(try_divide(dot, sqrt(normSq(a)) * sqrt(normSq(b))), lit(-1.0))
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Σ x² of an array column, folded in index order. */
  private def normSq(v: Column): Column =
    aggregate(transform(v, x => x * x), lit(0.0), (s, x) => s + x)

  /** The driver-side L2 norm, summed in the same order. */
  private def l2(v: Array[Double]): Double =
    math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))

  /** `(idCol, embCol)` as `(idAs, embAs: array<double>)`. */
  private def vectors(df: DataFrame, embCol: String, idCol: String,
      idAs: String, embAs: String): DataFrame =
    df.select(col(idCol).as(idAs), asDouble(col(embCol)).as(embAs))

  /** Length of the first non-empty `embCol` vector (one `head()` job). */
  private def firstDim(corpus: DataFrame, embCol: String): Int =
    corpus.select(size(asDouble(col(embCol))).as("d")).where(col("d") > 0)
      .head().getInt(0)

  /** The score stage of every probe: drop each query's own id, then
    * name the score `scoreCol`, rounded to `roundAt` decimals when
    * `roundAt >= 0` — rounding BEFORE ranking (ties then break on
    * neighbor_id) is what makes a probe hash-comparable against a
    * DuckDB oracle despite cross-engine ulp differences. */
  private def score(candidates: DataFrame, raw: Column, scoreCol: String,
      roundAt: Int): DataFrame =
    candidates.filter(col("neighbor_id") =!= col("query_id"))
      .withColumn(scoreCol, if (roundAt >= 0) round(raw, roundAt) else raw)

  /** A quantized dot product over stored norms as an approximate
    * cosine; a zero norm on either side pins to -1 like [[cosine]]. */
  private def approxCosine(dot: Column, norm: Column): Column =
    when(norm > 0 && col("q_norm") > 0, dot / (norm * col("q_norm")))
      .otherwise(lit(-1.0))

  /** The rank stage of every probe, returning
    * `(query_id, neighbor_id, rank, scoreCol)`:
    *  - `nAssign > 1` collapses replicas — a neighbor reached through
    *    two probed cells carries the same score twice, so max == first,
    *    and the groupBy combines map-side (≤ 1 row per pair per task);
    *  - the per-query window keeps the top `k` by (score desc,
    *    neighbor_id), one shuffle keyed by query;
    *  - `refine > 0` (FAISS's IndexRefineFlat) keeps a top-`refine`
    *    shortlist instead, re-joins the raw `corpus` embeddings BY ID
    *    and re-ranks by exact cosine: the exact scoring touches
    *    `|queries| × refine` rows, never the corpus, and a true
    *    neighbor only needs to reach the shortlist. The query vectors
    *    re-attach to the shortlist by `query_id` from the broadcast
    *    `queries` (ids are unique there), so no candidate row carries
    *    its query vector through the collapse or the window shuffle. */
  private def rank(scored: DataFrame, scoreCol: String, k: Int,
      nAssign: Int = 1, refine: Int = 0, corpus: DataFrame = null,
      queries: DataFrame = null, embCol: String = "",
      idCol: String = ""): DataFrame = {
    require(refine == 0 || refine >= k,
      s"refine ($refine) must be 0 (off) or >= k ($k)")
    require(refine == 0 || corpus != null,
      "refine > 0 needs the raw corpus to re-rank against")
    val deduped =
      if (nAssign > 1)
        scored.groupBy(col("query_id"), col("neighbor_id"))
          .agg(max(col(scoreCol)).as(scoreCol))
      else scored
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("neighbor_id"))
    def top(df: DataFrame, n: Int): DataFrame =
      df.withColumn("rank", row_number().over(w)).filter(col("rank") <= n)
    val ranked =
      if (refine == 0) top(deduped, k)
      else top(top(deduped, refine).select("query_id", "neighbor_id")
        .join(broadcast(vectors(queries, embCol, idCol, "query_id", "q_emb")),
          "query_id")
        .join(vectors(corpus, embCol, idCol, "neighbor_id", "c_emb"),
          "neighbor_id")
        .withColumn(scoreCol, cosine(col("q_emb"), col("c_emb"))), k)
    ranked.select("query_id", "neighbor_id", "rank", scoreCol)
  }

  /** Exact top-k neighbors for each query id in `queries` (a subset of
    * ids or a separate frame with the same `(idCol, embCol)` schema).
    *
    * `roundAt >= 0` rounds the cosine to that many decimals BEFORE
    * ranking (see [[score]]).
    *
    * Scale: `queries` is broadcast (small by construction); the corpus
    * is scanned once; the only shuffle is the per-query top-k window
    * over `queryId` — cardinality = |queries|, partial top-k pushed
    * map-side by the rank filter. */
  def cosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      roundAt: Int = -1): DataFrame = {
    val q = broadcast(vectors(queries, embCol, idCol, "query_id", "q_emb"))
    rank(score(vectors(corpus, embCol, idCol, "neighbor_id", "c_emb")
      .crossJoin(q), cosine(col("q_emb"), col("c_emb")), "cosine", roundAt),
      "cosine", k)
  }

  /** Exact self-join top-k (validation / recall baseline only —
    * quadratic). */
  def selfTopK(df: DataFrame, k: Int = 10, embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    cosineTopK(df, df, k, embCol, idCol)

  /** A built IVF-Flat index: the coarse-quantizer centroids (unit
    * vectors, driver-resident — nCells × dim doubles, a fixed-size
    * artifact like a KMeans model) and the cell-assigned corpus
    * `(neighbor_id, c_emb, cell)`. Build once with [[ivfIndex]], probe
    * any number of query batches with [[ivfProbe]]; persist with
    * [[writeIndex]]/[[readIndex]] (or cache `cells` under your own
    * lifecycle) if probes repeat — the library never caches internally.
    *
    * `nAssign` has NO default on purpose: the probe's replica-dedup
    * decision depends on it matching how `cells` was actually built
    * (cells from nAssign=1 with a flag claiming 2 — or the reverse —
    * silently emits duplicate or missing top-k rows). Only [[ivfIndex]]
    * and [[readIndex]] mint instances, so flag and data cannot
    * desynchronize. */
  final case class IvfIndex(
      centroids: Array[Array[Double]],
      cells: DataFrame,
      nAssign: Int)

  /** Build the IVF-Flat index: fit a spherical-k-means coarse quantizer
    * on a bounded corpus sample, then assign every corpus vector to its
    * nearest centroid in ONE narrow codegen'd pass (the centroids are
    * baked into the plan as literals — the per-row argmax is
    * `nCells` [[graft.functions.CosineSimilarity]] evaluations, no
    * shuffle, no join, no driver loop over the corpus).
    *
    * Quantizer fit: the sample (≤ `maxFitSample` rows after
    * `fitSampleFraction`) is collected to the driver — a bounded,
    * fixed-size collect like a KMeans model fit — and Lloyd-iterated
    * locally in microseconds. At target scale the quantizer must not
    * see every row anyway: recall depends only on coarse centroid
    * geometry (FAISS trains IVF quantizers on samples for the same
    * reason). Zero distributed fit jobs.
    *
    * Metric consistency: spherical k-means keeps centroids
    * L2-normalized, so cosine argmax == euclidean argmin on unit
    * vectors, and — cosine being scale-invariant in the row argument —
    * corpus vectors need no normalization pass at all. Zero-norm
    * vectors score -1 against every centroid and land deterministically
    * in the highest cell id; they are KEPT ([[cosineTopK]] scores them
    * -1, and the index must not silently drop rows its exact twin would
    * return).
    *
    * Multi-assignment (`nAssign`, default 2): each corpus vector is
    * replicated into its `nAssign` nearest cells — the standard
    * replication-for-recall trade (index is nAssign× larger, probe
    * touches the same nProbe cells). On weakly-clustered embeddings a
    * true neighbor often sits just across a Voronoi boundary from the
    * probed cells; measured on the driver fixture, nAssign=1 caps
    * recall@10 at ~0.84 while nAssign=2 holds 0.92–0.98 across seeds
    * and fit-sample sizes. [[ivfProbe]] collapses replica hits with a
    * map-side-combining max — a neighbor is found if ANY of its cells
    * is probed, and is counted once. */
  def ivfIndex(
      corpus: DataFrame,
      nCells: Int = 16,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      seed: Long = 42L,
      fitSampleFraction: Double = 0.25,
      maxFitSample: Int = 20000,
      maxIter: Int = 10,
      nAssign: Int = 2): IvfIndex = {
    require(nAssign >= 1 && nAssign <= nCells,
      s"nAssign ($nAssign) must be in [1, nCells=$nCells]")
    // rows with null embeddings are never indexed — their cell scores
    // are null, and explode(null) drops the row. The exact twin ranks
    // them at cosine -1 (below any real neighbor), so the index and
    // [[cosineTopK]] agree on every top-k that matters.
    val sample = fitSample("ivfIndex", corpus, embCol, seed,
      fitSampleFraction, maxFitSample)
    val centroids = kMeans(sample, nCells, maxIter, seed, Cosine)
    IvfIndex(centroids,
      assignCells(corpus, centroids, nAssign, embCol, idCol), nAssign)
  }

  /** The bounded driver sample both quantizer fits train on: ≤
    * `maxFitSample` non-null vectors after `fraction`. `takeSample`,
    * NOT `sample().limit()`: limit() keeps whichever rows the earliest
    * partitions produce, so on a corpus physically ordered by
    * source/date the quantizer would be fit on the head of the corpus
    * only. takeSample reservoir-samples UNIFORMLY across all partitions
    * of the (pre-thinned) sample at the same bounded driver cost; the
    * extra count pass is a build-once price. Null embeddings are
    * excluded (a null Seq would NPE deep inside [[kMeans]] with no
    * useful message); `op` names the caller when nothing is left. */
  private def fitSample(op: String, corpus: DataFrame, embCol: String,
      seed: Long, fraction: Double, maxFitSample: Int): Array[Array[Double]] = {
    val sample = corpus
      .select(asDouble(col(embCol)).as("e"))
      .where(col("e").isNotNull)
      .sample(withReplacement = false, fraction, seed)
      .rdd
      .takeSample(withReplacement = false, maxFitSample, seed)
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty,
      s"$op: no non-null '$embCol' rows in the fit sample — " +
        "is the embedding column entirely null, or the corpus empty?")
    sample
  }

  /** The one-pass cell assignment shared by [[ivfIndex]] (build) and
    * [[ivfAppend]] (grow): the centroid matrix rides a BROADCAST into
    * one codegen'd [[graft.functions.TopCells]] loop — no shuffle, no
    * join, no driver loop, and (round 13) no plan growth in nCells.
    * The literal-centroid formulation this replaces inlined one
    * cosine + a dim-double literal per centroid; at SemDeDup's
    * corpus-derived cell counts (625 cells at the 10× rehearsal) the
    * generated code blew janino's 64 KB method limit and the corpus
    * projection silently fell back to interpreted eval. Ordering is
    * unchanged (cos desc, ties to the larger cell id) and the
    * per-centroid cosine is CosineSimilarity's fold verbatim, so
    * assignments — and every oracle row downstream — are
    * bit-identical. A NULL embedding coalesces to the top-nAssign
    * LARGEST cell ids, replicating the struct-ordering fallback the
    * literal argmax had (ill-shaped rows score -1 everywhere inside
    * the expression, landing in the same cells). */
  private def assignCells(
      corpus: DataFrame,
      centroids: Array[Array[Double]],
      nAssign: Int,
      embCol: String,
      idCol: String): DataFrame = {
    val top = topCells(corpus, col("c_emb"), centroids, nAssign)
    val base = vectors(corpus, embCol, idCol, "neighbor_id", "c_emb")
    if (nAssign == 1) base.withColumn("cell", element_at(top, 1))
    else base.withColumn("cell", explode(top))
  }

  /** Broadcast top-`n` cell ranking shared by assignment and probing
    * (round 13): one [[graft.functions.TopCells]] call against the
    * flattened centroid matrix — ordering (cos desc, ties to the
    * larger cell) identical to the literal struct-sort it replaces,
    * with no plan growth in nCells. A NULL embedding coalesces to the
    * `n` LARGEST cell ids, replicating the literal formulation's
    * struct-ordering fallback (ill-shaped but non-null vectors score
    * -1 everywhere inside the expression and land there on their
    * own). */
  private def topCells(
      df: DataFrame,
      v: Column,
      centroids: Array[Array[Double]],
      n: Int): Column = {
    val dim = centroids.head.length
    val nCells = centroids.length
    val bcast = df.sparkSession.sparkContext.broadcast(centroids.flatten)
    val fallback = array(
      (0 until math.min(n, nCells)).map(i => lit(nCells - 1 - i)): _*)
    coalesce(graft.functions.TopCells(v, bcast, dim, n), fallback)
  }

  /** Grow a built index WITHOUT refitting the quantizer: the batch is
    * assigned to cells with the index's existing centroid literals and
    * unioned into `cells` — the incremental-ingest shape (IVF
    * quantizers are deliberately kept stable as the corpus grows;
    * recall drifts only if the embedding DISTRIBUTION drifts, at which
    * point a rebuild is a policy decision, not an operator one). The
    * assignment pass is narrow and touches only the batch; for the
    * persisted deployment, append the returned delta cells to the
    * bucketed table instead of re-writing the corpus. */
  def ivfAppend(
      index: IvfIndex,
      batch: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id"): IvfIndex =
    index.copy(cells = index.cells.unionByName(
      ivfAssign(index, batch, embCol, idCol)))

  /** DELETE vectors from a built index WITHOUT refitting the quantizer
    * or re-reading the corpus — the living index's remaining lifecycle
    * leg (round 18; build → append → persist → stream-ingest existed,
    * deletion did not): cells rows whose `neighbor_id` is in
    * `deletedIds` anti-join away; the quantizer stays frozen exactly
    * as in [[ivfAppend]] (removal cannot move coarse centroids, so
    * survivor recall is unchanged — a rebuild on distribution drift
    * stays a policy decision). For the persisted deployment this is
    * the COMPACTION form (rewrite the bucketed cells table minus the
    * tombstones); the cheaper continuous form anti-joins the same
    * tombstone frame at probe time with the identical plan shape.
    * `deletedIds` is a deletion batch — small, so the anti-join
    * broadcasts and the cells side never shuffles. */
  def ivfDelete(
      index: IvfIndex,
      deletedIds: DataFrame,
      idCol: String = "vec_id"): IvfIndex =
    index.copy(cells = index.cells.join(
      deletedIds.select(col(idCol).as("neighbor_id")).distinct(),
      Seq("neighbor_id"), "left_anti"))

  /** The stateless assignment delta inside [[ivfAppend]], exposed for
    * the STREAMING ingest twin: a narrow codegen'd projection against
    * the frozen quantizer (broadcast centroids, no shuffle, no join,
    * no state), so it runs unchanged on a streaming DataFrame —
    * `stream.transform(df => ivfAssign(index, df))` + an append sink
    * on the cells table is the continuous form of incremental index
    * growth. Because assignment is per-row deterministic, cells
    * streamed in micro-batches equal cells assigned in one batch pass
    * — the invariant the `stream_ivf_append` oracle row pins. */
  def ivfAssign(
      index: IvfIndex,
      batch: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    assignCells(batch, index.centroids, index.nAssign, embCol, idCol)

  /** Probe a built [[IvfIndex]]: rank the (broadcast) centroids per
    * query with the same codegen'd cosine used for assignment
    * ([[graft.functions.TopCells]] — round 13, replacing the literal
    * formulation so probe plans, like assignment, stop growing with
    * nCells), explode the `nProbe` best cells, equi-join into the
    * assigned corpus, and re-rank exactly within the probed cells.
    *
    * Returns the same shape as [[cosineTopK]]; recall < 1.0 by design,
    * measured by [[recallAgainst]]. Scale: probes (|queries| × nProbe
    * rows) are broadcast; the cell equi-join touches only probed cells;
    * [[rank]] collapses `nAssign` replicas and windows the top-k.
    *
    * `roundAt` mirrors [[cosineTopK]], so an EXHAUSTIVE probe
    * (`nProbe = nCells` — every cell visited, candidate set = whole
    * corpus) returns bitwise the same rows as the brute-force twin and
    * can be held to the same DuckDB oracle. */
  def ivfProbe(
      index: IvfIndex,
      queries: DataFrame,
      k: Int = 10,
      nProbe: Int = 4,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      roundAt: Int = -1): DataFrame = {
    val probes = vectors(queries, embCol, idCol, "query_id", "q_emb")
      .withColumn("cell",
        explode(topCells(queries, col("q_emb"), index.centroids, nProbe)))
    rank(score(index.cells.join(broadcast(probes), "cell"),
      cosine(col("q_emb"), col("c_emb")), "cosine", roundAt),
      "cosine", k, index.nAssign)
  }

  /** One-shot IVF-Flat ANN: [[ivfIndex]] + [[ivfProbe]]. Index reuse is
    * the at-scale pattern — call the two phases yourself when probing
    * more than once. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nCells: Int = 16,
      nProbe: Int = 4,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      seed: Long = 42L,
      fitSampleFraction: Double = 0.25,
      nAssign: Int = 2): DataFrame =
    ivfProbe(
      ivfIndex(corpus, nCells, embCol, idCol, seed, fitSampleFraction,
        nAssign = nAssign),
      queries, k, nProbe, embCol, idCol)

  // ------------------------------------------------------------------
  // Product quantization (IVF's memory-side complement)

  /** A trained product-quantization index: the codebook broadcast
    * (`m` subspaces × `k` centroids × `subDim` doubles, flattened —
    * a fixed-size model artifact) and the encoded corpus
    * `(neighbor_id, codes: array<int>[m], norm)`.
    *
    * Why PQ at 100 TB: IVF prunes WHICH rows a probe scans; PQ shrinks
    * WHAT a scan reads — `m` small ints + one float per vector instead
    * of `dim` floats (64-d float32 = 256 B → 8 codes ≈ 40 B even
    * uncompacted; a production layout packs them to `m` bytes = 32×).
    * The probe never touches the embedding column at all, so the
    * Parquet scan prunes it away and the per-pair work drops from
    * O(dim) multiplies to O(m) LUT reads ([[graft.functions.PqAdcScore]]).
    * Approximate by construction — rank quality is a recall number
    * (SimilaritySpec), not an oracle row.
    *
    * Rows whose embedding is null / ill-shaped are unindexable and
    * dropped, exactly like the IVF path's null handling. */
  final case class PqIndex(
      codebook: org.apache.spark.broadcast.Broadcast[Array[Double]],
      m: Int,
      k: Int,
      subDim: Int,
      codes: DataFrame)

  /** Train per-subspace codebooks on a bounded driver sample (the
    * [[ivfIndex]] fit recipe: uniform reservoir via `takeSample`, then
    * `m` independent driver-local Lloyd fits — PQ quantizers, like IVF
    * coarse quantizers, must NOT see every row at scale), then encode
    * the whole corpus in ONE narrow codegen'd pass
    * ([[graft.functions.PqEncode]]; the codebook rides a broadcast). */
  def pqIndex(
      corpus: DataFrame,
      m: Int = 16,
      k: Int = 64,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      seed: Long = 42L,
      fitSampleFraction: Double = 0.25,
      maxFitSample: Int = 20000,
      maxIter: Int = 10): PqIndex = {
    require(m >= 1 && k >= 2, s"need m >= 1 and k >= 2, got m=$m k=$k")
    val sample = fitSample("pqIndex", corpus, embCol, seed,
      fitSampleFraction, maxFitSample)
    val dim = sample.head.length
    require(dim % m == 0,
      s"pqIndex: embedding dim $dim is not divisible by m=$m subspaces")
    // per-subspace fit: seed varies by j so subspaces don't share
    // sampling accidents
    pqBuild(corpus, m, k, dim / m, embCol, idCol)(j =>
      kMeans(subvectors(sample, j, dim / m), k, maxIter, seed + j, SquaredL2))
  }

  /** The `j`-th `subDim` slice of every vector. */
  private def subvectors(vs: Array[Array[Double]], j: Int,
      subDim: Int): Array[Array[Double]] =
    vs.map(java.util.Arrays.copyOfRange(_, j * subDim, (j + 1) * subDim))

  /** Flatten the `m` per-subspace codebooks (`k` centroids of `subDim`
    * each, from `book(j)`), broadcast them, and encode the corpus. */
  private def pqBuild(corpus: DataFrame, m: Int, k: Int, subDim: Int,
      embCol: String, idCol: String)(
      book: Int => Array[Array[Double]]): PqIndex = {
    val flat = Array.concat((0 until m).flatMap(book(_)): _*)
    val bcast = corpus.sparkSession.sparkContext.broadcast(flat)
    PqIndex(bcast, m, k, subDim,
      encodeCodes(corpus, bcast, m, k, subDim, embCol, idCol))
  }

  /** Knuth multiplicative hash of a nonnegative id, reduced mod a
    * prime BEFORE the multiply so the product stays far inside signed
    * 64-bit range — the same expression is therefore computable
    * verbatim in any engine with plain BIGINT arithmetic (DuckDB
    * errors on 64-bit overflow where the JVM wraps, so the reduction
    * order is load-bearing, not style). Used to draw deterministic
    * pseudo-uniform row samples that an external SQL oracle can
    * reproduce exactly. */
  private def idHash(id: Column, multiplier: Long): Column =
    pmod(pmod(id.cast("long"), lit(1048573L)) * lit(multiplier),
      lit(1048573L))

  /** The `n` corpus rows ranked first by [[idHash]] (ties on id) —
    * a deterministic, engine-reproducible stand-in for a seeded
    * random sample. Returns (id, embedding) in selection order; rows
    * with null / ill-shaped embeddings are never selected (they are
    * unindexable, and a quantizer centroid must be a real vector).
    * Driver-bounded: `n` rows via TakeOrderedAndProject — the same
    * fixed-size collect a KMeans model fit performs. */
  private def hashSelectRows(
      corpus: DataFrame,
      n: Int,
      dim: Int,
      multiplier: Long,
      embCol: String,
      idCol: String): Array[Array[Double]] = {
    val e = asDouble(col(embCol))
    val rows = corpus
      .where(e.isNotNull && size(e) === dim && !exists(e, x => x.isNull))
      .select(e.as("emb"), col(idCol).cast("long").as("id"))
      .orderBy(idHash(col("id"), multiplier), col("id"))
      .limit(n)
      .collect()
    require(rows.length == n,
      s"hash-init fit: corpus has only ${rows.length} well-formed rows, " +
        s"need $n")
    rows.map(_.getSeq[Double](0).toArray)
  }

  /** [[pqIndex]]'s DETERMINISTIC sibling: the per-subspace codebooks
    * are the subvector slices of the `k` corpus rows drawn by the
    * [[idHash]] rule instead of seeded Lloyd fits. This is k-means
    * with zero refinement steps (sampled-codebook PQ — the standard
    * Lloyd INIT, shipped as the final codebook): centroid geometry is
    * worse than a fitted codebook, so production code should prefer
    * [[pqIndex]] (recall-adjudicated in SimilaritySpec) — but every
    * downstream stage (encode, LUT, ADC scan, ranking) is IDENTICAL,
    * and because the codebook derivation is pure integer + float
    * arithmetic it is restatable in SQL, making the whole probe
    * hash-verifiable against a DuckDB twin (the [[sqIndex]] property,
    * extended to the product-quantizer family). Same scale shape as
    * [[pqIndex]]: one bounded driver collect for the codebook, one
    * narrow codegen'd encode pass, broadcast codebook. */
  def pqIndexHashInit(
      corpus: DataFrame,
      m: Int = 16,
      k: Int = 64,
      embCol: String = "embedding",
      idCol: String = "vec_id"): PqIndex = {
    require(m >= 1 && k >= 2, s"need m >= 1 and k >= 2, got m=$m k=$k")
    val dim = firstDim(corpus, embCol)
    require(dim % m == 0,
      s"pqIndexHashInit: embedding dim $dim is not divisible by m=$m")
    val picked = hashSelectRows(corpus, k, dim, PqHashMultiplier,
      embCol, idCol)
    pqBuild(corpus, m, k, dim / m, embCol, idCol)(
      subvectors(picked, _, dim / m))
  }

  /** [[idHash]] multipliers for the two hash-init quantizers — two
    * different odd constants (Knuth's 2654435761 and xxHash's prime2)
    * so the PQ codebook rows and the IVF coarse-centroid rows are
    * decorrelated samples. Public: the DuckDB oracle restates the
    * same constants. */
  val PqHashMultiplier = 2654435761L
  val IvfHashMultiplier = 2246822519L

  /** Embedding quality control: distance of every vector from its
    * LABEL's centroid, with the per-label `pct` exact percentile as
    * the outlier cut — the "is this example even in the right
    * cluster?" screen a training-data pipeline runs over labeled
    * embeddings (mislabeled rows, degenerate encoder outputs and
    * near-zero vectors all surface as tail distances). Returns
    * (idCol, labelCol, dist, is_outlier).
    *
    * Determinism contract: `dist` is rounded to 6dp BEFORE the
    * percentile, so the threshold is computed from bit-identical
    * inputs in any engine (Spark's exact `percentile` matches
    * `quantile_cont` bit-for-bit on equal inputs) and the
    * `dist > thr` flag cannot flip on summation-order ulps.
    *
    * Scale shape: one (label, dim) partial-aggregated shuffle for
    * centroids (output = labels × dim rows — model-artifact-sized,
    * broadcast by AQE into the distance join), one (id)-keyed
    * re-aggregation for distances, and a labels-sized threshold
    * aggregate. The exact percentile is per-LABEL over scalar
    * distances — at extreme scale swap in `approx_percentile` exactly
    * like RobustScaling's GK path. */
  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) — the standard RAG diversity re-ranker: from each
    * query's exact top-`k` candidates, greedily select `select` docs
    * by `score = λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`, so near-
    * duplicate hits stop crowding the context window. The greedy loop
    * is UNROLLED (`select` is small and fixed — the kmeans_lloyd
    * treatment): every step is a join + window over per-query frames
    * bounded at k rows, with relevance and pairwise sims 6dp-rounded
    * BEFORE any argmax, so the whole selection trajectory is
    * hash-exact under an oracle that restates the same steps.
    *
    * λ and 1−λ are SEPARATE literals (the pageRank lesson: both
    * engines must start from the same decimal-converted doubles).
    * Step 1's score is λ·rel (max over an empty set = 0, spelled as
    * the same formula with maxsim 0).
    *
    * Scale: candidates come from [[cosineTopK]] (broadcast query
    * side); everything after is |queries|·k-bounded — the pairwise
    * sim relation is ≤ k² per query, never corpus-sized, and the
    * `select` plan-unrolled joins are all on the query key. Query ids
    * must be integral or string. */
  def mmrRerank(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      select: Int = 5,
      lambda: Double = 0.7,
      oneMinusLambda: Double = 0.3,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(select >= 1 && select <= k,
      s"mmrRerank: need 1 <= select <= k, got select=$select k=$k")
    require(math.abs(lambda + oneMinusLambda - 1.0) < 1e-9,
      s"mmrRerank: lambda $lambda + oneMinusLambda $oneMinusLambda != 1")
    // the greedy loop groups by String.valueOf(query_id), injective
    // only for these types
    val qType = queries.schema(idCol).dataType
    require(qType match {
      case ByteType | ShortType | IntegerType | LongType | _: StringType => true
      case _ => false
    }, s"mmrRerank: query id $idCol must be an integral or string type, " +
      s"got ${qType.simpleString}")
    val top = cosineTopK(corpus, queries, k, embCol, idCol, roundAt = 6)
    // re-attach candidate vectors for the pairwise leg (k rows/query)
    val cands = top.join(
        vectors(corpus, embCol, idCol, "neighbor_id", "c_emb"), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .localCheckpoint(false)
    val vecs = vectors(corpus, embCol, idCol, "vid", "e")
    val pairSim = cands.select(col("query_id"), col("neighbor_id").as("a"))
      .join(cands.select(col("query_id"), col("neighbor_id").as("b")),
        "query_id")
      .filter(col("a") =!= col("b"))
      .join(vecs.select(col("vid").as("a"), col("e").as("ea")), "a")
      .join(vecs.select(col("vid").as("b"), col("e").as("eb")), "b")
      .select(col("query_id"), col("a"), col("b"),
        round(cosine(col("ea"), col("eb")), 6).as("sim"))
    // r18 optimization (guide §3.3 / §5): the greedy loop used to be
    // `select` UNROLLED join+window steps over a plan that deepened
    // each step — ~25 AQE-replanned shuffle stages and ~5 s of pure
    // driver planning for ≤ |queries|·k² rows (measured: wall 7.8 s,
    // stage time 2.7 s). The relevance and pairwise-sim legs — the
    // corpus-scale work — stay distributed and 6dp-round exactly as
    // before; only the selection LOOP over those two bounded,
    // model-artifact-sized relations (≤ k + k² rows per query — the
    // codebook-collect precedent) moves to the driver. The arithmetic
    // below is the same IEEE double ops on the same 6dp inputs the
    // unrolled plan evaluated — λ·(6dp) − (1−λ)·(6dp) with
    // floor(x·1e6+0.5)/1e6 (the pca_power lesson) and the
    // (score desc, neighbor_id asc) tie-break — so the selection
    // trajectory is bit-identical and the DuckDB oracle (which
    // restates the unrolled steps) is unchanged.
    def floor6d(x: Double): Double =
      math.floor(x * 1000000.0 + 0.5) / 1000000.0
    // (id asc) tie-break comparator over the collected id type — the
    // row_number orderBy semantics for the column types this operator
    // accepts (integral ids in every registered use; strings fall back
    // to their natural order exactly as Spark would sort them)
    def idLt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long) => x < y
      case (x: Int, y: Int) => x < y
      case (x: String, y: String) => x < y
      case (x: Number, y: Number) => x.doubleValue < y.doubleValue
      case _ => String.valueOf(a) < String.valueOf(b)
    }
    // r19 (ADVICE r18, medium): the r18 shape collected cands AND
    // pairSim to the DRIVER — bounded per query (k + k² rows) but
    // linear in |queries|, a driver-OOM hazard at scale. The greedy
    // loop now runs ON EXECUTORS, per query, via one groupByKey +
    // flatMapGroups over the union of the two bounded relations
    // (kind 0 = candidate, kind 1 = pairwise sim); nothing is ever
    // collected. The per-query arithmetic below is byte-for-byte the
    // r18 driver loop's (same floor6d, same idLt tie-break, same
    // inner-join no-sim-row semantics), so the selection trajectory —
    // and the DuckDB oracle — is unchanged. The group key is
    // String.valueOf(query_id): injective for every id type the
    // operator accepts (integral/string), so grouping by it IS
    // grouping by the id. The closure is a non-codegen stage, but it
    // touches ≤ k + k² rows per query — model-artifact-sized, never
    // corpus-sized (guide §4 note).
    val idType = cands.schema("neighbor_id").dataType
    val unified = cands.select(col("query_id"), lit(0).as("kind"),
        col("neighbor_id").as("ia"), lit(null).cast(idType).as("ib"),
        col("cosine").as("v"))
      .unionByName(pairSim.select(col("query_id"), lit(1).as("kind"),
        col("a").as("ia"), col("b").as("ib"), col("sim").as("v")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        cands.schema("query_id").dataType),
      org.apache.spark.sql.types.StructField("neighbor_id",
        cands.schema("neighbor_id").dataType),
      org.apache.spark.sql.types.StructField("mmr_rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("mmr_score",
        org.apache.spark.sql.types.DoubleType)))
    import org.apache.spark.sql.{Encoders, Row}
    unified.groupByKey(r => String.valueOf(r.get(0)))(Encoders.STRING)
      .flatMapGroups { (_: String, it: Iterator[Row]) =>
        val rows = it.toArray
        val q = rows.head.get(0)
        val cs = rows.iterator.filter(_.getInt(1) == 0)
          .map(r => (r.get(2), r.getDouble(4))).toSeq
        val sims = rows.iterator.filter(_.getInt(1) == 1)
          .map(r => (r.get(2), r.get(3)) -> r.getDouble(4)).toMap
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var selected = Vector.empty[Any]
        var t = 1
        var done = false
        while (t <= select && !done) {
          // candidates not yet selected, scored against the selection;
          // step 1 scores λ·rel − (1−λ)·0 (max over the empty set = 0);
          // steps ≥ 2 keep the unrolled plan's inner-join semantics — a
          // remaining candidate with no pairwise-sim row to any selected
          // doc is not scorable this step
          val scored = cs.filterNot(c => selected.contains(c._1)).flatMap {
            case (id, cos) =>
              if (t == 1)
                Some((id, floor6d(lambda * cos - oneMinusLambda * 0.0)))
              else {
                val ss = selected.flatMap(b => sims.get((id, b)))
                if (ss.isEmpty) None
                else Some((id, floor6d(lambda * cos -
                  oneMinusLambda * ss.max)))
              }
          }
          if (scored.isEmpty) done = true
          else {
            val (bestId, bestScore) = scored.reduceLeft { (p, c) =>
              if (c._2 > p._2 || (c._2 == p._2 && idLt(c._1, p._1))) c else p
            }
            out += Row(q, bestId, t, bestScore)
            selected = selected :+ bestId
            t += 1
          }
        }
        out.iterator
      }(Encoders.row(schema))
      .toDF()
  }

  def labelOutliers(
      emb: DataFrame,
      pct: Double = 0.95,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    require(pct > 0.0 && pct < 1.0, s"pct must be in (0,1), got $pct")
    val e = asDouble(col(embCol))
    val dims = emb
      .select(col(idCol), col(labelCol), posexplode(e).as(Seq("i", "x")))
    val cent = dims.groupBy(col(labelCol), col("i"))
      .agg(avg(col("x")).as("c"))
    val dist = dims.join(cent, Seq(labelCol, "i"))
      .groupBy(col(idCol), col(labelCol))
      .agg(round(sqrt(sum(
        (col("x") - col("c")) * (col("x") - col("c")))), 6).as("dist"))
    val thr = dist.groupBy(col(labelCol))
      .agg(expr(s"percentile(dist, $pct)").as("thr"))
    dist.join(thr, labelCol)
      .withColumn("is_outlier", (col("dist") > col("thr")).cast("int"))
      .select(col(idCol), col(labelCol), col("dist"), col("is_outlier"))
  }

  /** L2-normalized coarse centroids from `nCells` hash-drawn corpus
    * rows — the deterministic stand-in for the [[Cosine]] [[kMeans]]
    * fit, shared by [[ivfIndexHashInit]] and [[ivfPqIndexHashInit]]. */
  private def hashInitCentroids(
      corpus: DataFrame,
      nCells: Int,
      dim: Int,
      embCol: String,
      idCol: String): Array[Array[Double]] =
    hashSelectRows(corpus, nCells, dim, IvfHashMultiplier,
      embCol, idCol).map { v =>
      val n = l2(v)
      require(n > 0, "hash-init coarse fit: zero-norm centroid row " +
        "drawn — corpus has degenerate vectors in the hash sample")
      v.map(_ / n)
    }

  /** [[ivfIndex]]'s DETERMINISTIC sibling: coarse centroids are the
    * L2-normalized embeddings of `nCells` hash-drawn corpus rows —
    * spherical k-means with zero Lloyd steps. Assignment, probing,
    * append, persistence all reuse the [[IvfIndex]] machinery
    * unchanged; because the centroid derivation is engine-portable
    * arithmetic, an exact-cosine probe over the index is restatable in
    * SQL end to end (cell argmax, top-nProbe cells, in-cell cosine
    * ranking), making IVF-Flat hash-verifiable the way
    * [[pqIndexHashInit]] makes PQ. nAssign fixed at 1 keeps the SQL
    * twin a plain argmax; production recall shape remains [[ivfIndex]]
    * (Lloyd fit, nAssign=2). */
  def ivfIndexHashInit(
      corpus: DataFrame,
      nCells: Int = 16,
      embCol: String = "embedding",
      idCol: String = "vec_id"): IvfIndex = {
    val centroids = hashInitCentroids(corpus, nCells,
      firstDim(corpus, embCol), embCol, idCol)
    IvfIndex(centroids,
      assignCells(corpus, centroids, nAssign = 1, embCol, idCol), 1)
  }

  /** [[ivfPqIndex]]'s DETERMINISTIC sibling: coarse centroids are the
    * L2-normalized embeddings of `nCells` hash-drawn corpus rows
    * (assignment and probing reuse the spherical machinery — unit
    * centroids, cosine argmax), and the PQ codebook comes from
    * [[pqIndexHashInit]] under a different hash multiplier. nAssign is
    * fixed at 1: replica-dedup's `max` aggregation is
    * order-insensitive here anyway, but 1 keeps the SQL twin a plain
    * argmax. Production recall shape remains [[ivfPqIndex]]. Rows
    * whose embedding has zero norm score -1 against every centroid
    * and land in the LARGEST cell id (the [[ivfIndex]] contract). */
  def ivfPqIndexHashInit(
      corpus: DataFrame,
      nCells: Int = 16,
      m: Int = 16,
      pqK: Int = 64,
      embCol: String = "embedding",
      idCol: String = "vec_id"): IvfPqIndex = {
    val pq = pqIndexHashInit(corpus, m, pqK, embCol, idCol)
    val dim = pq.m * pq.subDim
    val centroids = hashInitCentroids(corpus, nCells, dim, embCol, idCol)
    val cells = assignCells(corpus, centroids, nAssign = 1, embCol, idCol)
    IvfPqIndex(centroids, 1, pq.codebook, pq.m, pq.k, pq.subDim,
      cells.select(col("cell"), col("neighbor_id")).join(pq.codes,
        "neighbor_id"))
  }

  /** The one-pass encode shared by [[pqIndex]] (build) and [[pqAppend]]
    * (grow): a narrow codegen'd projection; unquantizable rows (null /
    * ill-shaped embeddings) drop out, like the IVF path. */
  private def encodeCodes(
      corpus: DataFrame,
      bcast: org.apache.spark.broadcast.Broadcast[Array[Double]],
      m: Int, k: Int, subDim: Int,
      embCol: String, idCol: String): DataFrame = {
    val e = asDouble(col(embCol))
    corpus
      .select(col(idCol).as("neighbor_id"),
        graft.functions.PqEncode(e, bcast, m, k, subDim).as("codes"),
        sqrt(normSq(e)).as("norm"))
      .where(col("codes").isNotNull)
  }

  /** Grow a built [[PqIndex]] WITHOUT refitting the codebooks — the
    * [[ivfAppend]] policy: quantizers stay stable as the corpus grows;
    * a distribution drift big enough to hurt ADC quality is a rebuild
    * decision, not an operator one. The batch pays one narrow encode
    * pass; for the persisted deployment, append the delta codes to the
    * codes table instead of re-encoding the corpus. */
  def pqAppend(
      index: PqIndex,
      batch: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id"): PqIndex =
    index.copy(codes = index.codes.unionByName(
      encodeCodes(batch, index.codebook, index.m, index.k, index.subDim,
        embCol, idCol)))

  /** Persist a built [[PqIndex]] — build-once / probe-many across
    * sessions, the [[writeIndex]] deployment shape. The codes go to
    * plain parquet (the probe is a full compressed SCAN, not a keyed
    * join — bucketing buys nothing here); the codebook goes to a tiny
    * parquet of (subspace, centroid_id, centroid) rows — m·k rows, a
    * model artifact. [[readPqIndex]] reconstitutes shape parameters
    * FROM the codebook rows, so codes and codebook cannot
    * desynchronize on m/k/subDim. */
  def writePqIndex(index: PqIndex, codesPath: String,
      codebookPath: String): Unit = {
    index.codes.write.mode("overwrite").parquet(codesPath)
    val spark = index.codes.sparkSession
    import spark.implicits._
    val flat = index.codebook.value
    (for { j <- 0 until index.m; c <- 0 until index.k } yield {
      val base = (j * index.k + c) * index.subDim
      (j, c, flat.slice(base, base + index.subDim).toSeq)
    }).toDF("subspace", "centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(codebookPath)
  }

  /** Reload a persisted [[PqIndex]]; see [[writePqIndex]]. */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      codesPath: String, codebookPath: String): PqIndex = {
    val rows = spark.read.parquet(codebookPath)
      .select("subspace", "centroid_id", "centroid").collect()
    require(rows.nonEmpty, s"readPqIndex: no codebook at $codebookPath")
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val subDim = rows.head.getSeq[Double](2).size
    val flat = new Array[Double](m * k * subDim)
    rows.foreach { r =>
      System.arraycopy(r.getSeq[Double](2).toArray, 0, flat,
        (r.getInt(0) * k + r.getInt(1)) * subDim, subDim)
    }
    PqIndex(spark.sparkContext.broadcast(flat), m, k, subDim,
      spark.read.parquet(codesPath))
  }

  /** Probe a [[PqIndex]]: per query, ONE O(k·dim) LUT build
    * ([[graft.functions.PqLut]]), then every corpus row is scored with
    * `m` array lookups and the per-query top-k window ranks the
    * results — [[cosineTopK]]'s plan shape (broadcast queries, one
    * corpus scan, one window shuffle keyed by query) over the
    * compressed codes instead of raw vectors. The ADC dot is
    * normalized by the EXACT stored norms, so the score approximates
    * cosine and zero-norm rows pin to -1 like the exact twin.
    *
    * `refine > 0` adds [[rank]]'s exact re-rank of the ADC
    * top-`refine` shortlist; the compressed scan still does all
    * corpus-sized work. On weakly-clustered embeddings this is what
    * turns ADC's lossy ordering into high recall@k. */
  def pqProbe(
      index: PqIndex,
      queries: DataFrame,
      k: Int = 10,
      refine: Int = 0,
      corpus: DataFrame = null,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      roundAt: Int = -1): DataFrame = {
    val e = asDouble(col(embCol))
    val q = broadcast(queries
      .select(col(idCol).as("query_id"),
        graft.functions.PqLut(e, index.codebook, index.m, index.k,
          index.subDim).as("lut"),
        e.as("q_emb"), sqrt(normSq(e)).as("q_norm"))
      .where(col("lut").isNotNull))
    val adc = graft.functions.PqAdcScore(col("lut"), col("codes"), index.k)
    rank(score(index.codes.crossJoin(q), approxCosine(adc, col("norm")),
      "pq_score", roundAt), "pq_score", k, 1, refine, corpus, queries, embCol,
      idCol)
  }

  /** The composed two-level ANN index (FAISS's IVFPQ): the IVF coarse
    * quantizer prunes WHICH cells a probe scans, the PQ codes shrink
    * WHAT the scan reads — at 100 TB the probe touches
    * `nProbe/nCells` of the corpus at ~1/32nd the bytes per row, the
    * only layout that makes interactive ANN over a corpus-scale
    * embedding table feasible. `cellCodes` is
    * `(cell, neighbor_id, codes, norm)`: the raw embedding appears in
    * NO probe-side artifact. */
  final case class IvfPqIndex(
      centroids: Array[Array[Double]],
      nAssign: Int,
      codebook: org.apache.spark.broadcast.Broadcast[Array[Double]],
      m: Int,
      k: Int,
      subDim: Int,
      cellCodes: DataFrame)

  /** Build [[IvfPqIndex]]: one IVF coarse fit + one PQ fit (both on
    * bounded driver samples), then cells and codes join by id ONCE at
    * build time — a keyed, one-off cost; a production ingest writes
    * `(cell, codes)` together in the first place (persist `cellCodes`
    * bucketed by `cell` via [[graft.sources.Sources.writeBucketed]] for
    * the Exchange-free probe, exactly the [[writeIndex]] recipe). */
  def ivfPqIndex(
      corpus: DataFrame,
      nCells: Int = 16,
      nAssign: Int = 2,
      m: Int = 16,
      pqK: Int = 64,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      seed: Long = 42L): IvfPqIndex = {
    val ivf = ivfIndex(corpus, nCells, embCol, idCol, seed,
      nAssign = nAssign)
    val pq = pqIndex(corpus, m, pqK, embCol, idCol, seed)
    IvfPqIndex(ivf.centroids, nAssign, pq.codebook, pq.m, pq.k, pq.subDim,
      ivf.cells.select(col("cell"), col("neighbor_id"))
        .join(pq.codes, "neighbor_id"))
  }

  /** Probe an [[IvfPqIndex]]: rank the centroid literals per query,
    * explode the `nProbe` best cells, equi-join into the cell-assigned
    * CODES (never the raw vectors), ADC-score the survivors, collapse
    * `nAssign` replicas, rank — [[ivfProbe]]'s plan shape at
    * [[pqProbe]]'s bytes. `refine > 0` re-ranks the ADC top-`refine`
    * shortlist with exact cosine against the raw corpus BY ID
    * (candidate-bounded: `|queries| × refine` rows), which recovers
    * exact-ordering quality over the probed cells. */
  def ivfPqProbe(
      index: IvfPqIndex,
      queries: DataFrame,
      k: Int = 10,
      nProbe: Int = 4,
      refine: Int = 0,
      corpus: DataFrame = null,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      roundAt: Int = -1): DataFrame = {
    val e = asDouble(col(embCol))
    val probes = broadcast(queries
      .select(col(idCol).as("query_id"), e.as("q_emb"),
        graft.functions.PqLut(e, index.codebook, index.m, index.k,
          index.subDim).as("lut"),
        sqrt(normSq(e)).as("q_norm"))
      .where(col("lut").isNotNull)
      .withColumn("cell",
        explode(topCells(queries, col("q_emb"), index.centroids, nProbe))))
    val adc = graft.functions.PqAdcScore(col("lut"), col("codes"), index.k)
    rank(score(index.cellCodes.join(probes, "cell"),
      approxCosine(adc, col("norm")), "pq_score", roundAt),
      "pq_score", k, index.nAssign, refine, corpus, queries, embCol, idCol)
  }

  /** A built SQ8 (scalar-quantization) index: per-dimension [min,
    * max] bounds plus the quantized corpus
    * `(neighbor_id, codes: array<int>, rnorm)`. The trainless member
    * of the quantizer family (FAISS IndexScalarQuantizer QT_8bit):
    * no k-means fit, the "model" is 2·dim doubles from one EXACT
    * min/max aggregate — which makes the whole index deterministic
    * and SQL-expressible, so the DuckDB oracle hash-verifies encode,
    * reconstruction, and scoring bit-for-bit (PQ's seeded fits can
    * only be recall-tested). Compression is 1 byte/dim semantically
    * (~4× vs float32, ~8× vs the double math) at far lower distortion
    * than PQ's ~1/32 — the middle rung of the accuracy/bytes ladder.
    */
  final case class SqIndex(
      vmin: Array[Double],
      vdiff: Array[Double],
      codes: DataFrame)

  /** Build the [[SqIndex]]: ONE partial-aggregated min/max pass (2·dim
    * doubles of aggregation state per task — associative, one shuffle
    * of fixed-size partials regardless of corpus size), then a narrow
    * codegen'd encode projection ([[graft.functions.SqEncode]] +
    * [[graft.functions.SqReconNorm]]); ill-shaped/null vectors drop
    * out, the IVF/PQ unindexable-row contract. Rows whose length
    * disagrees with the first-seen `dim` are excluded from the bounds
    * aggregate too, so one bad row cannot poison a dimension's range. */
  def sqIndex(
      corpus: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id"): SqIndex = {
    val e = asDouble(col(embCol))
    val dim = firstDim(corpus, embCol)
    val wellFormed = corpus.where(size(e) === dim)
    val aggs = (0 until dim).flatMap { i =>
      Seq(min(element_at(e, i + 1)).as(s"mn_$i"),
        max(element_at(e, i + 1)).as(s"mx_$i"))
    }
    val b = wellFormed.agg(aggs.head, aggs.tail: _*).head()
    val vmin = Array.tabulate(dim)(i => b.getDouble(2 * i))
    val vdiff = Array.tabulate(dim)(i => b.getDouble(2 * i + 1) - vmin(i))
    SqIndex(vmin, vdiff, encodeSq(wellFormed, vmin, vdiff, embCol, idCol))
  }

  /** The one-pass encode shared by [[sqIndex]] (build) and [[sqAppend]]
    * (grow). */
  private def encodeSq(corpus: DataFrame, vmin: Array[Double],
      vdiff: Array[Double], embCol: String, idCol: String): DataFrame = {
    val codes = graft.functions.SqEncode(asDouble(col(embCol)), vmin, vdiff)
    corpus
      .select(col(idCol).as("neighbor_id"), codes.as("codes"))
      .where(col("codes").isNotNull)
      .withColumn("rnorm",
        graft.functions.SqReconNorm(col("codes"), vmin, vdiff))
  }

  /** Grow a built [[SqIndex]] WITHOUT re-deriving bounds — the
    * [[ivfAppend]]/[[pqAppend]] policy: the quantizer stays stable as
    * the corpus grows (out-of-range values CLAMP to 0/255, so drifted
    * appends degrade gracefully); a batch far outside the bounds is a
    * rebuild decision, not an operator one. */
  def sqAppend(
      index: SqIndex,
      batch: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id"): SqIndex =
    index.copy(codes = index.codes.unionByName(
      encodeSq(batch, index.vmin, index.vdiff, embCol, idCol)))

  /** Persist a built [[SqIndex]] — build-once / probe-many across
    * sessions. Codes go to plain parquet (the probe is a full
    * compressed scan, not a keyed join); bounds go to a tiny parquet
    * of (dim_idx, vmin, vdiff) rows — `dim` rows, a model artifact.
    * [[readSqIndex]] reconstitutes `dim` FROM the bounds rows, so
    * codes and bounds cannot desynchronize. */
  def writeSqIndex(index: SqIndex, codesPath: String,
      boundsPath: String): Unit = {
    index.codes.write.mode("overwrite").parquet(codesPath)
    val spark = index.codes.sparkSession
    import spark.implicits._
    index.vmin.indices.map(i => (i, index.vmin(i), index.vdiff(i)))
      .toDF("dim_idx", "vmin", "vdiff")
      .coalesce(1).write.mode("overwrite").parquet(boundsPath)
  }

  /** Reload a persisted [[SqIndex]]; see [[writeSqIndex]]. */
  def readSqIndex(spark: org.apache.spark.sql.SparkSession,
      codesPath: String, boundsPath: String): SqIndex = {
    val rows = spark.read.parquet(boundsPath)
      .select("dim_idx", "vmin", "vdiff").collect()
    require(rows.nonEmpty, s"readSqIndex: no bounds at $boundsPath")
    val dim = rows.map(_.getInt(0)).max + 1
    val vmin = new Array[Double](dim)
    val vdiff = new Array[Double](dim)
    rows.foreach { r =>
      vmin(r.getInt(0)) = r.getDouble(1)
      vdiff(r.getInt(0)) = r.getDouble(2)
    }
    SqIndex(vmin, vdiff, spark.read.parquet(codesPath))
  }

  /** Probe an [[SqIndex]]: [[cosineTopK]]'s plan shape (broadcast
    * queries, one corpus scan, one window shuffle keyed by query) over
    * the int8 codes instead of raw vectors — the scan never references
    * the embedding column, so parquet prunes it ([[pqProbe]]'s IO
    * story without the LUT indirection; scoring is O(dim) int-read +
    * FMA per pair in [[graft.functions.SqAdcDot]]). The approximate
    * cosine divides by the stored RECONSTRUCTED norm — both sides of
    * the ratio live in quantized space, zero-norm rows pin to -1 like
    * every sibling.
    *
    * `roundAt >= 0` rounds the score pre-rank (ties then break on
    * neighbor_id) — with the exact-aggregate bounds this makes the
    * FULL index hash-comparable against a DuckDB twin, the property
    * the seeded-fit indexes (IVF/PQ) cannot offer. `refine > 0` adds
    * [[rank]]'s exact re-rank of the SQ top-`refine` shortlist. */
  def sqProbe(
      index: SqIndex,
      queries: DataFrame,
      k: Int = 10,
      refine: Int = 0,
      corpus: DataFrame = null,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      roundAt: Int = -1): DataFrame = {
    val e = asDouble(col(embCol))
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), e.as("q_emb"),
        sqrt(normSq(e)).as("q_norm"))
      .where(size(col("q_emb")) === index.vmin.length))
    val adc = graft.functions.SqAdcDot(col("q_emb"), col("codes"),
      index.vmin, index.vdiff)
    rank(score(index.codes.crossJoin(q), approxCosine(adc, col("rnorm")),
      "sq_score", roundAt), "sq_score", k, 1, refine, corpus, queries, embCol,
      idCol)
  }

  /** Persist a built [[IvfIndex]] — the build-once/probe-many
    * deployment shape across sessions:
    *
    *  - `cells` goes to a managed table BUCKETED by `cell`
    *    ([[graft.sources.Sources.writeBucketed]]): the probe's cell
    *    equi-join then plans with no Exchange on the (corpus-sized)
    *    cells side even when the probe batch is too large to
    *    broadcast — the shuffle is paid once at index build, not per
    *    probe batch (SimilaritySpec asserts the Exchange-free scan);
    *  - the centroids + `nAssign` go to a tiny parquet at
    *    `centroidsPath` (nCells rows — a model artifact, like a saved
    *    KMeans model), so [[readIndex]] can only reconstitute the flag
    *    and the cells TOGETHER, keeping the replica-dedup decision in
    *    sync with how the cells were actually built. */
  def writeIndex(index: IvfIndex, cellsTable: String,
      centroidsPath: String, numBuckets: Int = 32): Unit = {
    graft.sources.Sources.writeBucketed(index.cells, cellsTable, "cell",
      numBuckets, sortWithinBuckets = false)
    val spark = index.cells.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (ctr, i) => (i, ctr.toSeq, index.nAssign) }.toSeq
      .toDF("cell", "centroid", "n_assign")
      .coalesce(1)
      .write.mode("overwrite").parquet(centroidsPath)
  }

  /** Load an index persisted by [[writeIndex]]. The centroid read is a
    * bounded driver collect (nCells rows); `cells` stays a lazy scan of
    * the bucketed table. */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
      cellsTable: String, centroidsPath: String): IvfIndex = {
    val rows = spark.read.parquet(centroidsPath)
      .select("cell", "centroid", "n_assign").orderBy("cell").collect()
    require(rows.nonEmpty, s"readIndex: no centroids at $centroidsPath")
    IvfIndex(
      rows.map(_.getSeq[Double](1).toArray),
      spark.table(cellsTable),
      rows.head.getInt(2))
  }

  /** How [[kMeans]] measures: [[Cosine]] on unit vectors for IVF
    * coarse cells, [[SquaredL2]] on raw PQ subvectors (which are NOT
    * unit vectors, so cosine assignment would be wrong there). Each
    * metric keeps its own k-means++ seeding distance, D² weighting and
    * strict nearest-centroid rule (ties keep the lower centroid id). */
  private sealed trait KMeansMetric {
    /** Applied to every sample point and to every new mean. */
    def project(v: Array[Double]): Array[Double]
    def seedDist(a: Array[Double], b: Array[Double], dim: Int): Double
    def weight(d: Double): Double
    def nearest(p: Array[Double], cs: Array[Array[Double]], dim: Int): Int
  }

  /** Spherical k-means: centroids re-normalized each step, so the
    * max-dot assignment is cosine; seeding distance `1 - dot`, squared
    * for the D² draw. A zero vector stays as it is. */
  private object Cosine extends KMeansMetric {
    def project(v: Array[Double]): Array[Double] = {
      val n = l2(v)
      if (n > 0) v.map(_ / n) else v.clone()
    }
    private def dot(a: Array[Double], b: Array[Double], dim: Int): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * b(i); i += 1 }
      s
    }
    def seedDist(a: Array[Double], b: Array[Double], dim: Int): Double =
      1.0 - dot(a, b, dim)
    def weight(d: Double): Double = d * d
    def nearest(p: Array[Double], cs: Array[Array[Double]], dim: Int): Int = {
      var best = 0; var bestDot = Double.NegativeInfinity; var c = 0
      while (c < cs.length) {
        val d = dot(p, cs(c), dim)
        if (d > bestDot) { bestDot = d; best = c }
        c += 1
      }
      best
    }
  }

  /** Plain Lloyd: squared euclidean distance, already a D² weight. */
  private object SquaredL2 extends KMeansMetric {
    def project(v: Array[Double]): Array[Double] = v
    def seedDist(a: Array[Double], b: Array[Double], dim: Int): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def weight(d: Double): Double = d
    def nearest(p: Array[Double], cs: Array[Array[Double]], dim: Int): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cs.length) {
        val d = seedDist(p, cs(c), dim)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  /** Driver-local k-means++/Lloyd under `metric`, the one fit behind
    * [[ivfIndex]] and [[pqIndex]]. Init is k-means++ (first centroid
    * uniform, each next drawn ∝ the weighted distance to the nearest
    * chosen one): uniform init on a small sample collapses centroids
    * into dense regions and starves recall; the D² spread matches what
    * MLlib's kmeans‖ buys at scale. Deterministic under `seed`; empty
    * clusters keep their previous centroid; fewer distinct points than
    * `k` leaves duplicate centroids (harmless — probe ranking and
    * encode both tie-break on centroid id). */
  private def kMeans(
      points: Array[Array[Double]],
      k: Int,
      maxIter: Int,
      seed: Long,
      metric: KMeansMetric): Array[Array[Double]] = {
    val dim = points.head.length
    val pts = points.map(metric.project)
    val rng = new scala.util.Random(seed)
    val chosen = scala.collection.mutable.ArrayBuffer(
      pts(rng.nextInt(pts.length)).clone())
    val minDist = pts.map(metric.seedDist(_, chosen.head, dim))
    while (chosen.length < math.min(k, pts.length)) {
      val weights = minDist.map(metric.weight)
      val total = weights.sum
      val pick =
        if (total <= 0) rng.nextInt(pts.length)
        else {
          var r = rng.nextDouble() * total
          var i = 0
          while (i < weights.length - 1 && r > weights(i)) {
            r -= weights(i); i += 1
          }
          i
        }
      chosen += pts(pick).clone()
      var i = 0
      while (i < pts.length) {
        val d = metric.seedDist(pts(i), chosen.last, dim)
        if (d < minDist(i)) minDist(i) = d
        i += 1
      }
    }
    val centroids = chosen.toArray ++
      Array.fill(math.max(0, k - pts.length))(pts(0).clone())
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        val best = metric.nearest(p, centroids, dim)
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      moved = false
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          val nc = metric.project(sums(c).map(_ / counts(c)))
          var i = 0
          while (i < dim && !moved) {
            if (math.abs(nc(i) - centroids(c)(i)) > 1e-9) moved = true
            i += 1
          }
          centroids(c) = nc
        }
        c += 1
      }
      iter += 1
    }
    centroids
  }

  /** Recall@k of `approx` against exact `truth` (both in topK shape):
    * fraction of true neighbors the approximate index found. */
  def recallAgainst(approx: DataFrame, truth: DataFrame): Double = {
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi").count()
    val total = truth.count()
    if (total == 0) 1.0 else hits.toDouble / total
  }

  /** Per-label embedding-quality profile: vector count, dimension, and
    * L2-norm spread. The first sanity scan over any new embedding
    * corpus (zero norms? dimension drift? label skew?) — one narrow
    * codegen'd projection (per-row sequential fold = deterministic
    * norm) into one partial-aggregated groupBy. Norms are rounded 6dp
    * per row BEFORE aggregation so min/max are oracle-exact; the mean
    * is rounded again after. */
  def labelStats(
      df: DataFrame,
      embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    df.select(col(labelCol), size(col(embCol)).as("emb_dim"),
        round(sqrt(normSq(asDouble(col(embCol)))), 6).as("n"))
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("emb_dim")).as("min_dim"),
        max(col("emb_dim")).as("max_dim"),
        round(avg(col("n")), 6).as("avg_norm"),
        min(col("n")).as("min_norm"),
        max(col("n")).as("max_norm"))
  }

  /** Driver-side twin of the repo's cross-engine 60-bit md5 hash
    * ([[graft.functions.BottomK.hash64]] / DuckDB
    * `('0x'||substr(md5(s),1,15))::BIGINT`): JVM MD5 of the UTF-8
    * string, first 15 hex chars as a long. Used to derive the
    * PROJECTION SIGN MATRIX once on the driver — the oracle re-derives
    * the same signs in SQL from the same strings, so the matrix never
    * needs shipping anywhere. */
  private[llm] def md5Hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(
      d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  /** Johnson–Lindenstrauss random projection with a ±1 sign matrix
    * (Achlioptas, JCSS 2003: database-friendly random projections —
    * sign entries preserve pairwise distances in expectation like
    * Gaussian ones): `y_j = (1/√k)·Σᵢ xᵢ·s(i,j)`, where
    * `s(i,j) = +1` iff the 60-bit md5 hash of "i:j" is odd. The hash
    * draw replaces an RNG, so the matrix is a pure function of (dim,
    * k) — deterministic, seed-free, and re-derivable by any engine
    * (the hash-init quantizer trick applied to projections).
    *
    * The k×dim matrix is built ONCE driver-side (k·dim booleans — for
    * k=8, dim=64 that's a literal in the plan) and folded per row with
    * codegen'd array expressions: a narrow, shuffle-free, stateless
    * projection — the cheap first stage before any ANN/cluster pass at
    * 100 TB, cutting the vector bytes every downstream stage moves by
    * dim/k. Output: `proj_0..proj_{k-1}` (6dp) plus the original and
    * projected L2 norms — the JL distortion evidence
    * (E[‖y‖²] = ‖x‖², spec-bounded in SimilaritySpec). */
  def randomProjection(
      df: DataFrame,
      k: Int = 8,
      dim: Int = 64,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(k >= 1 && dim >= 1, s"randomProjection: bad shape k=$k dim=$dim")
    val e = asDouble(col(embCol))
    val scale = sqrt(lit(k.toDouble))
    val proj = (0 until k).map { j =>
      val signs = array((0 until dim).map { i =>
        lit(if (md5Hash60(s"$i:$j") % 2 == 1) 1.0 else -1.0)
      }: _*)
      aggregate(zip_with(e, signs, (x, s) => x * s),
        lit(0.0), (s, x) => s + x) / scale
    }
    df.filter(size(col(embCol)) === dim)
      .select(col(idCol) +:
        proj.zipWithIndex.map { case (p, j) => round(p, 6).as(s"proj_$j") } :+
        round(sqrt(normSq(e)), 6).as("l2_orig") :+
        round(sqrt(normSq(array(proj: _*))), 6).as("l2_proj"): _*)
  }
}
