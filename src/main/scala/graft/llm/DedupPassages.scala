package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The CDC copied-passage slice of [[Dedup]] — content-defined-chunk
  * candidate generation, exact shared-n-gram / edit-distance
  * verification, and the persisted-history incremental twin. Mixed
  * into the [[Dedup]] object (r17 file-size split; call sites are
  * unchanged: `Dedup.passagePairs` etc.) — not a public extension
  * point. */
trait DedupPassages { self: Dedup.type =>
  // ------------------------------------------------------ copied passages

  /** The distinct, doc-frequency-pruned `(idCol, chunk)` fingerprint
    * relation the whole CDC passage family joins on — one row per
    * (doc, distinct chunk hash) with chunks seen in more than
    * `maxDocFreq` docs removed (boilerplate). Shared by [[passagePairs]]
    * (self-join) and [[passageIncremental]] (probe against a persisted
    * history copy); the nightly writer persists exactly this frame
    * bucketed by `chunk` so the two can never disagree on the schema
    * or the pruning.
    *
    * Plan notes: explode_OUTER + a post-filter on the generated
    * attribute, not a plain explode — InferFiltersFromGenerate would
    * otherwise add `size(chunk_hashes) > 0 AND isnotnull(chunk_hashes)`
    * UNDER the generate, re-evaluating the (expensive, per-character)
    * chunk hash 3× per row at the scan. outer generators are exempt
    * from that rule, and the null/empty placeholder rows the outer
    * explode emits are dropped by a filter on the already-generated
    * value. The explicit isnotnull(idCol) makes this subtree IDENTICAL
    * to what a self-join side infers from `x.id < y.id`, so AQE plans
    * one scan+chunk pipeline and ReusedExchanges for every consumer
    * (doc-frequency side included) instead of three. */
  def passageChunkKeys(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxDocFreq: Int = 1000,
      avgChunkBits: Int = 6,
      window: Int = 16): DataFrame = {
    val chunks = TextAnalysis.chunkFingerprints(df, textCol,
        avgChunkBits = avgChunkBits, window = window)
      .filter(col(idCol).isNotNull)
      .select(col(idCol), explode_outer(col("chunk_hashes")).as("chunk"))
      .filter(col("chunk").isNotNull)
      .distinct()
    val rare = chunks.groupBy("chunk")
      .agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxDocFreq)
      .select("chunk")
    chunks.join(rare, "chunk")
  }

  /** Copied-passage pairs: documents sharing at least `minShared`
    * content-defined chunks ([[TextAnalysis.chunkFingerprints]]) —
    * catches partial duplication (a lifted paragraph) that whole-doc
    * fingerprints miss.
    *
    * Scale: explode chunk hashes, DROP ubiquitous chunks (doc
    * frequency > `maxDocFreq` — boilerplate shared by everything would
    * make its bucket quadratic), then equi-join on chunk hash and
    * count shared chunks per pair. Same candidate-by-key shape as the
    * other fuzzy paths. */
  def passagePairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minShared: Int = 2,
      maxDocFreq: Int = 1000,
      avgChunkBits: Int = 6,
      window: Int = 16): DataFrame = {
    val kept = passageChunkKeys(df, textCol, idCol, maxDocFreq,
      avgChunkBits, window)
    sharedChunkPairs(kept, idCol, minShared)
  }

  /** The chunk-keyed pairing rule stated ONCE: self-join
    * [[passageChunkKeys]] output on chunk with `id_a < id_b`, count
    * shared distinct chunks per pair, keep at `minShared`. Shared by
    * [[passagePairs]] (the one-shot relation) and
    * [[passageIncremental]]'s within-batch loser block, so the two
    * paths can never diverge on the pairing semantics. */
  private def sharedChunkPairs(
      kept: DataFrame, idCol: String, minShared: Int): DataFrame = {
    val x = kept.alias("x")
    val y = kept.alias("y")
    x.join(y, col("x.chunk") === col("y.chunk") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .agg(count(lit(1)).as("shared_chunks"))
      .filter(col("shared_chunks") >= minShared)
  }

  /** Edit-distance similarity over candidate pairs — the
    * entity-resolution primitive (near-identical titles, names, short
    * records) the set-based families don't cover: Jaccard on shingles
    * is blind to single-character edits in SHORT strings, where one
    * typo changes most shingles. Scores each pair with Levenshtein
    * distance over the normalized text (prefix-truncated to
    * `maxChars`: the DP is O(len²) per pair — unbounded document
    * bodies do not belong in it) and a `similarity` in [0,1]
    * (1 − dist/maxLen; two empty strings are identical ⇒ 1.0).
    *
    * Like [[ngramJaccard]], this is the VERIFICATION arithmetic:
    * candidates come from the caller (banding, blocking on a key, or
    * small-domain pairs) — verification cost tracks the candidate
    * count, never corpus². Codegen'd built-in `levenshtein`, no UDF. */
  def editSimilarity(
      docs: DataFrame,
      pairs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxChars: Int = 100): DataFrame = {
    val keyed = candidateRows(docs.select(col(idCol),
        substring(TextAnalysis.normalize(col(textCol)), 1, maxChars).as("t")),
      pairs, idCol)
    pairSides(pairs, idCol, "t", keyed, keyed)
      .withColumn("edit_dist", levenshtein(col("t_a"), col("t_b")))
      .withColumn("similarity",
        when(greatest(length(col("t_a")), length(col("t_b"))) === 0, 1.0)
          .otherwise(round(lit(1.0) - col("edit_dist").cast("double") /
            greatest(length(col("t_a")), length(col("t_b"))), 6)))
      .select("id_a", "id_b", "edit_dist", "similarity")
  }

  /** CDC candidate generation followed by EXACT shared-n-gram
    * verification — [[simhashVerified]]'s production pattern with
    * content-defined chunking as the sketch: [[passagePairs]] proposes
    * pairs sharing at least one chunk, then ONLY those pairs are scored
    * by their exact count of shared distinct word `n`-grams (the
    * [[graft.llm.Curate.contamination]] tokenization, whole-sequence
    * fallback for sub-n docs) and kept at `minSharedGrams`. Returns
    * ground-truth `(id_a, id_b, shared_ngrams)` — precision exact by
    * construction, recall the chunker's.
    *
    * Chunking defaults are FINER here than [[passagePairs]]'s
    * (avg 2^4 = 16 chars, min 8) for recall: a copied passage long
    * enough to clear `minSharedGrams` (≥ n + minSharedGrams − 1 tokens
    * ≈ 90+ chars) then contains several complete chunks, so candidate
    * generation misses only passages that straddle every boundary —
    * vanishing at these sizes, empirically zero on the driver fixture
    * (the registered row's brute-force oracle would catch any miss).
    *
    * `maxDocFreq` defaults MUCH lower than [[passagePairs]]'s: fine
    * chunks make boilerplate collisions common, and within-chunk
    * pairing is quadratic in doc frequency — measured at sf0.1, 96% of
    * the 512k candidate pairs under maxDocFreq=1000 came from the 208
    * chunks with df > 20 (pure boilerplate; maxDocFreq=20 leaves 21k
    * candidates and the identical verified output). A genuinely copied
    * passage pairs through its RARE content chunks regardless — at any
    * corpus size the bound caps per-chunk fan-out at df·(df−1)/2 with
    * df ≤ 20, which is what keeps candidate generation linear in
    * corpus size at 100 TB.
    *
    * Scale: the chunk pipeline is unchanged (zero-shuffle per-row
    * fingerprints, doc-frequency-pruned equi-join); verification joins
    * texts for CANDIDATE pairs only, so its cost tracks the candidate
    * count, never corpus². */
  def passageVerified(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 8,
      minSharedGrams: Int = 10,
      avgChunkBits: Int = 4,
      window: Int = 8,
      maxDocFreq: Int = 20): DataFrame = {
    val docs = df.select(col(idCol), col(textCol))
    val candidates = passagePairs(docs, textCol, idCol, minShared = 1,
        maxDocFreq, avgChunkBits, window)
      .select("id_a", "id_b")
    val grams = strictGrams(candidateRows(docs, candidates, idCol), textCol,
        idCol, n)
      .select(col(idCol), array_distinct(col("grams")).as("g"))
    pairSides(candidates, idCol, "g", grams, grams)
      .withColumn("shared_ngrams",
        size(array_intersect(col("g_a"), col("g_b"))))
      .filter(col("shared_ngrams") >= minSharedGrams)
      .select("id_a", "id_b", "shared_ngrams")
  }

  /** Batch-incremental CDC passage dedup — the refresh story for the
    * passage family (periodic batch passes were re-chunking the full
    * corpus per run): returns the rows of `newDocs` that survive
    * dropping (a) every batch doc sharing ≥ `minShared` pruned chunk
    * fingerprints with ANY history doc — history is PRIOR, keep-first
    * by arrival — and (b) the larger-id member of every such pair
    * WITHIN the batch. Ids must be globally unique across batch and
    * history.
    *
    * `histChunks` is the persisted history relation —
    * [[passageChunkKeys]] output written bucketed by `chunk`
    * ([[graft.sources.Sources.writeBucketed]]): the cross candidate
    * join then reuses the table's ingest-time bucketing and plans NO
    * history-side Exchange (PlanAuditSpec pins it), and the 100 TB
    * history text is never re-normalized or re-chunked.
    *
    * Doc-frequency pruning is PER SIDE: history chunks were pruned at
    * ingest against the history corpus; the batch prunes against its
    * own chunk frequencies here. That is deliberately NOT the
    * union-corpus df the one-shot [[passagePairs]] computes — at scale
    * the union df would re-aggregate the full history every refresh,
    * which is exactly what the incremental shape exists to avoid; a
    * chunk that crossed the boilerplate threshold only via batch+history
    * combined mass still pairs (slightly more candidate work, same
    * verified semantics since `minShared` counts distinct shared
    * chunks, not rare ones). */
  def passageIncremental(
      newDocs: DataFrame,
      histChunks: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minShared: Int = 2,
      maxDocFreq: Int = 1000,
      avgChunkBits: Int = 6,
      window: Int = 16): DataFrame = {
    // materialized ONCE (r19, guide §7.2): the batch chunking — the
    // per-byte gear-hash scan, this operator's expensive leg (2.3 s of
    // the sf0.1 profile) — feeds TWO consumers (the cross candidate
    // join and the within-batch pair join) and re-ran per consumer;
    // the lazy checkpoint replays compact (id, chunk) rows instead.
    // In-query, per invocation; rows unchanged.
    val batchKept = passageChunkKeys(newDocs, textCol, idCol, maxDocFreq,
      avgChunkBits, window).localCheckpoint(false)
    val crossLosers = batchKept
      .join(histChunks.select(col(idCol).as("hist_id"), col("chunk")),
        "chunk")
      .groupBy(col(idCol), col("hist_id"))
      .agg(count(lit(1)).as("shared_chunks"))
      .filter(col("shared_chunks") >= minShared)
      .select(col(idCol))
    val withinLosers = sharedChunkPairs(batchKept, idCol, minShared)
      .select(col("id_b").as(idCol))
    dropLosers(newDocs, idCol, crossLosers, withinLosers)
  }
}
