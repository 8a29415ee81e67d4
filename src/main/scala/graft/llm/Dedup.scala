package graft.llm

import graft.functions.{CosineSimilarity, HyperplaneSignature, MinhashSignature, WordNgrams}
import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, from cheap to
  * fuzzy: exact (normalized hash), MinHash+LSH (Jaccard), SimHash
  * (Hamming), n-gram Jaccard verification, and embedding-cosine
  * near-dup. All are built to survive 100 TB: every path is
  * candidate-generation-by-key (hash/band/bucket join) + local
  * verification — never an all-pairs cross join.
  */
object Dedup extends DedupPassages with DedupLines {

  // ---------------------------------------------------------------- exact

  /** THE exact-dedup key: sha2-256 of the whitespace/case-normalized
    * text. One definition shared by every exact path (batch window,
    * keeper groupBy, group summary, streaming dedup) — the hash IS the
    * dedup semantics, so it must not fork. */
  def contentHash(text: Column): Column =
    sha2(TextAnalysis.normalize(text), 256)

  /** Exact dedup on the whitespace/case-normalized text. Keeps the row
    * with the smallest `idCol` per duplicate group.
    *
    * Scale: one hash-partitioned shuffle on a 64-char key; the
    * row_number window runs inside each partition. Skew-safe even for
    * a pathologically duplicated single document: Spark plans the
    * rn=1 filter as a WindowGroupLimit with a PARTIAL pass before the
    * exchange (visible in `graft.Explain`), so each map task ships at
    * most one row per hash — the hot key never concentrates.
    */
  def exact(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val keyed = df.withColumn("content_hash", contentHash(col(textCol)))
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol))
    keyed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Keeper-ids-only fast path of [[exact]]: when the caller needs just
    * `(idCol, content_hash)` — not the full surviving rows — a single
    * partial-aggregated groupBy beats the window variant ~3.5× (the
    * window must sort within hash partitions and carry whole rows;
    * min() combines map-side to one value per hash per task). Same
    * result set as `exact(df).select(idCol, "content_hash")`. */
  def exactKeepers(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("content_hash"))

  /** Exact-dedup summary: per duplicate group, the kept id and the
    * group size (oracle-friendly shape — no window needed, pure
    * groupBy). */
  def exactGroups(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** Incremental exact dedup — THE production dedup workflow: dedup
    * today's batch against the historical corpus without ever
    * re-reading the corpus text. `keeperHashes` is the running keeper
    * set (any frame with a `content_hash` column, e.g. an accumulated
    * [[exactKeepers]] output); the result is the batch's keeper rows
    * `(idCol, content_hash)` whose hash is NOT already kept — dedup
    * within the batch AND against history in one call. Append the
    * result to the keeper set to roll forward.
    *
    * Scale: the batch-side [[exactKeepers]] groupBy hash-partitions the
    * (small, new) batch by `content_hash`; the history side joins by
    * the same key. Store the keeper set as a bucketed table on
    * `content_hash` ([[graft.sources.Sources.writeBucketed]] with
    * numBuckets = shuffle partitions) and the 100 TB history side
    * plans with ZERO Exchange — the anti-join reuses the batch's own
    * groupBy partitioning and the keeper table's ingest-time bucketing,
    * so the only shuffle in the whole plan is the tiny batch pre-agg
    * (DedupSpec asserts exactly one Exchange). */
  def exactIncremental(newDocs: DataFrame, keeperHashes: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    exactKeepers(newDocs, textCol, idCol)
      .join(keeperHashes.select(col("content_hash")),
        Seq("content_hash"), "left_anti")
      .select(col(idCol), col("content_hash"))

  // -------------------------------------------------------------- minhash

  /** MinHash near-dup pairs, the brief's literal pipeline:
    * shingle → minhash signature → band → bucket equi-join →
    * exact-Jaccard verification. The full `numHashes`-slot signature is
    * computed PER ROW by the custom codegen'd
    * [[graft.functions.MinhashSignature]] expression over the doc's
    * word-3-shingles — ZERO shuffles to build signatures, and one
    * string hash + `numHashes` long-mixes per shingle inside
    * WholeStageCodegen. A round-2 version exploded the shingle stream
    * through a 64-column groupBy (one corpus-wide doc-keyed shuffle);
    * a round-3 version folded the identical min(xxhash64(shingle,
    * seed_i)) arithmetic map-side with `aggregate`/`zip_with` HOFs,
    * which Spark evaluates interpreted with a fresh 64-slot array per
    * shingle. Signatures are bit-identical at every step (asserted in
    * MinhashSignatureSpec). With tokenization also moved into the
    * codegen [[graft.functions.WordNgrams]] expression the whole path
    * is UDF- and HOF-free: end-to-end sf0.1 time 13.0s (r2) → 6.2s
    * (r3 fold) → 3.3s (r4 codegen signature + tokenizer).
    * Signatures are banded
    * (`numHashes / bands` rows each); docs sharing any band hash become
    * candidates via an equi-join; candidates are verified with exact
    * n-gram Jaccard ([[ngramJaccard]]) and filtered to `minJaccard`.
    *
    * Recall: a pair with true Jaccard s shares a band with probability
    * 1-(1-s^r)^b (r = numHashes/bands rows per band, b = bands) —
    * defaults (64, 16) give ≥ 0.99 recall at s ≥ 0.7. Precision is
    * exact: the verification stage computes true Jaccard on the
    * (small) candidate set only. Passing 0 for either knob derives
    * BOTH from the corpus count and `minJaccard` via [[minhashKnobs]]
    * (recall held at the threshold, spurious-candidate mass bounded
    * per doc — costs one count job; nightly pipelines should log the
    * derived pair once and pass it explicitly).
    *
    * Scale: never an all-pairs join — candidate generation is an
    * equi-join on 64-bit band keys (no 2^16 bucket ceiling like
    * simhash's fixed bands); verification re-joins only candidate ids.
    * Returns (id_a, id_b, jaccard) with id_a < id_b. */
  def minhashPairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      seed: Long = 42L): DataFrame = {
    val docs = df.select(col(idCol), col(textCol))
    val (nh, nb) = minhashKnobs(docs.count(), minJaccard, numHashes, bands)
    val banded = minhashBandKeys(docs, textCol, idCol, nh, nb, seed)
    ngramJaccard(docs, bandedSelfJoin(banded, idCol).distinct(),
      textCol = textCol, idCol = idCol)
      .filter(col("jaccard") >= minJaccard)
  }

  // ------------------------------------------------ shared pipeline stages
  //
  // Every near-dup family is candidate → verify → keep. The stages below
  // are the one copy of each step; a modality passes its band-key frame
  // (`(idCol, bk, …)` rows) and its exact verifier.

  /** The banded self-join: bucket-mate pairs `(id_a < id_b)` of a
    * band-key frame, plus `payload` columns over its `x`/`y` sides;
    * `probe` adds a bucket-mate condition (multiprobe: one side exact).
    * Self-join via dataset aliases, renaming only AFTER the join: the
    * two inputs are then canonically identical subtrees, so the band-
    * key pipeline (ending in its explicit exchange on `bk`) computes
    * ONCE and the second side is a ReusedExchange. Renaming before the
    * join breaks that match and silently doubles the pipeline; a naive
    * unaliased a("bk") === b("bk") is worse still — it resolves to a
    * trivially-true self comparison and cross-joins. */
  private def bandedSelfJoin(banded: DataFrame, idCol: String,
      probe: Option[Column] = None,
      payload: Seq[Column] = Nil): DataFrame = {
    val cond = (Seq(col("x.bk") === col("y.bk")) ++ probe :+
      (col(s"x.$idCol") < col(s"y.$idCol"))).reduce(_ && _)
    banded.alias("x").join(banded.alias("y"), cond)
      .select(Seq(col(s"x.$idCol").as("id_a"),
        col(s"y.$idCol").as("id_b")) ++ payload: _*)
  }

  /** Batch×history candidates `(batch id_a, history id_b)`: the batch
    * band keys equi-joined to the history's — a persisted bucketed
    * `histBands` table plans with no history-side Exchange. */
  private def crossCandidates(batchBands: DataFrame, histBands: DataFrame,
      idCol: String): DataFrame =
    batchBands.alias("x")
      .join(histBands.select(col(idCol), col("bk")).alias("y"),
        col("x.bk") === col("y.bk"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))

  /** The batch×history incremental split under [[minhashIncremental]]
    * and [[embeddingIncremental]]: cross ∪ within-batch candidates cut
    * ONCE (a verify may read them twice, as [[ngramJaccard]] does; each
    * un-cut read re-derived the batch band keys), ONE `verify`, ONE
    * loser projection by id_b (ids globally unique): id_b in the batch
    * ⇒ within pair, id_b loses (smaller id wins); else id_a loses. */
  private def incrementalSurvivors(newRows: DataFrame, batchIds: DataFrame,
      batchBands: DataFrame, histBands: DataFrame, idCol: String)(
      verify: DataFrame => DataFrame): DataFrame = {
    val pairs = crossCandidates(batchBands, histBands, idCol)
      .unionByName(bandedSelfJoin(batchBands, idCol)).distinct()
      .localCheckpoint(false)
    val losers = verify(pairs)
      .join(batchIds.select(col(idCol).as("id_b"), lit(true).as("_within")),
        Seq("id_b"), "left")
      .select(when(col("_within"), col("id_b")).otherwise(col("id_a"))
        .as(idCol))
    newRows.join(losers.distinct(), Seq(idCol), "left_anti")
  }

  /** A persisted `histBands` table is only comparable under the exact
    * knobs that built it, so it requires them explicit. */
  private def requireExplicitKnobs(histBands: Option[DataFrame],
      explicit: Boolean, knobs: String): Unit =
    require(histBands.isEmpty || explicit,
      s"histBands requires explicit $knobs — the persisted keys are " +
        "only comparable under the exact knobs that built them")

  /** The star window over a band-key frame: per bucket `bk`, each row's
    * prefix MINIMUM and immediate PREDECESSOR of `link` (ordered by
    * id) from ONE sorted window pass, no self-join — exploded into
    * `carry` + one `linkAs` row each. The first row of a bucket links
    * nowhere (both null); a cross-band 64-bit key collision can put
    * the same id in a bucket twice — never self-link (`linkId` vs
    * `selfId`). */
  private def starWindow(banded: DataFrame, idCol: String, link: Column,
      carry: Seq[Column], linkAs: String, linkId: Column,
      selfId: Column): DataFrame = {
    val w = Window.partitionBy(col("bk")).orderBy(col(idCol))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    banded
      .withColumn("mn", min(link).over(wPrev))
      .withColumn("pv", lag(link, 1).over(w))
      .select(carry :+ explode(array(col("mn"), col("pv"))).as(linkAs): _*)
      .filter(col(linkAs).isNotNull && linkId =!= selfId)
  }

  /** Keep rule of every star/pair dedup: the distinct id_b side of an
    * `(id_a < id_b)` link frame — the docs with a link to a smaller id. */
  private def linkedIds(links: DataFrame, idCol: String): DataFrame =
    links.select(col("id_b").as(idCol)).distinct()

  /** `df` minus [[linkedIds]] of `links` (keep-min over the links). */
  private def dropLinked(df: DataFrame, links: DataFrame,
      idCol: String): DataFrame =
    df.join(linkedIds(links, idCol), Seq(idCol), "left_anti")

  /** Keep rule over `(id, component)` labels: one survivor per
    * component — the smallest id, or with `scoreCol` the best-scoring
    * member (score desc, ties to the smaller id; one candidate-bounded
    * window over the cluster members, WindowGroupLimit shape — the
    * member set is pairs-bounded, never corpus-bounded). */
  private def keepPerComponent(df: DataFrame, comps: DataFrame,
      idCol: String, scoreCol: Option[String]): DataFrame = {
    val losers = scoreCol match {
      case None => comps.filter(col("id") =!= col("component"))
      case Some(sc) =>
        val w = Window.partitionBy(col("component"))
          .orderBy(col("_score").desc, col("id"))
        comps.join(df.select(col(idCol).as("id"), col(sc).as("_score")), "id")
          .withColumn("_rk", row_number().over(w))
          .filter(col("_rk") =!= 1)
    }
    df.join(losers.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Collapse survivors' candidate pairs: `banded` minus the `drops`
    * ids, banded self-join, distinct — the star-first compositions'
    * survivor pass. */
  private def survivorPairs(banded: DataFrame, drops: DataFrame,
      idCol: String): DataFrame =
    bandedSelfJoin(banded.join(drops, Seq(idCol), "left_anti"), idCol)
      .distinct()

  /** The `(numHashes, bands)` auto-derivation for the MinHash family —
    * the Jaccard twin of `lshKnobs` (embedding side), opt-in by passing
    * 0 for EITHER knob; explicit knobs pass through untouched. `count`
    * is by-name and only evaluated when deriving.
    *
    * Derivation: with r rows per band and b bands, a pair at Jaccard s
    * shares a band with probability 1-(1-s^r)^b. For each candidate r,
    * the bands needed to hold `targetRecall` at the `minJaccard`
    * boundary are b(r) = ⌈ln(1/(1-targetRecall)) / minJaccard^r⌉, and
    * the expected spurious-candidate mass — modeling unrelated pairs at
    * a background similarity of minJaccard/2 — is n²/2 · b(r) ·
    * (minJaccard/2)^r. The chosen r is the SMALLEST (cheapest
    * signature: r·b(r) hashes) whose spurious mass stays within
    * `maxCandidatesPerDoc` per document, i.e. b(r)·(minJaccard/2)^r ≤
    * 2·maxCandidatesPerDoc/n — a bigger corpus therefore demands a
    * sharper S-curve (more rows per band) AND more bands to hold
    * recall, which is the honest linear price of precision at scale
    * (the silent alternative is a quadratic candidate blowup). Bands
    * cap at 64 (cost ceiling, like lshKnobs' table clamp); when no r
    * meets the budget under the cap, the sharpest feasible r wins and
    * the verification stage absorbs the extra candidates. Thresholds
    * low enough that even r=2 exceeds the cap fall back to (128, 64) —
    * pass explicit knobs there. */
  private[graft] def minhashKnobs(
      count: => Long,
      minJaccard: Double,
      numHashes: Int,
      bands: Int,
      targetRecall: Double = 0.9,
      maxCandidatesPerDoc: Int = 8): (Int, Int) = {
    if (numHashes > 0 && bands > 0) (numHashes, bands)
    else {
      require(minJaccard > 0.0 && minJaccard < 1.0,
        s"minJaccard must be in (0, 1) to derive knobs, got $minJaccard")
      require(targetRecall > 0.0 && targetRecall < 1.0,
        s"targetRecall must be in (0, 1), got $targetRecall")
      val n = math.max(2L, count)
      val sBg = minJaccard / 2.0
      def bandsFor(r: Int): Int = math.ceil(
        math.log(1.0 / (1.0 - targetRecall)) / math.pow(minJaccard, r)).toInt
      val budget = 2.0 * maxCandidatesPerDoc / n
      val feasible = (2 to 12).filter(bandsFor(_) <= 64)
      if (feasible.isEmpty) (128, 64)
      else {
        val r = feasible
          .find(r => bandsFor(r) * math.pow(sBg, r) <= budget)
          .getOrElse(feasible.last)
        (r * bandsFor(r), bandsFor(r))
      }
    }
  }

  /** The `(idCol, bk)` banded MinHash keys candidate generation joins
    * on — the shared pipeline under [[minhashPairs]] and
    * [[minhashIncremental]]. Public so the historical side of an
    * incremental pipeline can be computed once and PERSISTED (write
    * bucketed by `bk` via [[graft.sources.Sources.writeBucketed]], pass
    * the table through `histBands`, and the nightly batch's candidate
    * join plans no history-side Exchange, like the exact-dedup keeper
    * table). Band keys are FLAT 64-bit hashes of (band index, the
    * band's signature rows) — no 2^16 bucket ceiling, a primitive
    * bucketing/shuffle key, and the band index inside the hash keeps
    * bands from colliding with each other (a cross-band accidental
    * equality needs a full 64-bit collision, and even then only adds a
    * candidate the exact-Jaccard verification discards). */
  def minhashBandKeys(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L): DataFrame =
    minhashBands(minhashSigs(df.select(col(idCol), col(textCol)), textCol,
        idCol, numHashes, seed), Seq(idCol), numHashes, bands)
      // explicit exchange on the join key: a self-join's two sides are
      // canonically identical subtrees ending in this shuffle, so
      // ReusedExchange computes the signature pipeline ONCE and replays
      // the (compact) banded rows for both sides — without it each side
      // re-scans and re-hashes the corpus
      .repartition(col("bk"))

  /** The per-doc `(idCol, sh, sig)` minhash projection from ONE
    * tokenization: the sorted-distinct shingle set (the verification
    * payload — sorted so the per-pair intersect is a zero-allocation
    * merge scan, the SortedIntersectCount kernel; Jaccard is set
    * arithmetic, so sorting changes nothing the oracle sees) and the
    * codegen'd per-row signature (one string hash per shingle +
    * numHashes long-mixes into a reused accumulator — bit-identical to,
    * and ~an order of magnitude cheaper than, the interpreted
    * aggregate/zip_with/xxhash64 fold it replaces; min() is
    * duplicate-insensitive, so set semantics cost nothing). Consumers
    * that drop `sh` never compute it (column pruning). */
  private def minhashSigs(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int, seed: Long): DataFrame =
    shingled(docs, textCol, idCol)
      .select(col(idCol),
        array_sort(array_distinct(col("shingles"))).as("sh"),
        MinhashSignature(col("shingles"), numHashes, seed).as("sig"))

  /** The band-key explode over a [[minhashSigs]] frame: `keep` columns
    * plus one `bk` row per band, bk = hash of (band index, the band's
    * signature rows). `sig` is an attribute here, so element_at reads
    * are O(1) — no outer-expression duplication into the banding
    * projection. */
  private def minhashBands(sigs: DataFrame, keep: Seq[String],
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rowsPerBand = numHashes / bands
    sigs.select(keep.map(col) :+
      explode(array((0 until bands).map { b =>
        val rows = (0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1))
        xxhash64(lit(b) +: rows: _*)
      }: _*)).as("bk"): _*)
  }

  /** Incremental NEAR-dup dedup — the fuzzy twin of
    * [[exactIncremental]]: returns the rows of `newDocs` that survive
    * dropping (a) every batch doc minhash-near (Jaccard ≥ `minJaccard`)
    * ANY historical doc, and (b) the larger-id member of every near-dup
    * pair WITHIN the batch (greedy suppression, like [[minhash]]).
    * Ids must be globally unique across batch and history (true of any
    * append-only doc pipeline).
    *
    * Scale: candidates are two equi-joins on 64-bit band keys —
    * batch×history and batch×batch — whose distinct union is cut ONCE,
    * so each call derives the batch band keys in one pass; the verify
    * reads the cut pairs and shingles only candidate docs
    * ([[ngramJaccard]]'s semi-join). By default the history side
    * recomputes its band keys in-query; a nightly pipeline should
    * instead persist [[minhashBandKeys]] of the history bucketed by
    * `bk` ([[graft.sources.Sources.writeBucketed]]) and pass it as
    * `histBands` — the candidate join then plans with NO history-side
    * Exchange (PlanAuditSpec asserts the shape) and history text is
    * only touched for the (tiny) verification set. A supplied
    * `histBands` must have been built with the SAME (numHashes, bands,
    * seed) — band keys from different knobs never collide, so a
    * mismatch silently finds nothing. */
  def minhashIncremental(
      newDocs: DataFrame,
      histDocs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      seed: Long = 42L,
      histBands: Option[DataFrame] = None): DataFrame = {
    val (batchBands, hb) = minhashIncrementalBands(newDocs, histDocs,
      textCol, idCol, numHashes, bands, minJaccard, seed, histBands)
    val allDocs = newDocs.select(col(idCol), col(textCol))
      .unionByName(histDocs.select(col(idCol), col(textCol)))
    incrementalSurvivors(newDocs, newDocs, batchBands, hb, idCol) { pairs =>
      ngramJaccard(allDocs, pairs, textCol = textCol, idCol = idCol)
        .filter(col("jaccard") >= minJaccard)
    }
  }

  /** The batch and history band keys of the minhash incremental pair
    * ([[minhashIncremental]], [[minhashIncrementalStarFirst]]). Auto-
    * knobs (either 0) derive from the HISTORY count — the big side
    * bounds spurious-candidate mass, as in embeddingIncremental; a
    * persisted `histBands` replaces the history-side derivation. */
  private def minhashIncrementalBands(newDocs: DataFrame,
      histDocs: DataFrame, textCol: String, idCol: String, numHashes: Int,
      bands: Int, minJaccard: Double, seed: Long,
      histBands: Option[DataFrame]): (DataFrame, DataFrame) = {
    requireExplicitKnobs(histBands, numHashes > 0 && bands > 0,
      "numHashes and bands")
    val (nh, nb) = minhashKnobs(
      histDocs.select(col(idCol)).count(), minJaccard, numHashes, bands)
    (minhashBandKeys(newDocs, textCol, idCol, nh, nb, seed),
      histBands.getOrElse(
        minhashBandKeys(histDocs, textCol, idCol, nh, nb, seed)))
  }

  /** Word n-grams with the STRICT short-doc fallback: a doc under n
    * tokens emits its whole token sequence as ONE gram (vs [[shingled]]
    * whose single-token fallback would make any shared WORD a match).
    * The decontamination primitive — a short benchmark item only
    * matches a doc with the identical full token sequence. Empty-token
    * docs are dropped (no empty gram). */
  private[graft] def strictGrams(docs: DataFrame, textCol: String,
      idCol: String, n: Int): DataFrame =
    docs.withColumn("grams",
        WordNgrams(col(textCol), n, strictFallback = true))
      .filter(size(col("grams")) > 0)

  /** Word n-shingles with the tiny-doc fallback (docs under n tokens
    * keep their single tokens so they still participate). */
  private def shingled(docs: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame =
    docs.select(col(idCol),
        WordNgrams(col(textCol), n, strictFallback = false).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** Banded rows carrying their VERIFICATION payload: one row per
    * (doc, band) with the doc's distinct shingle set riding along —
    * the single-pass input a STREAMING near-dedup needs
    * ([[graft.streaming.StreamOps.nearDedupStream]]), where a
    * batch-style "band first, join texts back for the candidates"
    * would be a stream-stream self-join (watermark state on both
    * sides) for no benefit. Band keys are bit-identical to
    * [[minhashBandKeys]] (same raw-shingle [[MinhashSignature]], same
    * xxhash64 banding), so the bucket structure — and with it the
    * star-link drop set — matches the batch family exactly; `sh` is
    * the array_distinct the verification arithmetic
    * ([[ngramJaccard]]'s) expects. Streaming-safe: a narrow projection
    * + explode, no repartition (the downstream groupByKey shuffles on
    * the band key anyway). */
  def minhashBandedShingles(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L): DataFrame =
    // sh is SORTED-distinct (r16): the streaming keeper's per-pair
    // verification is then a zero-allocation merge scan
    minhashBands(minhashSigs(docs.select(col(idCol), col(textCol)),
      textCol, idCol, numHashes, seed), Seq(idCol, "sh"), numHashes, bands)

  /** MLlib MinHashLSH variant (HashingTF sparse vectors +
    * approxSimilarityJoin), kept as the recall cross-check for
    * [[minhashPairs]] — same equi-join scale shape, heavier constants
    * (interpreted keyDistance on 2^20-dim sparse vectors).
    * Returns (id_a, id_b, jaccard_dist) with id_a < id_b. */
  def minhashPairsLsh(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashTables: Int = 8,
      jaccardDist: Double = 0.6,
      seed: Long = 42L): DataFrame = {
    val vectorized = new HashingTF()
      .setInputCol("shingles").setOutputCol("features")
      .setBinary(true).setNumFeatures(1 << 20)
      .transform(shingled(df.select(col(idCol), col(textCol)), textCol, idCol))
    val lsh = new MinHashLSH().setNumHashTables(numHashTables)
      .setInputCol("features").setOutputCol("hashes").setSeed(seed)
    val model = lsh.fit(vectorized)
    model.approxSimilarityJoin(vectorized, vectorized, jaccardDist, "jaccard_dist")
      .select(
        col(s"datasetA.$idCol").as("id_a"),
        col(s"datasetB.$idCol").as("id_b"),
        col("jaccard_dist"))
      .filter(col("id_a") < col("id_b"))
  }

  /** MinHash dedup: drop every doc that is minhash-near a doc with a
    * smaller id (greedy single-pass suppression — the standard
    * at-scale approximation of connected-component dedup). */
  def minhash(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minJaccard: Double = 0.5): DataFrame =
    dropLinked(df, minhashPairs(df, textCol, idCol, minJaccard = minJaccard),
      idCol)

  /** Connected-component labels over an undirected `(id_a, id_b)` edge
    * frame: every node is labeled with the SMALLEST id reachable from
    * it (so A~B, B~C gives all three component=A even when A≁C
    * directly — the transitive closure greedy suppression misses).
    *
    * Algorithm: iterative min-label propagation — each round joins the
    * current labels into the edge list and takes the per-node min of
    * (own label, neighbors' labels), until a fixpoint or `maxIter`.
    * Rounds needed = graph diameter; near-dup graphs are shallow
    * (duplicate clusters, not long paths), so this converges in a few
    * rounds. At 100 TB-with-adversarial-diameter scale the same
    * join-shape upgrades to alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce"), which
    * contracts in O(log n) rounds — the per-round plan here (equi-join
    * + min-groupBy, both on the node key) is unchanged.
    *
    * Each round's labels are eagerly `localCheckpoint`ed — in an
    * iterative algorithm the plan tree otherwise GROWS by one
    * join+agg per round and Catalyst re-optimizes the whole history
    * every iteration (quadratic planning, the classic Spark iterative
    * trap; GraphX checkpoints for the same reason). The checkpoint
    * both caches the round and truncates its lineage to the
    * materialized blocks. The loop itself is driver-side control flow
    * over fully distributed steps (the only collects are the fixpoint
    * counts).
    *
    * localCheckpoint CAVEAT: blocks live on executors, so losing one
    * executor (crash, preemption, dynamic-allocation scale-down) makes
    * the truncated lineage unrecoverable mid-run — Spark's own docs
    * call this mode unsafe for long at-scale jobs. For those, pass
    * `checkpointDir` (a reliable store, e.g. HDFS/S3): every round then
    * uses fault-tolerant `checkpoint` instead. Validation-scale runs
    * keep the (much cheaper) localCheckpoint default.
    *
    * If the label propagation has not converged after `maxIter` rounds
    * (rounds needed = graph diameter), the call falls back to
    * [[connectedComponentsStar]], whose round count is O(log n)
    * regardless of diameter — set `starFallback = false` to get the
    * fail-fast IllegalStateException instead.
    *
    * Lifecycle: the RETURNED frame is backed by the final round's
    * checkpoint blocks (its lineage is truncated — that is what makes
    * the iterative loop plannable), so it stays materialized until the
    * caller `.unpersist()`s it. Call unpersist once the labels are
    * consumed. With `checkpointDir` set, per-round checkpoint FILES
    * additionally accumulate under the dir; enable
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` to have
    * the context cleaner reclaim them as rounds are unpersisted, or
    * delete the directory after the job. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      checkpointDir: Option[String] = None,
      starFallback: Boolean = true): DataFrame = {
    val edges = persistRound(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))),
      checkpointDir)
    // the initial label frame goes through an exchange, so its
    // materialized partition count is the AQE-coalesced, bytes-derived
    // value withIterLoopConf scales the loop rounds to (`edges` itself
    // is a shuffle-free union whose partition count just sums the
    // inputs' — not data-representative)
    val labels0 = persistRound(
      edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")),
      checkpointDir)
    val (labels, changed) =
      withIterLoopConf(pairs.sparkSession, labels0) {
    var labels = labels0
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val propagated = edges
        .join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("component"))
      // LAZY round checkpoint + ONE count() job per round (r18
      // optimization, the connectedComponentsStar recipe): the changed-
      // label count's inner join consumes every partition of `next`
      // (caching them, and the lazy local checkpoint truncates lineage
      // at that job's end), so `labels` is only unpersisted after the
      // new round is fully materialized — the safety the old eager
      // comment pinned, now provided by the convergence job itself
      // instead of a second driver job.
      val next = persistRound(
        labels.select("id", "component").union(propagated)
          .groupBy("id").agg(min("component").as("component")),
        checkpointDir, eager = false)
      changed = next
        .join(labels.withColumnRenamed("component", "prev"), "id")
        .filter(col("component") =!= col("prev")).count()
      labels.unpersist() // previous round's checkpoint blocks
      labels = next
      iter += 1
    }
    (labels, changed)
      }
    edges.unpersist()
    if (changed > 0) {
      // a silent non-converged result would KEEP duplicates downstream
      // (one cluster labeled as several components) with no signal.
      // Free the abandoned propagation labels first — on the fallback
      // path nothing ever consumes them again, and leaving the blocks
      // pinned would leak one corpus-node-sized cache per fallback
      labels.unpersist()
      if (starFallback)
        return connectedComponentsStar(pairs, checkpointDir = checkpointDir)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing); the graph diameter exceeds " +
          "maxIter — raise it, or use connectedComponentsStar")
    }
    labels
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond"): each round re-hangs every node under the minimum id
    * it can currently see, so components contract to stars centered at
    * their global minimum in O(log n) rounds INDEPENDENT of graph
    * diameter — the upgrade path [[connectedComponents]]'s per-diameter
    * label propagation needs on adversarial chains.
    *
    *  - large-star (per node u over its full neighborhood Γ(u)):
    *    emit (v, min(Γ(u) ∪ u)) for every neighbor v > u;
    *  - small-star (per node u over Γ≤(u) = neighbors ≤ u):
    *    emit (v, min(Γ≤(u) ∪ u)) for v ∈ Γ≤(u) ∪ {u} except the min.
    *
    * Both phases are one equi-join + one min-groupBy on the node key —
    * the exact per-round plan shape of [[connectedComponents]], so the
    * same scale properties hold (no all-pairs work, partial-agg min,
    * per-round checkpoint against the growing-lineage trap; same
    * `checkpointDir` caveat). Edges are kept canonical (src > dst), so
    * the fixpoint test is a set compare of identically-shaped frames.
    * Returns the same `(id, component)` shape as
    * [[connectedComponents]]; every node of `pairs` appears, labeled
    * with its component's minimum id — including nodes that only occur
    * as self-pairs (id_a == id_b), which label themselves. Same
    * lifecycle as [[connectedComponents]]: the returned frame is
    * checkpoint-backed; `.unpersist()` it when consumed. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    var edges = persistRound(
      pairs.select(greatest(col("id_a"), col("id_b")).as("src"),
          least(col("id_a"), col("id_b")).as("dst"))
        .where(col("src") =!= col("dst")).distinct(),
      checkpointDir)
    var converged = edges.isEmpty
    var iter = 0
    withIterLoopConf(pairs.sparkSession, edges) {
    while (!converged && iter < maxIter) {
      // ONE driver job per round (r18 optimization): the round's frame
      // is checkpointed LAZILY and the convergence count() both
      // materializes it (caching all partitions — `except` scans every
      // partition of both legs, and the lazy local checkpoint truncates
      // lineage when that first job completes, so the unpersist of the
      // previous round below stays safe) and decides the fixpoint. The
      // previous `persist-then-two-isEmpty` form ran 2-3 driver jobs per
      // round — and on the ~20-round cluster rows per-JOB overhead, not
      // the tiny shuffles, was the measured cost (isEmpty's incremental
      // take(1) added scale-up rounds of its own on the converged
      // check). Canonical + distinct on both sides ⇒ set equality is
      // "no row only-in-one-side" either way; the union of the two
      // excepts states it in one exact, countable frame.
      val next = persistRound(smallStar(largeStar(edges)), checkpointDir,
        eager = false)
      // set equality of two CANONICAL DISTINCT edge frames, one
      // exchange: a pair group counts 2 iff it sits in both sides
      // (each side contributes ≤ 1 row), so "no group with count ≠ 2"
      // ⟺ next == edges, exactly — where the two-except form paid
      // 4-5 AQE stage-jobs per round, this pays ~2
      converged = next.unionByName(edges)
        .groupBy("src", "dst").count()
        .where(col("count") =!= 2).count() == 0L
      edges.unpersist()
      edges = next
      iter += 1
    }
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds — " +
          "O(log n) rounds should always suffice; raise maxIter")
    // at the fixpoint edges are stars (v, root): label leaves with the
    // root and each root with itself
    val labelled = edges
      .select(col("src").as("id"), col("dst").as("component"))
      .union(edges.select(col("dst").as("id"), col("dst").as("component")))
      .distinct()
    // self-pairs (id_a == id_b) were dropped by the canonicalization
    // above, but [[connectedComponents]] labels such a node with itself
    // — a node appearing ONLY as a self-pair must not silently vanish
    // from the star path's output. Union the missing ones back in.
    val selfOnly = pairs
      .where(col("id_a") === col("id_b"))
      .select(col("id_a").as("id")).distinct()
      .join(labelled, Seq("id"), "left_anti")
    // materialize the labels as their own round so the final edge
    // blocks can be freed HERE — otherwise the returned frame keeps a
    // lazy reference to them and unpersisting it would free nothing
    // (same caller-unpersists lifecycle as [[connectedComponents]])
    val result = persistRound(
      labelled.union(selfOnly.select(col("id"), col("id").as("component"))),
      checkpointDir)
    edges.unpersist()
    result
  }

  /** One large-star phase: over the SYMMETRIC adjacency, hang every
    * strictly-larger neighbor of u under the minimum of u's
    * neighborhood (including u). Output is canonical (src > dst). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val adj = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = adj.groupBy("src").agg(min(col("dst")).as("mn"))
      .select(col("src").as("u"), least(col("src"), col("mn")).as("m"))
    adj.join(mins, adj("src") === mins("u"))
      .where(col("dst") > col("src")) // v > u ≥ m ⇒ output already canonical
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** One small-star phase: over canonically-oriented edges (src > dst,
    * i.e. grouped by the LARGER endpoint u), hang u and all its
    * smaller neighbors under their collective minimum. Output is
    * canonical (src > dst). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("src").agg(min(col("dst")).as("m"))
      .select(col("src").as("u"), col("m"))
    edges.join(mins, edges("src") === mins("u"))
      .select(explode(array(col("src"), col("dst"))).as("v"), col("m"))
      .where(col("v") =!= col("m")) // v ≥ m always; drop the center itself
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Round persistence for the iterative CC loops: executor-local
    * checkpoint by default, reliable `checkpoint(dir)` when the caller
    * opted in (see the caveat on [[connectedComponents]]).
    *
    * File lifecycle in the reliable mode: `checkpoint` writes each
    * round's blocks under the dir and Spark only deletes them via the
    * context cleaner when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (off by
    * default) — without it the per-round files accumulate until the
    * application exits and the dir is deleted externally. Long-running
    * services calling CC repeatedly should set that conf. */
  private def persistRound(df: DataFrame, checkpointDir: Option[String],
      eager: Boolean = true): DataFrame = checkpointDir match {
    case Some(dir) =>
      val sc = df.sparkSession.sparkContext
      // setCheckpointDir mints a fresh UUID subdir per call AND stores
      // a scheme-qualified path (so comparing against the raw `dir`
      // would never match — and re-setting every round would scatter
      // checkpoints across one UUID dir per round). Set only when no
      // checkpoint dir exists yet; an application-configured dir is
      // respected rather than repointed.
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
      df.checkpoint(eager)
    // eager = false defers materialization to the caller's next action
    // over the FULL frame (the CC loops' convergence count) — one
    // driver job does both. Callers passing eager = false must consume
    // every partition before unpersisting the frame this one derives
    // from (see the loop comments).
    case None => df.localCheckpoint(eager)
  }

  /** Session conf scope for the CC loops' rounds (r19, the VERDICT's
    * "cap the CC loop's per-round partitioning"): inside the loop
    * `spark.sql.shuffle.partitions` is set from the MATERIALIZED
    * initial frame's partition count — which the session's AQE already
    * coalesced by actual bytes, so the value is data-derived, not a
    * local constant: a corpus-scale edge frame materializes as many
    * partitions and the loop keeps that parallelism, while a KB-scale
    * frame yields 1-2 and the ~5-20 tiny rounds stop fanning every
    * exchange into `defaultParallelism` near-empty tasks. Measured
    * (quiet box, 32 cores, min-of-2): cold-plan wall of
    * multimodal_phash_clusters 13.6 s → 7.8 s (63 → 18 driver jobs),
    * warm within noise (4.46 → 3.99 s). AQE stays ON inside the loop —
    * an A/B with it off regressed every clusters row ~0.8 s warm (the
    * runtime broadcast-join conversion on the tiny round frames is
    * worth more than the per-stage materialization jobs it costs).
    * Results are partitioning-independent (equi-joins + min
    * aggregates); the conf is restored in finally. */
  private def withIterLoopConf[T](
      spark: org.apache.spark.sql.SparkSession,
      materialized: DataFrame)(body: => T): T = {
    val conf = spark.conf
    val prevParts = conf.get("spark.sql.shuffle.partitions")
    val p = math.max(1, materialized.rdd.getNumPartitions)
    try {
      conf.set("spark.sql.shuffle.partitions",
        math.min(p, spark.sparkContext.defaultParallelism).toString)
      body
    } finally {
      conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  /** MinHash dedup by connected components: drops every doc whose
    * component has a smaller member — the transitive-closure-correct
    * alternative to [[minhash]]'s greedy suppression (keeps exactly one
    * doc per near-dup CLUSTER, even through chains A~B~C where A≁C). */
  def minhashConnected(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minJaccard: Double = 0.5): DataFrame =
    keepPerComponent(df, connectedComponents(
      minhashPairs(df, textCol, idCol, minJaccard = minJaccard)), idCol, None)

  /** [[minhashConnected]] keeping the BEST-scoring member of each
    * cluster instead of the smallest id — what a production dedup
    * actually ships (among near-copies, keep the highest-quality /
    * longest / most-recent one; `scoreCol`, ties to the smaller id).
    * Cluster membership is identical to [[minhashConnected]]; only the
    * keep rule changes: one candidate-bounded window over the cluster
    * members picks the winner (WindowGroupLimit shape — the member
    * set is pairs-bounded, never corpus-bounded). */
  def minhashConnectedBest(
      df: DataFrame,
      scoreCol: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      minJaccard: Double = 0.5): DataFrame =
    keepPerComponent(df, connectedComponents(
        minhashPairs(df, textCol, idCol, minJaccard = minJaccard)),
      idCol, Some(scoreCol))

  // --------------------------------------------------------- minhash star

  /** One-pass per-doc minhash BASE (r15, the shared-shingle fix under
    * the r14 verdict's top item) behind every star-first composition:
    * knobs ([[minhashKnobs]] over the corpus count), then the
    * [[minhashSigs]] frame from a SINGLE tokenization, lazily
    * localCheckpoint'ed so banding, the star-collapse verify and the
    * survivor-pair verify all read the same materialized blocks — the
    * previous shape re-tokenized the corpus once per stage (3× on a
    * high-duplication corpus where the collapse candidates approach the
    * corpus). Returns the `(idCol, sh)` verification frame and the
    * band keys (same explicit exchange on `bk` as [[minhashBandKeys]],
    * the self-join ReusedExchange contract). Signature arithmetic is
    * unchanged (min over a multiset == min over its set), so band keys
    * — and every oracle row — are bit-identical. Blocks are
    * corpus-token-scale: MEMORY_AND_DISK spill bounds them at scale,
    * and the alternative is paying the tokenization per consumer. */
  private def minhashBase(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int, minJaccard: Double,
      seed: Long): (DataFrame, DataFrame) = {
    val docs = df.select(col(idCol), col(textCol))
    val (nh, nb) = minhashKnobs(docs.count(), minJaccard, numHashes, bands)
    val base = minhashSigs(docs, textCol, idCol, nh, seed)
      .localCheckpoint(false)
    (base.select(col(idCol), col("sh")),
      minhashBands(base, Seq(idCol), nh, nb).repartition(col("bk")))
  }

  /** STAR-reduced MinHash linking — the Jaccard twin of
    * [[simhashStarFromFingerprints]], closing the r12 verdict's one
    * remaining quadratic mechanism: on a high-duplication corpus every
    * replica group of size m lands in the same band buckets and the
    * [[minhashPairs]] self-join emits all C(m,2) candidates —
    * quadratic in the duplication rate (the r11 sf1 rehearsal measured
    * the pairs row 12× at 10× data on a ~90%-duplicated corpus; raw
    * CommonCrawl runs ~80% duplicates). For keep-min dedup those pairs
    * are redundant: linking each banded row to its bucket's prefix
    * MINIMUM and its bucket PREDECESSOR marks the same non-keeper set
    * on duplicate mass — near-identical docs share (nearly) all
    * buckets, so a replica group sits contiguously by id in each, and
    * ~2(m−1) star/chain links replace C(m,2). ONE sorted window pass
    * over the banded rows (a single hash shuffle on the band key)
    * generates ≤ 2 links per banded row; exact n-gram Jaccard then
    * verifies ONLY the linked candidates ([[ngramJaccard]] — unlike
    * simhash, the sketch carries no in-row distance, so verification
    * is the text join, still linear in banded rows).
    *
    * Contract vs [[minhashPairs]]: returns (id_a < id_b, jaccard)
    * LINKS, a SUBSET of the pair relation sufficient for keep-min
    * dedup — never a false link (every link passes exact Jaccard ≥
    * `minJaccard`), but a doc whose bucket min AND bucket predecessor
    * are both far-Jaccard coincidences in EVERY one of its buckets can
    * escape (DedupSpec measures coverage on the replicated fixture;
    * [[minhashPairs]] stays the exhaustive ground truth for
    * low-duplication corpora). For cluster structure, predecessor
    * chains span each bucket — feed the links to
    * [[connectedComponents]]. */
  def minhashStar(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      seed: Long = 42L): DataFrame = {
    val (sh, banded) = minhashBase(df, textCol, idCol, numHashes, bands,
      minJaccard, seed)
    jaccardOverShingleFrame(sh, minhashStarFromBandKeys(banded, idCol),
      idCol, Some(minJaccard))
  }

  /** The UNVERIFIED star candidate links `(id_a < id_b)` from a
    * [[minhashBandKeys]] frame: per band bucket, each row links to the
    * bucket's prefix minimum and its immediate predecessor — both from
    * ONE sorted window pass, no self-join anywhere. The predecessor
    * link keeps replica CHAINS connected when an unrelated smaller id
    * coincidentally lands in the bucket and becomes its min (the
    * [[simhashStarFromFingerprints]] linking rationale verbatim).
    * Public for the persisted-band-keys pipeline: a nightly job that
    * keeps its history banded ([[graft.sources.Sources.writeBucketed]])
    * can star-link a day's corpus without re-deriving keys. Callers
    * verify the links with [[ngramJaccard]] — every emitted link is a
    * candidate, not a confirmed near-dup. */
  def minhashStarFromBandKeys(
      banded: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    starWindow(banded, idCol, col(idCol), Seq(col(idCol).as("id_b")),
        "id_a", col("id_a"), col("id_b"))
      .select("id_a", "id_b")
      .distinct()

  /** Keep-min STAR COLLAPSE — [[minhashStar]]'s verified links applied
    * as a dedup: drops every doc with a link to a SMALLER id at
    * Jaccard ≥ `minJaccard`, returns the surviving `df` rows
    * unchanged. Removes the replica mass in LINEAR time at any
    * duplication rate; the survivors are replica-free, which is what
    * makes a subsequent exhaustive pair pass affordable
    * ([[minhashPairsStarFirst]]). */
  def minhashStarCollapse(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      seed: Long = 42L): DataFrame =
    dropLinked(df,
      minhashStar(df, textCol, idCol, numHashes, bands, minJaccard, seed),
      idCol)

  /** The PRODUCTION minhash pair relation (the [[simhashPairsStarFirst]]
    * recipe on the Jaccard side): star-collapse the near-identical
    * replica mass at `collapseJaccard` first (linear), then run the
    * banded pair self-join over the replica-free SURVIVORS only at
    * `minJaccard` — the C(m,2) expansion can no longer occur on the
    * full corpus. Band keys are derived ONCE and feed the star pass,
    * the survivor anti-join and both pair sides.
    *
    * Semantics: the [[minhashPairs]] relation restricted to collapse
    * survivors — a doc dropped by the collapse was already attributed
    * to a smaller near-identical duplicate (exact Jaccard ≥
    * `collapseJaccard`, never a sketch guess), so for keep-min dedup
    * its pairs are redundant by construction. The default collapse
    * threshold (0.8) is deliberately TIGHTER than typical pair
    * enumeration thresholds: only near-identical replicas collapse
    * silently; looser similarity still surfaces as explicit pair rows.
    * DedupSpec pins the restriction equality against the raw
    * (un-benched, ground-truth) pair path on a replicated fixture. */
  def minhashPairsStarFirst(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      collapseJaccard: Double = 0.8,
      seed: Long = 42L): DataFrame = {
    // ONE tokenization for the whole composition (r15): the base frame
    // feeds banding, the collapse verify and the final verify
    val (sh, banded) = minhashBase(df, textCol, idCol, numHashes, bands,
      minJaccard, seed)
    // cut on the survivor candidates: bounds the plan tree at the
    // collapse boundary (PlanAuditSpec audits the pre-cut frame below)
    jaccardOverShingleFrame(sh,
      survivorCandidatesFromBase(sh, banded, idCol, collapseJaccard)
        .localCheckpoint(false),
      idCol, Some(minJaccard))
  }

  /** The survivor candidate pairs [[minhashPairsStarFirst]] verifies —
    * collapse drops (Jaccard-verified star links at `collapseJaccard`)
    * anti-joined below the banded pair self-join. Package-visible so
    * PlanAuditSpec can assert the collapse-below-join shape on the
    * exact production construction (the public operator checkpoints
    * this frame, hiding the shape behind an RDD leaf). */
  private[graft] def minhashSurvivorCandidates(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int,
      bands: Int,
      minJaccard: Double,
      collapseJaccard: Double,
      seed: Long): DataFrame = {
    val (sh, banded) = minhashBase(docs, textCol, idCol, numHashes, bands,
      minJaccard, seed)
    survivorCandidatesFromBase(sh, banded, idCol, collapseJaccard)
  }

  /** [[minhashSurvivorCandidates]] over an already-built
    * [[minhashBase]] — the shape [[minhashPairsStarFirst]] composes so
    * its final verify shares the SAME base blocks. */
  private def survivorCandidatesFromBase(sh: DataFrame, banded: DataFrame,
      idCol: String, collapseJaccard: Double): DataFrame = {
    // LINEAGE CUT at the collapse boundary: without it the drop-id
    // frame embeds the banded subtree into every survivor-pass
    // reference — a multiply-nested plan Catalyst chews minutes of
    // driver CPU on (measured at small SF in r13). The lazy
    // localCheckpoint compiles the drop plan ONCE to an RDD leaf —
    // compact (one long column, persisted on executors, the
    // connectedComponents label precedent) — and the survivor pass
    // plans against the leaf. Execution is unchanged: banded still
    // ReusedExchanges across the pair self-join.
    val drops = linkedIds(jaccardOverShingleFrame(sh,
        minhashStarFromBandKeys(banded, idCol), idCol, Some(collapseJaccard)),
      idCol).localCheckpoint(false)
    survivorPairs(banded, drops, idCol)
  }

  /** The star-first cluster components behind
    * [[minhashConnectedStarFirst]], [[minhashConnectedBestStarFirst]]
    * and [[minhashClusterWeights]]: [[minhashBase]], then the EDGE set
    * — verified star links (the collapse-grade edges, linear) UNION the
    * banded pairs among collapse survivors, both at `minJaccard`, so
    * every edge is a true pair and components REFINE the raw pair
    * relation's components (an edge missed by both mechanisms can
    * split a component — extra keepers, never wrong merges; DedupSpec
    * bounds the divergence on the replicated fixture) — then
    * [[connectedComponents]]. */
  private def minhashStarFirstComponents(df: DataFrame, textCol: String,
      idCol: String, numHashes: Int, bands: Int, minJaccard: Double,
      seed: Long): DataFrame = {
    val (sh, banded) = minhashBase(df, textCol, idCol, numHashes, bands,
      minJaccard, seed)
    // same lineage cut as [[minhashPairsStarFirst]] — links feed both
    // the drop set and the edge union, so without the cut the banded
    // subtree nests ~27× and plan analysis stalls. `sh` is the shared
    // [[minhashBase]] shingle frame (r15): both verifies read the same
    // materialized blocks instead of re-tokenizing the corpus.
    val links = jaccardOverShingleFrame(sh,
        minhashStarFromBandKeys(banded, idCol), idCol, Some(minJaccard))
      .select("id_a", "id_b")
      .localCheckpoint(false)
    val survPairs = jaccardOverShingleFrame(sh,
        survivorPairs(banded, linkedIds(links, idCol), idCol)
          .localCheckpoint(false),
        idCol, Some(minJaccard))
      .select("id_a", "id_b")
    connectedComponents(links.unionByName(survPairs).distinct())
  }

  /** [[minhashConnected]] in the production star-first shape: cluster
    * edges = verified star links ∪ survivor pairs (see
    * [[minhashStarFirstComponents]]), components, keep the smallest id
    * per cluster. The raw-pair-driven [[minhashConnected]] stays the
    * exhaustive ground truth (un-benched, DedupSpec). */
  def minhashConnectedStarFirst(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      seed: Long = 42L): DataFrame =
    keepPerComponent(df, minhashStarFirstComponents(df, textCol, idCol,
      numHashes, bands, minJaccard, seed), idCol, None)

  /** [[minhashConnectedBest]] in the star-first shape: same edge set
    * as [[minhashConnectedStarFirst]], production keep rule — the
    * best-scoring member of each cluster survives (`scoreCol` desc,
    * ties to the smaller id). Collapsed docs are still cluster
    * MEMBERS (their star links are edges), so a high-quality replica
    * can win its cluster even though a keep-min collapse would have
    * dropped it — the keep policy stays exactly [[minhashConnectedBest]]'s. */
  def minhashConnectedBestStarFirst(
      df: DataFrame,
      scoreCol: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      seed: Long = 42L): DataFrame =
    keepPerComponent(df, minhashStarFirstComponents(df, textCol, idCol,
      numHashes, bands, minJaccard, seed), idCol, Some(scoreCol))

  /** SOFT dedup — per-doc training weights from the near-dup cluster
    * structure instead of dropping rows (round 18): every doc gets
    * `weight = 1 / cluster_size`, so a clique of n near-copies
    * contributes ONE document's worth of gradient mass in aggregate
    * while all n survive (the duplicate-downweighting alternative to
    * hard dedup that several LLM-corpus pipelines prefer — drops lose
    * the best copy's formatting variants; weights keep them and
    * neutralize the frequency skew). Cluster membership is EXACTLY
    * [[minhashConnectedStarFirst]]'s (same star-first edge set, same
    * components), so exactness inherits the clusters row's recall
    * argument; docs in no cluster weigh 1 with themselves as cluster.
    *
    * Output: `(idCol, cluster, cluster_size, weight)` — cluster = the
    * component's min id, weight 6dp-floor-rounded (the family's
    * half-safe recipe: `floor((1/size)·10⁶ + 0.5)/10⁶`, identical IEEE
    * arithmetic in both engines on the exact integer size).
    *
    * Scale: the edge set and components are the clusters row's cost;
    * on top of that one partial-aggregated groupBy over component ids
    * (≤ one row per doc) and one equi-join back to the corpus — no new
    * corpus-sized shuffle beyond the join on `idCol`. */
  def minhashClusterWeights(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      seed: Long = 42L): DataFrame = {
    val comps = minhashStarFirstComponents(df, textCol, idCol, numHashes,
      bands, minJaccard, seed)
    val sizes = comps.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    val m = comps.join(sizes, "component")
      .select(col("id").as(idCol), col("component"), col("cluster_size"))
    val size = coalesce(col("cluster_size"), lit(1L))
    df.select(col(idCol)).join(m, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster"),
        size.as("cluster_size"),
        (floor(lit(1.0) / size * lit(1000000.0) + lit(0.5)) / 1000000.0)
          .as("weight"))
  }

  /** [[minhashIncremental]] in the star-first shape: the WITHIN-BATCH
    * self-join — the C(m,2) mechanism when a batch carries replica
    * groups — is replaced by verified star links over the batch band
    * keys; the batch×history candidate join then consumes only the
    * within-SURVIVORS (a within-loser is dropped regardless, so its
    * cross pairs are redundant). History-side mechanics are unchanged:
    * pass persisted [[minhashBandKeys]] as `histBands` for the
    * zero-history-Exchange nightly shape, and note a production
    * history is the already-DEDUPED keeper table — which is what keeps
    * the cross join itself linear. Semantics: `newDocs` minus (star
    * within-losers ∪ cross losers); a within-loser the star linking
    * misses (the documented escape) survives unless it is also
    * history-near — DedupSpec bounds the divergence. */
  def minhashIncrementalStarFirst(
      newDocs: DataFrame,
      histDocs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      seed: Long = 42L,
      histBands: Option[DataFrame] = None): DataFrame = {
    val (bands0, hb) = minhashIncrementalBands(newDocs, histDocs, textCol,
      idCol, numHashes, bands, minJaccard, seed, histBands)
    val batchDocs = newDocs.select(col(idCol), col(textCol))
    // materialized ONCE (r19, guide §7.2): the batch band keys —
    // tokenize + minhash + banding — feed TWO consumers (the star
    // linking and the survivor anti-join into the cross join) and the
    // sf0.1 profile showed the derivation re-run 3× (three identical
    // 175 KB exchanges each fed by its own batch tokenize); the lazy
    // checkpoint replays compact (id, bk) rows instead. In-query, per
    // invocation; rows unchanged.
    val batchBands = bands0.localCheckpoint(false)
    // lineage cut (see [[minhashPairsStarFirst]]): the within-loser ids
    // feed the survivor anti-join AND the final drop union
    val withinLosers = linkedIds(ngramJaccard(batchDocs,
          minhashStarFromBandKeys(batchBands, idCol),
          textCol = textCol, idCol = idCol)
        .filter(col("jaccard") >= minJaccard), idCol)
      .localCheckpoint(false)
    val survBands = batchBands.join(withinLosers, Seq(idCol), "left_anti")
    val cross = crossCandidates(survBands, hb, idCol)
      .distinct()
      // cut before the verify's triple reference (see the pairs path)
      .localCheckpoint(false)
    val allDocs = batchDocs
      .unionByName(histDocs.select(col(idCol), col(textCol)))
    // cross pairs are (batch id_a, history id_b): the batch side loses
    // whenever the pair verifies, regardless of id order
    val crossLosers = ngramJaccard(allDocs, cross,
        textCol = textCol, idCol = idCol)
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a").as(idCol))
    newDocs.join(withinLosers.union(crossLosers).distinct(),
      Seq(idCol), "left_anti")
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash per document, computed without UDFs: explode
    * tokens, xxhash64 each, and sum each bit's ±1 contribution in one
    * groupBy — a single shuffle keyed by doc id, partial-aggregated
    * map-side. Near-dups then pair by Hamming distance on band-equal
    * buckets (`bands` prefix blocks of the fingerprint).
    */
  def simhash(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", outputCol: String = "simhash"): DataFrame =
    simhashFingerprints(df, textCol, idCol, outputCol).drop("len_bucket")

  /** [[simhash]] plus `len_bucket = floor(log2(token count))` — the
    * banding salt [[simhashPairs]] composes into its band keys. The
    * count rides the fingerprint's existing per-doc aggregation, so the
    * salt is free (same single shuffle, one more agg slot). */
  def simhashFingerprints(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", outputCol: String = "simhash"): DataFrame = {
    // ONE narrow codegen'd pass: tokenize ([[graft.functions.WordNgrams]]
    // n=1 — the library's shared tokenization) and fold the Charikar
    // bit counters per row ([[graft.functions.SimhashSignature]]).
    // This replaces the previous explode + 65-aggregate groupBy
    // formulation, whose per-token row blow-up and corpus-sized shuffle
    // made this the most expensive dedup stage (measured at sf0.1:
    // simhash_verified 5.3s -> 3.6s, the remainder being the
    // candidate-bounded Jaccard verification); fingerprints are
    // unchanged — the
    // expression hashes the identical token stream with the identical
    // seed, asserted against the SQL formulation in DedupSpec.
    // Token-less docs are dropped, matching the old shape where they
    // produced no aggregation row.
    val toks = graft.functions.WordNgrams(col(textCol), 1,
      strictFallback = false)
    df.select(col(idCol), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol),
        graft.functions.SimhashSignature(col("toks")).as(outputCol),
        floor(log(2.0, size(col("toks")))).cast("int").as("len_bucket"))
  }

  /** SimHash near-dup pairs: candidates share at least one of `bands`
    * equal blocks of the 64-bit fingerprint (pigeonhole: Hamming ≤
    * `maxHamming` < `bands` guarantees one equal block); verified by
    * exact Hamming distance ≤ `maxHamming`.
    *
    * Banding fan-out bound — why the band key is SALTED by default:
    * `bands` blocks of 64/`bands` bits give 2^(64/bands) buckets per
    * band; at the default 4×16 that is only 65 536 buckets, and
    * within-bucket candidate pairing is quadratic — at 10^9+ docs the
    * average bucket holds 10^4+ docs and the "candidates" explode
    * quadratically on COINCIDENTAL 16-bit collisions. So the default
    * band key is the composite (block value, length bucket ±1): docs
    * only pair within the same or adjacent log2 token-count bucket,
    * which spreads each 16-bit bucket across the corpus's length
    * distribution while keeping the join a pure equi-join. Recall: the
    * pigeonhole guarantee is kept for every pair within 2× token count
    * of each other (log2 buckets differ by ≤ 1 ⇒ the ±1 replication
    * overlaps); pairs beyond 4× length difference are never candidates
    * — at Hamming ≤ 3 such pairs are vanishing (simhash weights every
    * token, so a 4× length delta flips far more than 3 bits in
    * practice). `salted = false` restores raw-block banding for
    * exhaustive small-corpus sweeps.
    *
    * Cost note: the fingerprint aggregation feeds BOTH sides of the
    * self-join. Under AQE the two identical aggregation subtrees are
    * deduplicated at runtime — the executed plan carries a
    * ReusedExchange (verify with SPARK_EXPLAIN_RUN=1 graft.Explain), so
    * the corpus is scanned/aggregated once. With AQE disabled that
    * reuse is not guaranteed; compute [[simhashFingerprints]] once,
    * persist it under YOUR lifecycle, and call
    * [[simhashPairsFromFingerprints]] — the library deliberately never
    * caches internally (no unpersist leaks). */
  def simhashPairs(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      bands: Int = 4, salted: Boolean = true): DataFrame =
    simhashPairsFromFingerprints(
      simhashFingerprints(df, textCol, idCol), idCol, maxHamming, bands,
      saltCol = if (salted) Some("len_bucket") else None)

  /** [[simhashPairs]] over a precomputed `(idCol, simhash[, salt])`
    * frame (see cost note there — persist `fps` yourself if recompute
    * matters). `saltCol` names an integer bucket column to compose into
    * the band key (the ±1-replicated composite described on
    * [[simhashPairs]]); None bands on the raw blocks alone. */
  def simhashPairsFromFingerprints(fps: DataFrame,
      idCol: String = "doc_id", maxHamming: Int = 3,
      bands: Int = 4, saltCol: Option[String] = None): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole recall guarantee needs maxHamming < bands " +
        s"(got $maxHamming >= $bands)")
    simhashCandidates(fps, idCol, bands, saltCol)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash candidate generation followed by EXACT n-gram Jaccard
    * verification — the production near-dup pattern ([[minhashPairs]]'s
    * shape with simhash as the sketch): fingerprint+band once, Hamming-
    * filter the banded candidates, then verify ONLY the survivors with
    * [[ngramJaccard]] and keep pairs at `minJaccard`. Where
    * [[simhashPairs]] reports the sketch distance itself (Hamming),
    * this returns ground-truth `(id_a, id_b, jaccard)` — precision is
    * exact by construction; recall is the sketch's (a true near-dup
    * missed by banding+Hamming never reaches verification, so size
    * `maxHamming`/`bands` for the corpus; the pigeonhole bound
    * `maxHamming < bands` is enforced downstream).
    *
    * Scale: identical plan skeleton to [[simhashPairs]] (one
    * fingerprint shuffle reused across both self-join sides) plus one
    * candidate-only verification join — verification cost scales with
    * the candidate count, never the corpus. */
  def simhashVerified(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minJaccard: Double = 0.5,
      maxHamming: Int = 6,
      bands: Int = 8,
      salted: Boolean = true): DataFrame = {
    val docs = df.select(col(idCol), col(textCol))
    val candidates = simhashPairs(docs, textCol, idCol, maxHamming,
        bands, salted)
      .select("id_a", "id_b")
    ngramJaccard(docs, candidates, textCol = textCol, idCol = idCol)
      .filter(col("jaccard") >= minJaccard)
  }

  /** STAR-reduced simhash linking for high-duplication corpora — the
    * round-11 sf1 rehearsal finding made operator: on a corpus where
    * documents have many near-identical copies (the REAL crawl shape —
    * raw CommonCrawl runs ~80% duplicates), every replica group of
    * size m lands in the same band buckets and the
    * [[simhashPairs]]/[[simhashVerified]] self-join emits all C(m,2)
    * pairs — quadratic in the duplication rate (measured: 10×
    * replicated sf0.1 sent simhash_verified from 3.3 s to 438 s,
    * because 5 000 replica groups of 10 produce 225 000 true pairs to
    * verify). For KEEP-MIN dedup those pairs are redundant: linking
    * each doc to its bucket's prefix MINIMUM and its bucket
    * PREDECESSOR marks the same non-keeper set on duplicate mass —
    * near-identical fingerprints share ALL buckets, so a replica
    * group sits contiguously (by id) in each, and ~2(m−1) star/chain
    * edges replace C(m,2). This drops the self-join entirely: ONE
    * sorted window over the banded rows (a single hash shuffle on the
    * bucket key), exact-Hamming filter against the linked
    * fingerprints, distinct. Work is LINEAR in banded rows at any
    * duplication rate.
    *
    * Contract vs [[simhashPairs]]: returns (id_a < id_b, hamming)
    * LINKS, a SUBSET of the pair relation sufficient for keep-min
    * dedup — never a false link (every emitted link passes the exact
    * Hamming test), but a doc whose bucket min AND bucket predecessor
    * are both coincidental far-Hamming collisions in EVERY one of its
    * buckets can escape (the pigeonhole bound weakens from "some
    * shared block" to "some shared block whose min or predecessor is
    * near"). Measured on the 5×-replicated spec fixture: min-only
    * linking missed 4/104 of the pair-based keep-min drop set, the
    * predecessor link recovers 3, and exactly 1 unlucky replica
    * (every group member beyond maxHamming, its one near link
    * shadowed in every bucket) escapes — DedupSpec pins zero false
    * links and ≥ 96% coverage; [[simhashPairs]] stays the exhaustive path for
    * low-duplication corpora, and this path is the bounded-cost bulk
    * collapse whose survivors a pair-based pass re-sweeps cheaply
    * (the corpus is replica-free after the collapse). For cluster
    * structure, feed the links to [[connectedComponents]] —
    * predecessor chains span each bucket. */
  def simhashStar(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      bands: Int = 4, salted: Boolean = true): DataFrame =
    simhashStarFromFingerprints(
      simhashFingerprints(df, textCol, idCol), idCol, maxHamming, bands,
      if (salted) Some("len_bucket") else None)

  /** [[simhashStar]] over a precomputed `(idCol, simhash[, salt])`
    * frame — the fingerprint-reuse seam the star-first compositions
    * below build on (persist `fps` yourself when recompute matters,
    * per the [[simhashPairs]] cost note). */
  def simhashStarFromFingerprints(fps: DataFrame,
      idCol: String = "doc_id", maxHamming: Int = 3,
      bands: Int = 4, saltCol: Option[String] = None): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole recall guarantee needs maxHamming < bands " +
        s"(got $maxHamming >= $bands)")
    starLinksFromBanded(bandedRows(fps, idCol, bands, saltCol), idCol,
      maxHamming)
  }

  /** Two links per banded row, both from ONE sorted window pass: the
    * bucket's prefix MINIMUM (== the bucket min for every non-first
    * row) and the bucket PREDECESSOR. The predecessor link is what
    * keeps replica CHAINS connected when an unrelated smaller id
    * coincidentally lands in the bucket and becomes its min at large
    * Hamming — a member is missed only when BOTH its bucket min and
    * its immediate predecessor are far, in EVERY one of its buckets
    * (measured on the replicated spec fixture: the min-only variant
    * missed 4 of 104 replicas, min+predecessor drops the full
    * pair-based keep-min set). Shared by the plain-banded and
    * multiprobe star generators. */
  private def starLinksFromBanded(banded: DataFrame, idCol: String,
      maxHamming: Int): DataFrame =
    starWindow(banded, idCol, struct(col(idCol), col("simhash")),
        Seq(col(idCol), col("simhash")), "lnk", col(s"lnk.$idCol"),
        col(idCol))
      .select(col(s"lnk.$idCol").as("id_a"), col(idCol).as("id_b"),
        bit_count(col("simhash").bitwiseXOR(col("lnk.simhash")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()

  /** Keep-min STAR COLLAPSE — [[simhashStar]]'s links applied as a
    * dedup: drops every doc with a qualifying link to a SMALLER id
    * (links are (id_a < id_b), so the drop set is the distinct id_b
    * side), returns the surviving `df` rows unchanged. On a
    * high-duplication corpus this removes the replica mass in LINEAR
    * time; the survivors are replica-free, which is exactly what makes
    * a subsequent exhaustive pair pass affordable (see
    * [[simhashPairsStarFirst]] / [[simhashVerifiedStarFirst]]). */
  def simhashStarCollapse(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      bands: Int = 4, salted: Boolean = true): DataFrame =
    dropLinked(df, simhashStar(df, textCol, idCol, maxHamming, bands, salted),
      idCol)

  /** The PRODUCTION simhash pair relation (round-12, retiring the r11
    * sf1 finding for good): star-collapse first, banded pairs over the
    * replica-free SURVIVORS. The plain [[simhashPairs]] self-join
    * emits C(m,2) pairs per replica group — quadratic in the
    * duplication rate, measured 0.77 s → 25 s at 10× data on a ~90%
    * near-duplicated corpus — so at crawl duplication it must never be
    * the shape a pipeline runs on the full corpus. Here the quadratic
    * mechanism is structurally removed: the collapse is one sorted
    * window pass (linear at any dup rate), and the pair self-join only
    * ever sees the collapsed corpus, where replica groups have at most
    * one member left. [[simhashPairs]] on the raw corpus remains the
    * exhaustive ground truth for low-duplication corpora and for
    * validation (DedupSpec pins this path = that path restricted to
    * survivors).
    *
    * Semantics: the pair relation RESTRICTED to collapse survivors —
    * a doc dropped by the collapse was already attributed to a
    * smaller near-duplicate (at `collapseHamming`), so for keep-min
    * dedup its pairs are redundant by construction. Fingerprints are
    * computed ONCE and feed the collapse, the anti-join and both pair
    * sides ([[simhashFingerprints]] is a narrow codegen projection;
    * persist it yourself if the re-scan matters, per the
    * [[simhashPairs]] cost note). */
  def simhashPairsStarFirst(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      bands: Int = 4, salted: Boolean = true,
      collapseHamming: Int = 3, collapseBands: Int = 4): DataFrame = {
    // ONE tokenization for all three consumers (r16, the minhash
    // treatment): the star window, the anti-join left side and the
    // survivor self-join each re-derived the fingerprint pipeline —
    // ~3 corpus scans; the lazy checkpoint replays compact
    // (id, simhash, len_bucket) blocks instead
    val fps = simhashFingerprints(df, textCol, idCol)
      .localCheckpoint(false)
    val salt = if (salted) Some("len_bucket") else None
    val drops = linkedIds(simhashStarFromFingerprints(fps, idCol,
      collapseHamming, collapseBands, salt), idCol)
    val surv = fps.join(drops, Seq(idCol), "left_anti")
    simhashPairsFromFingerprints(surv, idCol, maxHamming, bands, salt)
  }

  /** [[simhashVerified]] in the production star-first shape: collapse
    * the replica mass (linear), generate banded candidates over the
    * survivors only, verify with exact n-gram Jaccard. Precision exact
    * by construction, recall = the sketch's over the survivor corpus;
    * verification cost scales with the (replica-free) candidate count.
    * The raw-corpus [[simhashVerified]] stays the brute-force
    * validation baseline (DedupSpec).
    *
    * Round 13: MULTIPROBE banding end to end, and every star link is
    * VERIFIED with exact n-gram Jaccard before any drop (the
    * [[minhashPairsStarFirst]] recipe). Two prior shapes failed the
    * 10× sf1 rehearsal: the r12 tighter collapse (Hamming ≤ 3,
    * Jaccard-unverified) left every replica at Hamming 4-6 alive and
    * the 8×8-bit survivor self-join emitted 650 k candidates (101 s);
    * collapsing at ≤ 6 with the same 8×8-bit bands was worse still
    * (614 s) — 256-key bands have no selectivity, so star links land
    * on coincidental bucket-mates and nothing collapses. The
    * [[multiprobeBandedRows]] layout fixes both at once: 16-bit
    * buckets stay selective while the 1-bit probes preserve the
    * pigeonhole recall guarantee to Hamming ≤ 7. Drop decisions are
    * exact-text facts (never sketch guesses).
    *
    * Output contract (r13): the verified near-dup relation SUFFICIENT
    * for keep-min dedup — the Jaccard-verified star links (the
    * collapse edges, which on a high-duplication corpus carry the
    * replica mass of the relation in linear volume) UNION the
    * exhaustive verified pairs among the collapse survivors. Every
    * row is a true pair at `jaccard ≥ minJaccard` with `id_a < id_b`;
    * the branches are disjoint (a verified link's id_b never
    * survives). The C(m,2) expansion within replica groups can no
    * longer occur — where the raw [[simhashVerified]] enumerates all
    * of a clique's pairs, this returns its ~(m−1) star edges plus the
    * survivor relation, preserving the keep-min drop set
    * (DedupSpec pins drop-set equality on the replicated fixture). */
  def simhashVerifiedStarFirst(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minJaccard: Double = 0.5,
      maxHamming: Int = 6,
      salted: Boolean = true): DataFrame = {
    val docs = df.select(col(idCol), col(textCol))
    val (verifiedLinks, candidates, sh) = simhashStarFirstFrames(docs,
      textCol, idCol, minJaccard, maxHamming, salted)
    val survPairs = jaccardOverShingleFrame(sh,
      candidates.localCheckpoint(false), idCol, Some(minJaccard))
    // branches are disjoint (a verified link's id_b never survives),
    // but the same pair can arrive via several links/buckets — distinct
    verifiedLinks.unionByName(survPairs).distinct()
  }

  /** [[simhashVerifiedStarFirst]]'s two frames: the Jaccard-verified
    * multiprobe star links (output rows AND collapse edges) and the
    * un-cut survivor candidate pairs — the Jaccard-verified collapse
    * anti-joined below the multiprobe candidate self-join.
    * Package-visible so PlanAuditSpec can assert the
    * collapse-below-join shape on the exact production construction
    * (the public operator checkpoints the candidate frame, hiding the
    * shape behind an RDD leaf).
    *
    * Lineage cuts at every id-pair boundary
    * ([[minhashPairsStarFirst]]'s discipline): the verify stages
    * reference their pair arguments repeatedly, so an un-cut
    * link/candidate pipeline — a multiprobe window resp. self-join —
    * re-plans and re-executes per reference (measured: 51 s vs 11 s at
    * the 10× rehearsal). Each checkpoint holds only compact id pairs.
    *
    * r16 (the minhash treatment, verdict item 2): ONE tokenization
    * pass ([[simhashBase]]) feeds the fingerprint (banding + star +
    * survivor self-join) AND the sorted-distinct shingle sets both
    * verify stages read — the previous shape re-tokenized the corpus
    * per ngramJaccard call (links + survivors ≈ 2 extra corpus passes
    * on a high-duplication fixture where candidates approach the
    * corpus). Verification itself gains [[jaccardOverShingleFrame]]'s exact
    * size prescreen (a pair with `min < τ·max` set sizes cannot reach
    * τ and skips the merge scan). Arithmetic is unchanged — same
    * WordNgrams streams, same SortedIntersectCount counts — so every
    * oracle row is bit-identical. */
  private[graft] def simhashStarFirstFrames(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      minJaccard: Double,
      maxHamming: Int,
      salted: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val base = simhashBase(docs, textCol, idCol)
    val fps = base.select(col(idCol), col("simhash"), col("len_bucket"))
    val sh = base.select(col(idCol), col("sh"))
    val salt = if (salted) Some("len_bucket") else None
    val links = simhashStarFromFingerprintsMultiprobe(fps, idCol,
        maxHamming, salt)
      .select("id_a", "id_b")
      .localCheckpoint(false)
    val verifiedLinks = jaccardOverShingleFrame(sh, links, idCol,
        Some(minJaccard))
      .localCheckpoint(false)
    val surv = fps.join(linkedIds(verifiedLinks, idCol), Seq(idCol),
      "left_anti")
    val candidates = simhashCandidatesMultiprobe(surv, idCol, salt)
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select("id_a", "id_b")
    (verifiedLinks, candidates, sh)
  }

  /** One-pass per-doc simhash BASE (r16, the [[minhashBase]] shape on
    * the simhash family): the 64-bit fingerprint + length bucket (the
    * banding inputs) and the sorted-distinct shingle set (the
    * verification payload) from a SINGLE corpus scan, lazily
    * localCheckpoint'ed so banding, the link verify and the survivor
    * verify all read the same materialized blocks. Token stream and
    * shingle stream are the same [[graft.functions.WordNgrams]] calls
    * [[simhashFingerprints]] and [[shingled]] make, so fingerprints,
    * band keys and Jaccard counts — and every oracle row — are
    * bit-identical. Token-less docs drop, matching both constituents.
    * Blocks are corpus-token-scale: MEMORY_AND_DISK spill bounds them,
    * and the alternative is paying the tokenization per stage. */
  private def simhashBase(
      docs: DataFrame,
      textCol: String,
      idCol: String): DataFrame = {
    val toks = graft.functions.WordNgrams(col(textCol), 1,
      strictFallback = false)
    val shingles = graft.functions.WordNgrams(col(textCol), 3,
      strictFallback = false)
    docs.select(col(idCol), toks.as("toks"),
        array_sort(array_distinct(shingles)).as("sh"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol),
        graft.functions.SimhashSignature(col("toks")).as("simhash"),
        floor(log(2.0, size(col("toks")))).cast("int").as("len_bucket"),
        col("sh"))
      .localCheckpoint(false)
  }

  /** The exploded (id, simhash, bk) band rows shared by the pair join
    * ([[simhashCandidates]]) and the linear star reduction
    * ([[simhashStar]]). With a salt: replicate each doc's band rows at
    * salt and salt+1 so same-or-adjacent buckets still collide (one
    * extra struct slot and 2× banded rows — the exchange ships compact
    * (id, band, key, salt) rows either way, nothing corpus-shaped
    * grows). */
  private def bandedRows(fps: DataFrame, idCol: String,
      bands: Int, saltCol: Option[String]): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    val bandBits = 64 / bands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1L
    val blocks = (0 until bands).map { b =>
      (b, shiftright(col("simhash"), b * bandBits).bitwiseAND(mask))
    }
    val bandStructs = saltCol match {
      case Some(sc) =>
        for { (b, key) <- blocks; off <- 0 to 1 } yield
          struct(lit(b).as("band"), key.as("key"),
            (col(sc) + lit(off)).as("salt"))
      case None =>
        blocks.map { case (b, key) =>
          struct(lit(b).as("band"), key.as("key"))
        }
    }
    fps.select(col(idCol), col("simhash"),
      explode(array(bandStructs: _*)).as("bk"))
  }

  /** Banded candidate pairs with exact Hamming distance, BEFORE the
    * `maxHamming` filter — package-visible so specs can measure bucket
    * fan-out (the quantity the salt exists to bound) directly. */
  private[graft] def simhashCandidates(fps: DataFrame, idCol: String,
      bands: Int, saltCol: Option[String]): DataFrame =
    bandedSelfJoin(bandedRows(fps, idCol, bands, saltCol), idCol,
      payload = Seq(xyHamming))

  /** Exact Hamming distance of a banded self-join's `x`/`y` sides. */
  private def xyHamming: Column =
    bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming")

  /** MULTIPROBE banded rows (round 13): 4×16-bit blocks, each doc
    * emitting its exact block key plus all 16 one-bit FLIPS of it
    * (`exact` tags the unflipped row). A pair within Hamming ≤ 7 has,
    * by pigeonhole (all four blocks ≥ 2 would sum to 8), a block
    * differing in ≤ 1 bit — so one side's exact key equals the other
    * side's exact-or-flipped key and the two share a bucket. This
    * keeps band keys 16-bit SELECTIVE at Hamming budgets where plain
    * banding cannot: 64/7 ≈ 9-bit blocks would be needed for a plain
    * pigeonhole at ≤ 6, and the 8×8-bit layout the r12 verified path
    * used has only 256 distinct keys per band — at ≥ 10⁴ docs every
    * bucket is hundreds of RANDOM rows, star links land on
    * coincidental neighbors, and the pair self-join degenerates toward
    * quadratic (measured 614 s at the 10× rehearsal). Multiprobe pays
    * 17× banded-row volume (linear, compact rows through one hash
    * shuffle) for bucket sizes that stay ~17n/2¹⁶ — the standard
    * block-key + probing trade for Hamming-k retrieval over 64-bit
    * simhashes (cf. Manku, Jain & Das Sarma, "Detecting Near-
    * Duplicates for Web Crawling", WWW 2007). */
  private def multiprobeBandedRows(fps: DataFrame, idCol: String,
      saltCol: Option[String]): DataFrame = {
    val bands = 4
    val bits = 16
    val mask = (1L << bits) - 1L
    val variants = for { b <- 0 until bands; v <- 0 to bits } yield {
      val block = shiftright(col("simhash"), b * bits).bitwiseAND(mask)
      val key =
        if (v == 0) block else block.bitwiseXOR(lit(1L << (v - 1)))
      (v, struct(lit(b).as("band"), key.as("key")))
    }
    val probeStructs = saltCol match {
      case Some(sc) =>
        for { (v, bk0) <- variants; off <- 0 to 1 } yield
          struct(
            struct(bk0.getField("band").as("band"),
              bk0.getField("key").as("key"),
              (col(sc) + lit(off)).as("salt")).as("bk"),
            lit(v == 0).as("exact"))
      case None =>
        variants.map { case (v, bk0) =>
          struct(bk0.as("bk"), lit(v == 0).as("exact"))
        }
    }
    fps.select(col(idCol), col("simhash"),
      explode(array(probeStructs: _*)).as("p"))
      .select(col(idCol), col("simhash"),
        col("p.bk").as("bk"), col("p.exact").as("exact"))
      // explicit exchange on the join/window key (the minhashBandKeys
      // discipline, load-bearing here): the 17× explode hides its row
      // growth from size estimates, so without the exchange the
      // planner broadcasts one self-join side and runs probe + distinct
      // single-threaded inside the scan stage (measured: one task, 236 s
      // CPU at the 10× rehearsal). The exchange restores bucket-keyed
      // parallelism, the self-join's two sides become one ReusedExchange,
      // and the star window partitions by the same key — no extra
      // shuffle anywhere.
      .repartition(col("bk"))
  }

  /** EXACT multiprobe block keys over a `(idCol, simhash)` frame — the
    * PERSISTABLE banding seam shared by the incremental twins (text
    * simhash here, the packed dHash in [[Multimodal]]): 4 rows per
    * doc, one per 16-bit block, the (band, key) pair flattened to a
    * single `xxhash64(band, key)` LONG so the frame buckets/persists
    * on a plain column. Recall rides the BATCH side's probes
    * ([[multiprobeProbeKeys]]): a pair within hamming ≤ 7 has a block
    * differing in ≤ 1 bit, so the batch's probe set contains the
    * history's exact key — history stores only 4n rows, 17× less than
    * probes-on-both-sides. A 64-bit hash collision between different
    * (band, key) pairs can only ADD a candidate (every candidate
    * verifies by full hamming), never lose one. Carries `simhash` so
    * candidate joins verify in-place — history text is NEVER
    * re-tokenized. */
  private[graft] def exactBlockKeys(fps: DataFrame,
      idCol: String): DataFrame = {
    val bands = 4
    val bits = 16
    val mask = (1L << bits) - 1L
    fps.select(col(idCol), col("simhash"),
      explode(array((0 until bands).map { b =>
        xxhash64(lit(b),
          shiftright(col("simhash"), b * bits).bitwiseAND(mask))
      }: _*)).as("bk"))
  }

  /** Batch-side probe rows for [[exactBlockKeys]] histories: exact
    * block keys plus all 16 one-bit flips per band (68 rows per doc),
    * flattened with the SAME `xxhash64(band, key)` recipe. The
    * explicit exchange on `bk` is the multiprobe discipline (the 68×
    * explode hides row growth from size estimates) and hash-aligns
    * the batch side with the bucketed history table. */
  private[graft] def multiprobeProbeKeys(fps: DataFrame,
      idCol: String): DataFrame =
    // the explicit exchange is the batch callers' (history equi-join)
    // discipline; the streaming keeper path skips it — groupByKey
    // shuffles on its own extracted key anyway, so a repartition here
    // would be a second back-to-back Exchange of the 68× explode
    multiprobeProbeKeysFlagged(fps, idCol).drop("exact")
      .repartition(col("bk"))

  /** [[multiprobeProbeKeys]] keeping the per-row `exact` flag (true on
    * the 4 unflipped block-key rows) and WITHOUT the trailing
    * exchange. The STREAMING near-dup keeper needs both: per bucket
    * only EXACT presences register in state (the [[exactBlockKeys]]
    * history layout — 4 state entries per doc, not 68) while every
    * probe row still checks the bucket's entries, so the pigeonhole
    * recall argument carries over unchanged; and its `groupByKey(_.bk)`
    * plans its own Exchange on the extracted key, which a repartition
    * by the column cannot satisfy — the minhashBandedShingles rule. */
  private[graft] def multiprobeProbeKeysFlagged(fps: DataFrame,
      idCol: String): DataFrame = {
    val bands = 4
    val bits = 16
    val mask = (1L << bits) - 1L
    val probeStructs = for { b <- 0 until bands; v <- 0 to bits } yield {
      val block = shiftright(col("simhash"), b * bits).bitwiseAND(mask)
      val key =
        if (v == 0) block else block.bitwiseXOR(lit(1L << (v - 1)))
      struct(xxhash64(lit(b), key).as("bk"), lit(v == 0).as("exact"))
    }
    fps.select(col(idCol), col("simhash"),
        explode(array(probeStructs: _*)).as("p"))
      .select(col(idCol), col("simhash"),
        col("p.bk").as("bk"), col("p.exact").as("exact"))
  }

  /** Persistable history band keys for [[simhashIncremental]] —
    * [[exactBlockKeys]] over the corpus fingerprints. Compute ONCE on
    * the standing corpus, persist bucketed by `bk`
    * ([[graft.sources.Sources.writeBucketed]]); the incremental
    * candidate join then plans with no history-side Exchange
    * (PlanAuditSpec pins the shape). Tokenless docs emit nothing
    * (they have no fingerprint to collide on). */
  def simhashBandKeysExact(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    exactBlockKeys(
      simhashFingerprints(df, textCol, idCol).select(col(idCol),
        col("simhash")),
      idCol)

  /** Incremental simhash near-dup dedup — the Hamming twin of
    * [[minhashIncremental]], closing the incremental family's last
    * modality gap (exact/minhash/embedding/phash all have one):
    * returns the (idCol, simhash) fingerprint rows of `newDocs` that
    * survive dropping (a) every batch doc within `maxHamming` of ANY
    * historical doc — candidates from the batch's multiprobe probes
    * against the persisted exact block keys, verified in-place by
    * `bit_count` on the carried fingerprints (history text is never
    * re-tokenized) — and (b) the larger-id member of every
    * within-batch pair at `maxHamming` (greedy smaller-id-wins, the
    * [[minhashIncremental]] rule; the multiprobe candidate join is
    * recall-complete to hamming ≤ 7, so the within relation is the
    * FULL pair relation and the drop set is exactly keep-min).
    * UNSALTED banding deliberately: the incremental contract is pure
    * Hamming semantics an oracle can brute-force restate — the salt's
    * fan-out bound matters for corpus×corpus self-joins, not for a
    * (small batch) × (bucketed history) probe join. Tokenless docs
    * have no fingerprint and emit no row (union them back upstream if
    * passthrough is wanted). Ids must be globally unique across batch
    * and history. `histBands` must come from [[simhashBandKeysExact]]
    * — keys from any other recipe never collide, so a mismatch
    * silently finds nothing. */
  def simhashIncremental(
      newDocs: DataFrame,
      histBands: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"simhashIncremental: multiprobe banding guarantees recall only " +
        s"for maxHamming <= 7, got $maxHamming")
    val fps = simhashFingerprints(newDocs, textCol, idCol)
      .select(col(idCol), col("simhash"))
      .localCheckpoint(false)
    val crossLosers = multiprobeProbeKeys(fps, idCol)
      .join(histBands.select(col(idCol).as("hist_id"),
        col("simhash").as("hist_simhash"), col("bk")), "bk")
      .filter(bit_count(col("simhash").bitwiseXOR(col("hist_simhash")))
        <= maxHamming)
      .select(col(idCol))
    val withinLosers = simhashCandidatesMultiprobe(fps, idCol, None)
      .filter(col("hamming") <= maxHamming)
      .select(col("id_b").as(idCol))
    fps.join(crossLosers.unionByName(withinLosers).distinct(),
      Seq(idCol), "left_anti")
  }

  /** [[simhashCandidates]] over multiprobe buckets: bucket-mates where
    * at least ONE side is an exact row (two flips meeting proves only
    * block distance ≤ 2 — outside the guarantee, pure noise) —
    * recall-complete for Hamming ≤ 7 per [[multiprobeBandedRows]].
    * Same ReusedExchange self-join discipline as the plain path. */
  private[graft] def simhashCandidatesMultiprobe(fps: DataFrame,
      idCol: String, saltCol: Option[String]): DataFrame =
    bandedSelfJoin(multiprobeBandedRows(fps, idCol, saltCol), idCol,
      Some(col("x.exact") || col("y.exact")), Seq(xyHamming))

  /** [[simhashStarFromFingerprints]] over MULTIPROBE buckets — star
    * links with 16-bit bucket selectivity at Hamming budgets up to 7
    * (see [[multiprobeBandedRows]]; plain 4-band star linking is only
    * guaranteed to ≤ 3). Links stay candidates: callers verify (the
    * production path Jaccard-verifies before any drop). A replica pair
    * shadowed by coincidental bucket-mates in every shared bucket can
    * escape the star — it then simply SURVIVES into the pair stage,
    * whose multiprobe join is recall-complete, so escapes cost pair
    * rows, never correctness. */
  def simhashStarFromFingerprintsMultiprobe(fps: DataFrame,
      idCol: String = "doc_id", maxHamming: Int = 6,
      saltCol: Option[String] = None): DataFrame = {
    require(maxHamming <= 7,
      s"multiprobe recall guarantee covers Hamming <= 7, got $maxHamming")
    starLinksFromBanded(
      multiprobeBandedRows(fps, idCol, saltCol), idCol, maxHamming)
  }

  // ------------------------------------------------------- n-gram jaccard

  /** Exact n-gram Jaccard similarity for candidate pairs — the
    * verification stage after any fuzzy candidate generator. Takes a
    * (id_a, id_b) pair frame, joins the token-shingle sets back in, and
    * computes |A∩B|/|A∪B| with array intersection — no re-shuffle of
    * the corpus, only of the (usually tiny) candidate set. */
  def ngramJaccard(
      docs: DataFrame,
      pairs: DataFrame,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // shingle ONLY docs that appear in a candidate pair: a left_semi
    // against the pair-id set, so the expensive word_ngrams
    // tokenization runs on candidates, not the whole corpus — after
    // LSH banding the candidate set is orders of magnitude smaller
    // than the corpus, and verification must scale with IT, not with
    // corpus size. No broadcast HINT: the candidate count is
    // data-dependent (a boilerplate-heavy corpus can band into
    // millions of pairs) and a forced broadcast would hit the 8 GB
    // broadcast ceiling / driver memory exactly when it matters; AQE
    // picks broadcast at runtime whenever the id set is actually small
    val candidateIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
      .distinct()
    val candidates = docs.select(col(idCol), col(textCol))
      .join(candidateIds, Seq(idCol), "left_semi")
    // same shingling (incl. the tiny-doc single-token fallback) as the
    // candidate generators — otherwise a sub-n-token doc that banding
    // matched would verify against an EMPTY shingle set and score 0.
    // Sets are SORTED once per doc so the per-pair intersect is a
    // zero-allocation merge scan (SortedIntersectCount) instead of a
    // per-row hash set — same count bit-for-bit (r15)
    val shingles = shingled(candidates, textCol, idCol, n)
      .select(col(idCol),
        array_sort(array_distinct(col("shingles"))).as("sh"))
      // r18: [[jaccardOverShingleFrame]] reads this frame TWICE (the
      // id_a and id_b joins) — un-cut, the whole candidate-semi-join +
      // tokenize subtree re-evaluated per side (measured 2 identical
      // 1-2 s corpus-tokenize stages per ngramJaccard call in the
      // llm_decontaminate_near profile). The lazy checkpoint holds
      // compact (id, sorted-shingles) rows; both sides replay blocks.
      .localCheckpoint(false)
    jaccardOverShingleFrame(shingles, pairs, idCol)
  }

  /** The shared Jaccard arithmetic over a `(idCol, sh)` frame of
    * SORTED-DISTINCT shingle sets: |A ∪ B| = |A| + |B| − |A ∩ B| with
    * the intersect as one codegen'd merge scan per pair
    * ([[graft.functions.SortedIntersectCount]]). Factored out (r15) so
    * the star-first compositions can verify against ONE materialized
    * shingle frame instead of re-tokenizing the corpus per stage.
    *
    * `atLeast = Some(τ)` is the threshold-aware verify: (a) an EXACT
    * size prescreen — J = I/(|A|+|B|−I) with I ≤ min(|A|,|B|) gives
    * J ≤ min/max, so a pair failing `min ≥ τ·max` cannot qualify and
    * skips the merge scan entirely (on a near-identical-replica
    * collapse at τ = 0.95 this discards every coincidental bucket-mate
    * for two size reads) — and (b) the `jaccard ≥ τ` filter fused in,
    * so callers get exactly the qualifying pairs. Never drops a
    * qualifying pair: the prescreen is an upper bound, not a
    * heuristic. */
  private def jaccardOverShingleFrame(
      shingles: DataFrame,
      pairs: DataFrame,
      idCol: String,
      atLeast: Option[Double] = None): DataFrame = {
    val a = shingles.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = shingles.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    val joined = pairs.join(a, "id_a").join(b, "id_b")
    val scored = atLeast.fold(joined)(t => joined.filter(
        least(size(col("sh_a")), size(col("sh_b"))).cast("double")
          >= lit(t) * greatest(size(col("sh_a")), size(col("sh_b")))))
      .withColumn("inter",
        graft.functions.SortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("uni",
        size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard",
        when(col("uni") === 0, 0.0)
          .otherwise(col("inter").cast("double") / col("uni")))
    atLeast.fold(scored)(t => scored.filter(col("jaccard") >= t))
      .select("id_a", "id_b", "jaccard")
  }

  // ---------------------------------------------------- embedding cosine

  /** Embedding near-dup pairs: cosine similarity ≥ `minCosine` via
    * sign-random-projection LSH — the cosine analogue of
    * [[minhashPairs]] and the same three-stage shape: a zero-shuffle
    * codegen'd signature pass ([[graft.functions.HyperplaneSignature]]
    * emits `numHashTables` 64-bit band keys per vector), a band
    * equi-join for candidate generation, and exact verification with
    * the codegen'd [[graft.functions.CosineSimilarity]] over candidate
    * ids only — never an all-pairs join, never a UDF in the hot path.
    * (Replaces an MLlib `approxSimilarityJoin` formulation whose
    * vector-UDF distance on a near-quadratic candidate set was ~15×
    * slower at driver scale and not codegen-able.)
    *
    * Auto-tuning (either knob 0): `bitsPerTable` targets ~256 vectors
    * per bucket — `max(12, ⌈log2(n/256)⌉)` from one narrow count — so
    * bucket occupancy, and with it the per-bucket pairing cost, stays
    * BOUNDED as n grows (the banding lesson from simhash: a fixed key
    * width is a scale cliff). Wider keys lower per-table recall
    * (collision prob = (1−θ/π)^bits), so `numHashTables` compensates:
    * `⌈ln(1/(1−targetRecall)) / p^bits⌉` clamped to [2, 64], with
    * p evaluated AT the `minCosine` boundary — pairs above the
    * threshold are found with ≥ `targetRecall` probability, and the
    * table count is the honest LINEAR cost of keeping recall at scale
    * (vs the silent quadratic blowup of overfull buckets). Nightly
    * pipelines should pass both knobs explicitly (values logged from a
    * tuning run) to skip the count job.
    *
    * Zero vectors key deterministically into one bucket per table and
    * verify at cosine −1; null embeddings are dropped. */
  def embeddingPairs(
      df: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      minCosine: Double = 0.95,
      numHashTables: Int = 0,
      bitsPerTable: Int = 0,
      targetRecall: Double = 0.9,
      seed: Long = 42L): DataFrame = {
    val vecs = cleanVecs(df, embCol, idCol)
    val (tables, bits) = lshKnobs(vecs.count(), minCosine,
      numHashTables, bitsPerTable, targetRecall)
    val banded = embeddingBandKeys(df, embCol, idCol, tables, bits, seed)
    verifyCosine(vecs, bandedSelfJoin(banded, idCol).distinct(), idCol)
      .filter(col("cosine") >= minCosine)
  }

  private def cleanVecs(df: DataFrame, embCol: String, idCol: String) =
    df.select(col(idCol), col(embCol).cast("array<double>").as("e"))
      .where(col("e").isNotNull)

  /** Exact-cosine verification of candidate id pairs — the embedding
    * twin of [[ngramJaccard]]'s role in the minhash family: two
    * id-equi-joins into the vectors and one codegen'd
    * [[graft.functions.CosineSimilarity]] per candidate, linear in the
    * candidate count. */
  private def verifyCosine(
      vecs: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    pairs
      .join(vecs.select(col(idCol).as("id_a"), col("e").as("ea")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col("e").as("eb")), "id_b")
      .select(col("id_a"), col("id_b"),
        CosineSimilarity(col("ea"), col("eb")).as("cosine"))

  /** The PRODUCTION embedding pair relation — the
    * [[minhashPairsStarFirst]]/[[simhashVerifiedStarFirst]] recipe on
    * the cosine side (round 14, closing the star-first discipline
    * across all three sketch families): per band bucket each row
    * star-links to the bucket's prefix minimum and predecessor (ONE
    * sorted window pass — [[minhashStarFromBandKeys]] reused verbatim,
    * the band-key frames share the `(id, bk)` shape), every link is
    * verified with EXACT cosine before it can drop anyone, links ≥
    * `collapseCosine` collapse their id_b, and the banded pair
    * self-join runs over the replica-free SURVIVORS only — the C(m,2)
    * bucket expansion cannot occur on replica mass at ANY duplication
    * rate.
    *
    * Output = the verified star links (the relation's replica mass,
    * linear in banded rows) UNION the verified survivor pairs, both at
    * `minCosine` — a SUBSET of [[embeddingPairs]]' relation (never a
    * false pair) whose keep-min DROP SET matches the raw relation's
    * whenever the star links cover each replica's bucket minimum (the
    * near-identical-signature property that defines replicas; DedupSpec
    * pins subset + drop-set equality on a replicated fixture, and
    * [[embeddingPairs]] stays the un-benched brute-force ground
    * truth). */
  def embeddingPairsStarFirst(
      df: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      minCosine: Double = 0.95,
      numHashTables: Int = 0,
      bitsPerTable: Int = 0,
      targetRecall: Double = 0.9,
      collapseCosine: Double = 0.99,
      seed: Long = 42L): DataFrame = {
    val vecs = cleanVecs(df, embCol, idCol)
    val (tables, bits) = lshKnobs(vecs.count(), minCosine,
      numHashTables, bitsPerTable, targetRecall)
    val banded = embeddingBandKeys(df, embCol, idCol, tables, bits, seed)
    val starVerified = verifyCosine(vecs,
      minhashStarFromBandKeys(banded, idCol)
        .select(col("id_a"), col("id_b")), idCol)
      .filter(col("cosine") >= minCosine)
    // LINEAGE CUT at the collapse boundary (the minhashSurvivorCandidates
    // rationale): the drop frame re-embeds the banded subtree in the
    // survivor pass; the lazy localCheckpoint compiles it once to a
    // compact RDD leaf, leaving the banded Exchange reusable across the
    // survivor self-join's two sides.
    val drops = linkedIds(starVerified.filter(col("cosine") >= collapseCosine),
      idCol).localCheckpoint(false)
    val survPairs = verifyCosine(vecs, survivorPairs(banded, drops, idCol),
        idCol)
      .filter(col("cosine") >= minCosine)
    // a star link between two SURVIVORS (verified below collapseCosine)
    // also surfaces from the survivor self-join — same exact cosine on
    // both paths, so distinct() is the union's dedup
    starVerified.unionByName(survPairs).distinct()
  }

  /** The (band width, table count) auto-derivation shared by
    * [[embeddingPairs]] and [[embeddingIncremental]] — see
    * [[embeddingPairs]]' scaladoc for the math. `count` is only
    * evaluated when a knob is left at 0. */
  private def lshKnobs(
      count: => Long,
      minCosine: Double,
      numHashTables: Int,
      bitsPerTable: Int,
      targetRecall: Double): (Int, Int) = {
    require(minCosine > -1.0 && minCosine < 1.0,
      s"minCosine must be in (-1, 1), got $minCosine")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    val bits =
      if (bitsPerTable > 0) bitsPerTable
      else {
        val n = math.max(1L, count)
        // clamp to HyperplaneSignature's key-width bound; 32 bits
        // covers occupancy targets past 10^12 vectors
        math.min(32, math.max(12,
          math.ceil(math.log(n / 256.0) / math.log(2.0)).toInt))
      }
    val tables =
      if (numHashTables > 0) numHashTables
      else {
        val p = 1.0 - math.acos(minCosine) / math.Pi // per-bit agreement
        val t = math.log(1.0 / (1.0 - targetRecall)) / math.pow(p, bits)
        math.min(64, math.max(2, math.ceil(t).toInt))
      }
    (tables, bits)
  }

  /** The `(idCol, bk)` sign-LSH band keys embedding candidate
    * generation joins on — the cosine twin of [[minhashBandKeys]], and
    * public for the same reason: compute the historical side ONCE,
    * persist it bucketed by `bk`, and an incremental pipeline's
    * candidate join plans no history-side Exchange. Both knobs are
    * required here (no auto-derivation): band keys are only comparable
    * between frames built with identical (tables, bits, seed). */
  def embeddingBandKeys(
      df: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      numTables: Int = 8,
      bitsPerTable: Int = 16,
      seed: Long = 42L): DataFrame =
    cleanVecs(df, embCol, idCol)
      .select(col(idCol),
        explode(HyperplaneSignature(col("e"), numTables, bitsPerTable, seed))
          .as("bk"))
      // same exchange-reuse trick as minhashPairs: a self-join's two
      // sides end in this canonical shuffle, so the signature pipeline
      // runs once
      .repartition(col("bk"))

  /** [[embeddingBandKeys]] with the vector riding along —
    * `(idCol, e, bk)`, the input shape of
    * [[graft.streaming.StreamOps.nearDedupCosineStream]] (the
    * STREAMING embedding near-dup keeper, whose in-state verification
    * needs the vectors, the way [[minhashBandedShingles]] carries the
    * shingle sets for the Jaccard keeper). Pure stateless projection +
    * explode, so it runs on a `readStream` frame unchanged; null
    * embeddings emit nothing. Keys are comparable only between frames
    * built with identical (tables, bits, seed).
    *
    * `dim = Some(d)` here THROWS on the first wrong-dimension row
    * (codegen'd assert_true fails the batch — a corrupt embedding in
    * a live stream must surface, not vanish). The batch siblings
    * [[semantic]]/[[semanticIncremental]] give the SAME-NAMED
    * parameter the opposite semantics — wrong-dimension rows are
    * silently DROPPED there (a corpus screen the SQL oracle can
    * restate). A caller moving `dim` between the paths is choosing
    * crash-vs-drop; both scaladocs carry this cross-reference. */
  def embeddingBandedVecs(
      df: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      numTables: Int = 8,
      bitsPerTable: Int = 16,
      seed: Long = 42L,
      dim: Option[Int] = None): DataFrame = {
    // no repartition: the keeper's groupByKey(_.bk) plans its own
    // Exchange on the extracted key (the minhashBandedShingles rule) —
    // a repartition by the column here would be a second back-to-back
    // shuffle of the heaviest payload (vectors riding every band row)
    val base = cleanVecs(df, embCol, idCol)
    // dim = Some(d): every row is dimension-checked HERE, at ingest —
    // deterministic per row. The downstream keeper's in-state check
    // only fires when a ragged vector happens to share a bucket with
    // another row (collision-dependent), so a stream that must reject
    // corrupt embeddings reliably passes the expected dimension here.
    // assert_true is codegen'd and returns null on success, so the
    // filter is pass-through for well-formed rows and THROWS (fails
    // the batch, surfacing the data error) on a mismatch.
    val screened = dim.foldLeft(base)((d, n) =>
      d.filter(coalesce(assert_true(size(col("e")) === n,
        concat(lit(s"embeddingBandedVecs: expected $n-dim embedding, got "),
          size(col("e")).cast("string"), lit(" for " + idCol + "="),
          col(idCol).cast("string"))), lit(true))))
    screened
      .select(col(idCol), col("e"),
        explode(HyperplaneSignature(col("e"), numTables, bitsPerTable, seed))
          .as("bk"))
  }

  /** Incremental embedding near-dup dedup — the cosine member of the
    * incremental trio ([[exactIncremental]], [[minhashIncremental]]):
    * returns the rows of `newVecs` that survive dropping (a) every
    * batch vector with cosine ≥ `minCosine` against ANY historical
    * vector, and (b) the larger-id member of every near pair WITHIN
    * the batch. Ids must be globally unique across batch and history.
    *
    * Auto-knobs derive from the HISTORY count (the big side bounds
    * bucket occupancy); nightly pipelines pass both knobs explicitly
    * and pass persisted [[embeddingBandKeys]] output (bucketed by `bk`)
    * as `histBands` so the 100 TB side is never re-hashed — the
    * candidate join then plans with no history-side Exchange. A
    * supplied `histBands` requires BOTH knobs explicit: keys are only
    * comparable between frames built with identical (tables, bits,
    * seed), and auto-derivation could silently disagree with however
    * the persisted table was built. */
  def embeddingIncremental(
      newVecs: DataFrame,
      histVecs: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      minCosine: Double = 0.95,
      numHashTables: Int = 0,
      bitsPerTable: Int = 0,
      targetRecall: Double = 0.9,
      seed: Long = 42L,
      histBands: Option[DataFrame] = None): DataFrame = {
    requireExplicitKnobs(histBands, numHashTables > 0 && bitsPerTable > 0,
      "numHashTables and bitsPerTable")
    val (tables, bits) = lshKnobs(cleanVecs(histVecs, embCol, idCol).count(),
      minCosine, numHashTables, bitsPerTable, targetRecall)
    val batchVecs = cleanVecs(newVecs, embCol, idCol)
    val allVecs = batchVecs.unionByName(cleanVecs(histVecs, embCol, idCol))
    incrementalSurvivors(newVecs, batchVecs,
        embeddingBandKeys(newVecs, embCol, idCol, tables, bits, seed),
        histBands.getOrElse(
          embeddingBandKeys(histVecs, embCol, idCol, tables, bits, seed)),
        idCol) { pairs =>
      pairs
        .join(batchVecs.select(col(idCol).as("id_a"), col("e").as("ea")),
          "id_a")
        .join(allVecs.select(col(idCol).as("id_b"), col("e").as("eb")),
          "id_b")
        .filter(CosineSimilarity(col("ea"), col("eb")) >= minCosine)
        .select("id_a", "id_b")
    }
  }

  /** The nCells auto-derivation for [[semantic]] — the embedding-side
    * sibling of [[minhashKnobs]]/`lshKnobs`, opt-in by passing
    * `nCells = 0`; explicit values pass through untouched (`count` is
    * by-name and only evaluated when deriving). SemDeDup's pair stage
    * costs Σ|cell|²/2, so a FIXED nCells is quadratic in corpus growth
    * — the round-11 PLANS.md caveat. Holding the expected cell size at
    * `targetCellSize` instead (nCells = ⌈n / targetCellSize⌉, the
    * paper's constant-cell-size regime — LAION-440M over 50 k
    * clusters) keeps expected within-cell pair work LINEAR:
    * n·targetCellSize/2. Exact ceil via integer arithmetic so the
    * DuckDB twin's CEIL(n / target) lands on the same integer for
    * every n. */
  private[graft] def semanticKnobs(
      count: => Long,
      nCells: Int,
      targetCellSize: Int = 32): Int =
    if (nCells > 0) nCells
    else {
      require(targetCellSize >= 1,
        s"targetCellSize must be >= 1, got $targetCellSize")
      val derived = math.max(1L, (count + targetCellSize - 1) / targetCellSize)
      // fail loudly rather than wrap: past ~2^31 cells (corpora above
      // Int.MaxValue * targetCellSize rows) a silent Long-to-Int
      // truncation would produce a bogus — possibly negative — cell
      // count at exactly the web-scale regime this derivation exists
      // for (r12 advice); such a corpus needs explicit knobs anyway
      require(derived <= Int.MaxValue,
        s"derived nCells $derived exceeds Int.MaxValue — corpus too " +
          s"large for auto-derivation at targetCellSize=$targetCellSize; " +
          "pass nCells explicitly")
      derived.toInt
    }

  /** SemDeDup-style SEMANTIC dedup over an embedding column (Abbas et
    * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540): cluster the corpus
    * into `nCells` cells, compute pairwise cosine ONLY within each
    * cell, and flag every row that has a SMALLER-id row in the same
    * cell with cosine ≥ `minCosine` — the paper's keep-one-per-
    * semantic-duplicate rule (it keeps the lowest-index member of each
    * duplicate relation; we flag rather than drop so callers can
    * anti-join or inspect). Complements [[embeddingPairs]]: sign-LSH
    * targets NEAR-IDENTICAL vectors (cos ≥ ~0.95) with per-pair
    * recall; SemDeDup prunes SEMANTICALLY redundant regions at lower
    * thresholds where LSH banding has no selectivity left.
    *
    * Clustering is [[Similarity.ivfIndexHashInit]]'s deterministic
    * hash-init assignment (centroids = unit-normalized hash-drawn
    * corpus rows, cosine argmax, largest-cell ties) — engine-portable
    * arithmetic, so the ENTIRE pipeline (draw, assignment, in-cell
    * pair cosines at 6dp, dup flag) is restatable in SQL and
    * hash-verifiable. The paper clusters with fitted k-means; the
    * production-fit variant is one argument away
    * ([[Similarity.ivfIndex]] shares the cells schema) and changes
    * nothing downstream.
    *
    * Returns one row per well-formed corpus row: (idCol, cell,
    * max_cos, is_dup) — `max_cos` is the row's highest 6dp-rounded
    * cosine against any SMALLER-id row in its cell (null when it is
    * the cell's smallest id), the per-row evidence an operator
    * inspects when tuning the threshold; `is_dup` is `max_cos ≥
    * minCosine`. Rows with null embeddings are never indexed, and
    * when `dim` is given, wrong-dimension rows are excluded too (the
    * oracle's len(embedding)=64 screen). With `dim = None` the CALLER
    * must guarantee a uniform dimension: an unfiltered short vector
    * WOULD be assigned a cell and compared by truncated min-length
    * cosine ([[graft.functions.CosineSimilarity]] semantics) — a
    * silent false-dup risk, which is why the registered query pins
    * `dim = Some(64)`. NOTE the same-named parameter DIVERGES across
    * siblings: here (and in [[semanticIncremental]]) `dim = Some(d)`
    * silently DROPS wrong-dimension rows — they are "not in the
    * corpus", the screen the SQL oracle can restate — while
    * [[embeddingBandedVecs]]' `dim` THROWS on the first mismatch
    * (assert_true fails the batch), because its streaming consumer
    * must surface corrupt input rather than quietly thin the stream.
    * Moving a `dim` argument between the batch and streaming paths
    * changes drop-vs-crash behavior; pick per pipeline stage.
    *
    * Scale shape (the SemDeDup economics): cell assignment is a
    * narrow codegen'd argmax over broadcast centroid literals — no
    * shuffle; the pair stage is an equi-join on `cell` (ONE hash
    * shuffle, and the self-join's two sides reuse the same exchange)
    * with the cosine as a join-residual predicate, so work is
    * Σ|cell|²/2, bounded by scaling nCells ∝ N to hold cells at a
    * constant target size — which is exactly what the default
    * `nCells = 0` does: [[semanticKnobs]] derives
    * nCells = ⌈n / targetCellSize⌉ from one count job — note this
    * makes the default EAGER at DataFrame-CONSTRUCTION time (the
    * count executes when `semantic` is called, not when the returned
    * frame is; plan-only callers pay one Spark job and an extra scan
    * of the upstream input — pass an explicit `nCells` to stay fully
    * lazy). (The paper runs 50k clusters on LAION-440M;
    * a mega-cell from a degenerate centroid draw surfaces in
    * [[Similarity.ivfIndexHashInit]]'s build profile before a probe
    * path is enabled, and re-drawing with a different multiplier or
    * salting the hot cell bounds it). */
  def semantic(
      df: DataFrame,
      nCells: Int = 0,
      minCosine: Double = 0.8,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      dim: Option[Int] = None,
      targetCellSize: Int = 32): DataFrame = {
    require(nCells >= 0,
      s"nCells must be >= 1, or 0 to derive from the corpus: $nCells")
    // null embeddings are excluded BEFORE assignment: the nAssign=1
    // argmax would otherwise park them in the largest cell (struct
    // ordering sorts a null cos first), and a row with no vector can
    // be neither duplicate nor keeper. dim = Some(d) additionally
    // excludes wrong-dimension rows (see scaladoc); dim = None leaves
    // uniform-dimension responsibility with the caller.
    val wellFormed = dim.foldLeft(df.where(col(embCol).isNotNull))(
      (d, n) => d.where(size(col(embCol)) === n))
    val nc = semanticKnobs(wellFormed.count(), nCells, targetCellSize)
    val cells = Similarity.ivfIndexHashInit(
        wellFormed, nc, embCol, idCol)
      .cells
      .select(col("neighbor_id").as(idCol), col("c_emb").as("e"),
        col("cell"))
    val best = cells.alias("a")
      .join(cells.alias("b"),
        col("a.cell") === col("b.cell") &&
          col(s"b.$idCol") < col(s"a.$idCol"))
      .select(col(s"a.$idCol").as(idCol),
        round(CosineSimilarity(col("a.e"), col("b.e")), 6).as("cos"))
      .groupBy(col(idCol))
      .agg(max(col("cos")).as("max_cos"))
    cells
      .join(best, Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("max_cos"),
        coalesce((col("max_cos") >= minCosine).cast("int"), lit(0))
          .as("is_dup"))
  }

  /** Batch-incremental [[semantic]] — the refresh story the other dedup
    * families already have ([[exactIncremental]], [[minhashIncremental]],
    * [[simhashIncremental]], [[embeddingIncremental]]): score ONLY the
    * new batch against a PERSISTED history assignment instead of
    * re-running cell assignment + in-cell pairs over the whole corpus
    * every night. The quantizer is frozen (hash-init centroids are
    * refit-free by construction — [[Similarity.ivfIndexHashInit]]; the
    * fitted variant freezes the same way, the [[Similarity.ivfAppend]]
    * policy), so batch rows are assigned with the frozen `index`
    * centroids and compared in-cell against (a) every history row in
    * the cell — history is PRIOR, keep-first by arrival, id order
    * irrelevant — and (b) every SMALLER-id batch row in the cell (the
    * within-batch [[semantic]] rule).
    *
    * `histCells` is the persisted history assignment
    * `(idCol, cell, e)` — [[semanticHistCells]] output written bucketed
    * by `cell` ([[graft.sources.Sources.writeBucketed]]): the in-cell
    * candidate join then reuses the table's ingest-time bucketing and
    * plans NO history-side Exchange (PlanAuditSpec pins it), and the
    * 100 TB history is never re-embedded, re-assigned, or re-shuffled.
    * Ids must be globally unique across batch and history.
    *
    * Returns [[semantic]]'s shape for BATCH rows only: (idCol, cell,
    * max_cos, is_dup) with `max_cos` the highest 6dp-rounded in-cell
    * cosine against any prior row (null when the batch row meets
    * none). Well-formedness screens (`dim`, nulls) mirror [[semantic]];
    * the frame handed to the history build must have used the same
    * screen or assignment geometry diverges.
    *
    * Deliberately NO streaming keeper for this family (the one dedup
    * modality without one): SemDeDup operates at thresholds
    * (τ ≈ 0.8) where sign-LSH banding has no selectivity left — the
    * CELL is the bucket, and a per-cell keeper would have to carry
    * every cell member's full vector in state (cells are sized to
    * ~targetCellSize members BY DESIGN, and batch rows must compare
    * against all of them, not a single keeper). That is the batch
    * in-cell join wearing a state-store costume, strictly worse than
    * running THIS incremental refresh on a schedule. Embedding streams
    * that need in-flight near-dup dropping at high thresholds use
    * [[graft.streaming.StreamOps.nearDedupCosineStream]], where
    * LSH selectivity is real and one keeper per bucket suffices.
    *
    * `index` must be a SINGLE-assignment index (`nAssign == 1`,
    * enforced): [[Similarity.ivfAssign]] replicates each row into
    * `index.nAssign` cells — the ANN recall trade — but semantic's
    * contract is ONE row per batch row, and a replicated assignment
    * would emit one output row per (id, cell) replica (and
    * [[semanticHistCells]] would persist replica history rows).
    * [[Similarity.ivfIndexHashInit]] builds nAssign=1 indexes by
    * construction; a fitted [[Similarity.ivfIndex]] must be built
    * with `nAssign = 1` explicitly for this family. */
  def semanticIncremental(
      newVecs: DataFrame,
      index: Similarity.IvfIndex,
      histCells: DataFrame,
      minCosine: Double = 0.8,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      dim: Option[Int] = None): DataFrame = {
    require(index.nAssign == 1,
      s"semanticIncremental requires a single-assignment index " +
        s"(nAssign == 1, got ${index.nAssign}): multi-assignment " +
        "replicates each batch row into nAssign cells and the output " +
        "would carry one row per replica instead of one per batch row")
    val wellFormed = dim.foldLeft(newVecs.where(col(embCol).isNotNull))(
      (d, n) => d.where(size(col(embCol)) === n))
    val batchCells = Similarity.ivfAssign(index, wellFormed, embCol, idCol)
      .select(col("neighbor_id").as(idCol), col("c_emb").as("e"),
        col("cell"))
    val hist = histCells.select(col(idCol), col("e"), col("cell"))
    // one 6dp-rounded cosine stream from both pair kinds, then max per
    // batch row — the [[semantic]] arithmetic with history as the
    // always-prior side
    val crossCos = batchCells.alias("a")
      .join(hist.alias("b"), col("a.cell") === col("b.cell"))
      .select(col(s"a.$idCol").as(idCol),
        round(CosineSimilarity(col("a.e"), col("b.e")), 6).as("cos"))
    val withinCos = batchCells.alias("a")
      .join(batchCells.alias("b"),
        col("a.cell") === col("b.cell") &&
          col(s"b.$idCol") < col(s"a.$idCol"))
      .select(col(s"a.$idCol").as(idCol),
        round(CosineSimilarity(col("a.e"), col("b.e")), 6).as("cos"))
    val best = crossCos.unionByName(withinCos)
      .groupBy(col(idCol))
      .agg(max(col("cos")).as("max_cos"))
    batchCells
      .join(best, Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("max_cos"),
        coalesce((col("max_cos") >= minCosine).cast("int"), lit(0))
          .as("is_dup"))
  }

  /** The persisted-history side of [[semanticIncremental]]: the
    * history corpus's cell assignment under `index`, shaped
    * `(idCol, cell, e)` for bucketed-by-`cell` ingest. Split out so
    * the nightly writer and the incremental reader can never disagree
    * on the schema. Same `nAssign == 1` contract as the reader
    * (enforced): a multi-assignment index's `cells` carry one row per
    * (id, cell) REPLICA, and persisting those as history would hand
    * the reader duplicate in-cell comparisons. */
  def semanticHistCells(
      index: Similarity.IvfIndex,
      idCol: String = "vec_id"): DataFrame = {
    require(index.nAssign == 1,
      s"semanticHistCells requires a single-assignment index " +
        s"(nAssign == 1, got ${index.nAssign}): multi-assignment cells " +
        "hold one row per (id, cell) replica, not one per history row")
    index.cells.select(col("neighbor_id").as(idCol),
      col("c_emb").as("e"), col("cell"))
  }
}
