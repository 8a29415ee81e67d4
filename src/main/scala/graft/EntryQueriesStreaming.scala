package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.features._
import graft.llm._
import graft.operators.{Events, Profile, RangeJoin, Relational, Sketches, Skew}
import graft.sources.Sources
import graft.streaming.StreamOps
import graft.SparkEntry._

/** Structured-streaming twins (windowed counts, keepers, sketches, cdc snapshot, interval join, streaming ingest) — one slice of [[SparkEntry.queries]].
  *
  * Registration bodies are the pre-split [[SparkEntry]] map entries
  * moved VERBATIM (r16 verdict item 7: the per-family OracleSql file
  * pattern applied to the query registry, which had regrown to 3,200+
  * lines). Shared fixtures/harnesses stay on [[SparkEntry]] as
  * private[graft] members, wildcard-imported here, so the bodies did
  * not change; [[SparkEntry.queries]] assembles the slices and pins
  * key-disjointness. */
private[graft] object EntryQueriesStreaming {
  // Seq, not Map (r17 advice #5): a key accidentally registered twice
  // in ONE literal would silently last-wins inside a Map before any
  // disjointness check could see it; as a Seq the duplicate survives
  // to SparkEntry.queries' require, which fails loudly.
  def entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ... and the embedding STREAMING twin (r16), completing the
    // streaming dedup quartet (exact / Jaccard / Hamming / cosine):
    // the corpus + the same three in-flight planted vectors arrive as
    // a file stream (planted rows derived FROM the stream — union of
    // streaming frames), LSH banding is a stateless projection, and
    // the cosine keeper machine emits drop links verified by exact
    // cosine in-state. Oracle = brute-force keep-min survivor rules —
    // exact on this fixture for the dedup_embedding_pairs reasons
    // (seeded 4×12-bit recall ~1-1e-8 per pair, thresholds far from
    // every pair's cosine so JVM/DuckDB summation ulps cannot flip a
    // classification).
    "stream_embed_near" -> ((s, dir) => {
      import s.implicits._
      val base = Sources.embeddingsStream(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val e0 = base.filter(col("vec_id") === 0L)
      val e5 = base.filter(col("vec_id") === 5L)
      val planted = base
        .unionByName(e0.select(lit(900001L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(1e-4)).otherwise(x))
            .as("embedding")))
        .unionByName(e5.select(lit(900002L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding")))
        .unionByName(e5.select(lit(900003L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, -x + lit(1e-4)).otherwise(-x))
            .as("embedding")))
      // dim pinned at ingest (r17): a ragged embedding now fails the
      // batch deterministically HERE instead of depending on a bucket
      // collision to reach the keeper's in-state check
      val banded = Dedup.embeddingBandedVecs(planted,
          numTables = 4, bitsPerTable = 12, dim = Some(64))
        .as[graft.streaming.BandedVecRow]
      runAvailableNow(s,
        StreamOps.nearDedupCosineStream(banded, minCosine = 0.99).toDF(),
        outputMode = "append", sinkWriteMode = "append") { links =>
        val b = embeddings(s, dir).select(col("vec_id"))
        val ids = b
          .unionByName(b.filter(col("vec_id") === 0L)
            .select(lit(900001L).as("vec_id")))
          .unionByName(b.filter(col("vec_id") === 5L)
            .select(lit(900002L).as("vec_id")))
          .unionByName(b.filter(col("vec_id") === 5L)
            .select(lit(900003L).as("vec_id")))
        ids.join(links.select(col("vec_id")).distinct(),
          Seq("vec_id"), "left_anti")
      }
    }),
    // ... and the image dedup STREAMING twin (r16): the planted-clone
    // fixture arrives as a file stream, per-row dHash + multiprobe
    // banding are stateless projections, and the Hamming keeper
    // machine (StreamOps.nearDedupHashStream — per bucket, EXACT
    // presences register fingerprint→min-id entries, every probe row
    // verifies by bit_count) emits the drop links. Unlike the Jaccard
    // keeper, the drop set equals brute-force keep-min BY CONSTRUCTION
    // under AvailableNow's id-sorted single batch (pigeonhole recall +
    // full-Hamming verify in-state, no predecessor-chain escapes), so
    // the oracle is the all-pairs keep-min survivor SQL — exact on any
    // FIXTURE run this way, with the usual keep-first contract across
    // live out-of-order micro-batches (see the operator scaladoc).
    // Survivors read back in phash shape, re-proving the fingerprint
    // arithmetic.
    "stream_phash_near" -> ((s, dir) => {
      import s.implicits._
      val banded = Multimodal.dHashStreamBanded(
          Multimodal.bmpDHash(
            phashFixture(Sources.documentsStream(s, dir)), "payload"))
        .as[graft.streaming.BandedHashRow]
      runAvailableNow(s,
        StreamOps.nearDedupHashStream(banded, maxHamming = 2).toDF(),
        outputMode = "append", sinkWriteMode = "append")(links =>
        Multimodal.bmpDHash(phashFixture(documents(s, dir)), "payload")
          .join(links.select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti"))
    }),
    // ... the AUDIO twin of the Hamming streaming keeper (round 18):
    // wavDHash fingerprints through the SAME multiprobe banding and
    // keeper machine — one streaming near-dup engine, two modalities
    // (the registration differs from stream_phash_near only in the
    // fingerprint expression and fixture). Same exactness argument:
    // pigeonhole recall + full-Hamming in-state verify under
    // AvailableNow's id-sorted single batch ⇒ drop set == brute-force
    // keep-min; oracle = the all-pairs survivor SQL over the planted
    // audio relation (clones AND one-sample variants stream through).
    "stream_audio_near" -> ((s, dir) => {
      import s.implicits._
      val banded = Multimodal.dHashStreamBanded(
          Multimodal.wavDHash(
            audioCloneFixture(Sources.documentsStream(s, dir)), "payload"))
        .as[graft.streaming.BandedHashRow]
      runAvailableNow(s,
        StreamOps.nearDedupHashStream(banded, maxHamming = 2).toDF(),
        outputMode = "append", sinkWriteMode = "append")(links =>
        Multimodal.wavDHash(audioCloneFixture(documents(s, dir)), "payload")
          .join(links.select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti"))
    }),
    // ... and the STREAMING leg of the frozen perplexity scorer (r16):
    // the corpus arrives as a file stream and scores against the
    // RELOADED model artifact — bigram explode stateless, model/context
    // joins stream-static, the per-doc aggregate in complete mode
    // (state = one row per doc, the merge-snapshot contract). The
    // read-back applies the shared output shaping, so the streamed
    // scores answer text_perplexity_cross's oracle VERBATIM — the
    // scorer-artifact families (IVF, BM25, CMS, now the LM) each have
    // a hash-verified streaming ingest leg.
    "stream_perplexity" -> ((s, dir) => scratch(s) { sc =>
      val (loaded, lv) = reloadedLm(sc, dir)
      LanguageModel.perplexityShape(documents(s, dir), availableNow(sc,
        LanguageModel.perplexityAggregates(
          Sources.documentsStream(s, dir), loaded, lv),
        outputMode = "complete", sinkWriteMode = "overwrite"))
    }),

    // Round 11 (VERDICT item 6): the FIRST streaming query under the
    // driver's CORRECTNESS gate — a REAL readStream file source over the
    // events fixture through the same windowedEventCounts transform,
    // materialized per micro-batch via foreachBatch in COMPLETE mode
    // (each batch overwrites the sink with the full updated aggregate,
    // so the final sink state equals the batch aggregate regardless of
    // how the source splits micro-batches — the determinism that lets a
    // stream share its batch twin's DuckDB oracle verbatim). AvailableNow
    // processes the backlog and stops: the bounded-run mode a backfill
    // or catch-up deployment uses; an always-on deployment drops the
    // trigger and keeps the identical plan. StreamingSpec keeps the
    // MemoryStream multi-batch coverage; this row proves the end-to-end
    // source → stateful agg → sink path against DuckDB.
    "stream_window_counts" -> ((s, dir) =>
      runAvailableNow(s,
        StreamOps.windowedEventCounts(Sources.eventsStream(s, dir),
          watermark = Some("1 hour")),
        outputMode = "complete", sinkWriteMode = "overwrite")(
        _.withColumn("window_start",
            date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))
          .withColumn("window_end",
            date_format(col("window_end"), "yyyy-MM-dd HH:mm:ss")))),
    // Second streaming oracle row (round 11): APPEND-mode stateful
    // dedup through a real readStream file source —
    // dropDuplicatesWithinWatermark keyed on (user_id, event_type),
    // first arrival per key emitted, later arrivals filtered by state.
    // Only the KEY columns are selected, so the sink equals the
    // distinct key set regardless of which arrival won — the
    // arrival-order-free projection that makes append-mode streaming
    // dedup DuckDB-oracle-able. The 30-day watermark covers the whole
    // fixture span (no eviction inside the run — and the fixture
    // arrives as ONE AvailableNow micro-batch anyway); production
    // tightens it to bound state, the [[StreamOps.dedupStream]]
    // contract.
    "stream_dedup_keys" -> ((s, dir) =>
      runAvailableNow(s,
        StreamOps.dedupStream(Sources.eventsStream(s, dir),
            keyCols = Seq("user_id", "event_type"),
            tsCol = "ts", watermark = "30 days")
          .select("user_id", "event_type"),
        outputMode = "append", sinkWriteMode = "append")(identity)),
    // Streaming sketch row (round 14): Misra-Gries AS the streaming
    // aggregation state — live top-bigrams over the document stream,
    // state ≤ capacity counters FOREVER (the algebraically-bounded
    // contrast to keep-first dedup's distinct-keys state; no TTL or
    // RocksDB contract needed). Exact regime at this SF (maxError 0,
    // merge-order-independent), so the COMPLETE-mode final sketch
    // shares the batch row's DuckDB oracle verbatim; StreamingSpec
    // adds the forced multi-batch MemoryStream equality.
    "stream_heavy_hitters" -> ((s, dir) =>
      runAvailableNow(s,
        StreamOps.heavyHittersStream(Sources.documentsStream(s, dir),
          graft.functions.FrequentItems.DefaultCapacity),
        outputMode = "complete", sinkWriteMode = "overwrite")(
        _.select(explode(col("sk.counts")).as(Seq("gram", "cnt")),
          col("sk.maxError").as("max_error"))
          .orderBy(col("cnt").desc, col("gram"))
          .limit(50))),
    // Streaming KMV distinct-count (round 14): the bottom-k sketch as
    // streaming aggregation state — ≤ k hashes per event_type FOREVER,
    // and, stronger than the MG row's exact-regime-only claim, the
    // COMPLETE-mode final state is micro-batch-split-independent in
    // the APPROXIMATE regime too (min-k of a set ignores arrival
    // order). So the streamed approximate estimate is pinned
    // hash-EXACT by a DuckDB oracle re-deriving the full estimator
    // from the raw table.
    "stream_cardinality_kmv" -> ((s, dir) =>
      runAvailableNow(s,
        StreamOps.cardinalityKmvStream(Sources.eventsStream(s, dir)),
        outputMode = "complete", sinkWriteMode = "overwrite")(
        _.select(col("event_type"), col("n_events"),
          graft.functions.BottomK.estimateDistinct(col("sk"),
            graft.functions.BottomK.DefaultK).as("n_users_est")))),
    // Count-Min as streaming aggregation state (the CMS leg of the
    // stream-twin set): the document stream's (depth, bucket)
    // counters maintained in complete mode — state bounded at d×w
    // counters FOREVER, no TTL or eviction rule needed (counters only
    // add). Counter addition is batch-split-invariant, so the
    // streamed sketch equals the batch build bit-for-bit and the
    // point-query tail answers text_count_min's oracle VERBATIM.
    "stream_count_min" -> ((s, dir) =>
      runAvailableNow(s,
        StreamOps.countMinStream(Sources.documentsStream(s, dir)),
        outputMode = "complete", sinkWriteMode = "overwrite") { sk =>
        val exact = tokenTerms(documents(s, dir))
          .groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
        val probes = exact.orderBy(col("n_exact").desc, col("term"))
          .limit(20)
        graft.operators.CountMin.estimate(sk, probes, "term",
            depth = 4, width = 128)
          .withColumn("overcount", col("cm_est") - col("n_exact"))
          .orderBy(col("n_exact").desc, col("term"))
      }),
    // Third streaming oracle row (round 11): the CDC merge snapshot,
    // continuously maintained by mergeStream's keyed
    // flatMapGroupsWithState — events read as a change stream
    // (key = user_id, seq = event-time micros, 'purchase' = tombstone
    // so the delete path runs under the oracle too). Each batch emits
    // a changed key's NEW current row (update mode); the sink tags
    // rows with their micro-batch id and the final snapshot is each
    // key's row from its LAST emitting batch — correct under ANY
    // micro-batch split, and equal to the batch rule "latest event
    // per key by seq" the DuckDB twin states. (user_id, ts) is unique
    // at every SF, so seq order is total.
    "stream_merge_snapshot" -> ((s, dir) => {
      import s.implicits._
      val changes = Sources.eventsStream(s, dir)
        .select(col("user_id").as("key"),
          col("event_type").as("payload"),
          (col("event_type") === "purchase").as("del"),
          unix_micros(col("ts")).as("seq"))
        .as[graft.streaming.MergeEvent]
      runAvailableNow(s,
        graft.streaming.StreamOps.mergeStream(changes).toDF(),
        outputMode = "update", sinkWriteMode = "append",
        tagBatchId = true) { sinkDf =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key")).orderBy(col("batch_id").desc)
        sinkDf
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("key"), col("payload"),
            col("deleted").cast("int").as("deleted"))
      }
    }),
    // Fourth streaming oracle row: the flatMapGroupsWithState
    // sessionizer itself under the DuckDB gate — events through a real
    // readStream file source, per-user session state carried in the
    // state store, output = the batch sessionize shape, so the oracle
    // IS the proven events_sessionize SQL. The fixture arrives as one
    // AvailableNow micro-batch ((user_id, ts) unique => the in-group
    // ts sort is total), and the 30-day watermark spans the fixture so
    // no state eviction truncates a session mid-run; production
    // tightens it to bound state, the sessionizeStream contract.
    "stream_sessionize" -> ((s, dir) => {
      import s.implicits._
      val ev = Sources.eventsStream(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"))
        .as[graft.streaming.SessionEvent]
      runAvailableNow(s,
        StreamOps.sessionizeStream(ev, gapMinutes = 30,
          watermark = "30 days").toDF(),
        outputMode = "append", sinkWriteMode = "append")(
        _.select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("session_idx")))
    }),

    // Fifth streaming oracle row: the STREAM-STREAM interval join
    // itself under the DuckDB gate — both sides real readStream file
    // sources with watermarks (mandatory: without them Spark rejects
    // the unbounded-state append-mode join outright), inner matches
    // emitted as both sides buffer in the join state store. Same
    // attributionJoin code as the batch twin, so the oracle IS
    // events_attribution's inequality-join SQL. The 30-day watermark
    // spans the fixture so no state eviction drops a late match here;
    // StreamingSpec pins the eviction semantics (a purchase behind
    // the watermark is dropped, not matched from evicted state).
    "stream_attribution" -> ((s, dir) =>
      runAvailableNow(s,
        StreamOps.attributionJoin(
          Sources.eventsStream(s, dir)
            .filter(col("event_type") === "click"),
          Sources.eventsStream(s, dir)
            .filter(col("event_type") === "purchase"),
          horizonMinutes = 60, watermark = Some("30 days")),
        outputMode = "append", sinkWriteMode = "append")(
        _.withColumn("click_ts",
            date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
          .withColumn("purchase_ts",
            date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")))),

    // Sixth streaming oracle row (round 13): STREAMING NEAR-dup dedup —
    // the minhash star collapse as a stateful stream. One pass derives
    // band keys + shingles per doc (no stream-stream self-join), band
    // buckets carry ONE keeper row of state each, every drop is
    // verified with exact shingle Jaccard in-state. Run to completion
    // under AvailableNow the drop set equals the batch star-link drop
    // set, which on this fixture equals brute-force keep-min at 0.95
    // (the exact equality the dedup_minhash_pairs collapse oracle
    // already proves green) — so the oracle is the keep-min survivor
    // SQL, an independent all-pairs restatement.
    "stream_dedup_near" -> ((s, dir) => {
      import s.implicits._
      val banded = Dedup.minhashBandedShingles(
          Sources.documentsStream(s, dir).select(col("doc_id"), col("text")))
        .as[graft.streaming.BandedShingleRow]
      runAvailableNow(s,
        StreamOps.nearDedupStream(banded, minJaccard = 0.95).toDF(),
        outputMode = "append", sinkWriteMode = "append")(links =>
        documents(s, dir).join(
            links.select(col("doc_id")).distinct(), Seq("doc_id"),
            "left_anti")
          .select("doc_id", "lang", "source", "n_chars"))
    }),

    // Streaming incremental IVF ingest (round 14, VERDICT item 5):
    // the quantizer is frozen from history (the full-corpus hash-init
    // centroids), HALF the corpus is already in the persisted cells,
    // and the other half arrives as a readStream file source pushed
    // through the stateless ivfAssign projection into an append sink —
    // the continuous form of nightly ivfAppend. Because assignment is
    // per-row deterministic against broadcast centroids (no shuffle,
    // no state), streamed-in cells ∪ batch cells == one-pass batch
    // assignment, so append-then-probe answers the SAME DuckDB oracle
    // as build-then-probe (similarity_ivf) — the stream leg is
    // hash-verified, not just shape-checked.
    "stream_ivf_append" -> ((s, dir) => scratch(s) { sc =>
      val index = cachedIvfHashInit(s, dir)
      val base = index.cells.filter(col("neighbor_id") % 2 === 0)
      val delta = availableNow(sc,
        Similarity.ivfAssign(index,
          Sources.embeddingsStream(s, dir)
            .filter(col("vec_id") % 2 === 1)),
        outputMode = "append", sinkWriteMode = "append")
      val qs = embeddings(s, dir).filter(col("vec_id") < 10)
      Similarity.ivfProbe(index.copy(cells = base.unionByName(delta)),
        qs, k = 10, nProbe = 4, roundAt = 6)
    }),

    // BM25 living index, streaming leg (round 15): the other half
    // arrives as a readStream file source mapped through the STATELESS
    // per-row postings projection (bm25PostingsStateless — term counts
    // from array functions inside the row, no shuffle, no state) into
    // an append sink; the landed delta merges into the standing index
    // and the probe answers text_bm25's oracle — the stream_ivf_append
    // recipe applied to retrieval: append-then-score == build-then-
    // score, hash-verified.
    "stream_bm25_append" -> ((s, dir) => scratch(s) { sc =>
      val docs = documents(s, dir)
      val base = TextFeatures.bm25Index(docs.filter(col("doc_id") % 2 === 0))
      val delta = availableNow(sc,
        TextFeatures.bm25PostingsStateless(
          Sources.documentsStream(s, dir).filter(col("doc_id") % 2 === 1)),
        outputMode = "append", sinkWriteMode = "append")
      val grown = TextFeatures.bm25MergePostings(base, delta)
      TextFeatures.bm25Probe(grown,
        docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"),
            col("text").as("query_text")),
        topK = 10, excludeSelf = true)
    }),
  )
}
