package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event row for stateful streaming ops (field names match the
  * `events` table). */
final case class SessionEvent(
    event_id: Long, user_id: Long, ts: java.sql.Timestamp)

/** Output of [[StreamOps.sessionizeStream]] — the batch
  * `operators.Events.sessionize` shape plus `session_start` (first
  * event time of the session): `(user_id, session_start)` is globally
  * unique even across state evictions, where the restarting
  * `session_idx` alone is not. */
final case class SessionizedEvent(
    event_id: Long, user_id: Long, ts: java.sql.Timestamp,
    session_idx: Long, session_start: java.sql.Timestamp)

/** Per-user session state carried across micro-batches. */
final case class SessionState(lastTsMs: Long, idx: Long, startMs: Long)

/** A CDC change event for [[StreamOps.mergeStream]]: upsert `key` to
  * `payload` (del = false) or delete it (del = true); `seq` is the
  * apply order (commit LSN / change position from the CDC source). */
final case class MergeEvent(
    key: Long, payload: String, del: Boolean, seq: Long)

/** Current snapshot row for `key` after applying a change — `deleted`
  * rows are tombstones the sink uses to drop the key. */
final case class MergeRow(key: Long, payload: String, deleted: Boolean)

/** Per-key merge state: latest payload + the seq it came from. */
final case class MergeState(payload: String, deleted: Boolean, seq: Long)

/** One (doc, band) row with the doc's distinct shingle set riding
  * along — [[graft.llm.Dedup.minhashBandedShingles]]'s shape, the
  * input of [[StreamOps.nearDedupStream]]. `sh` must be SORTED
  * (code-point order, `array_sort`'s) as well as distinct: the
  * keeper's per-pair verification is a merge scan over it (r16). */
final case class BandedShingleRow(doc_id: Long, sh: Seq[String], bk: Long)

/** A verified near-duplicate link emitted by
  * [[StreamOps.nearDedupStream]]: `doc_id` is attributed to the
  * earlier/smaller `kept_id` at exact shingle Jaccard `jaccard`. */
final case class NearDupLink(doc_id: Long, kept_id: Long, jaccard: Double)

/** Per-bucket keeper state for [[StreamOps.nearDedupStream]]: the
  * smallest doc id seen in the bucket so far, with its shingles.
  * ONE row of state per occupied band bucket — but occupied buckets
  * grow with the corpus (~`bands` per distinct document), so TOTAL
  * state is linear in distinct documents seen, like any keep-first
  * dedup; see [[StreamOps.nearDedupStream]]'s scale contract for the
  * two ways to bound it. */
final case class BucketKeeper(id: Long, sh: Seq[String])

/** One multiprobe row of a 64-bit Hamming fingerprint —
  * [[graft.llm.Dedup]]'s `multiprobeProbeKeysFlagged` shape and the
  * input of [[StreamOps.nearDedupHashStream]]: `bk` is the
  * `xxhash64(band, key)` bucket (exact 16-bit block key or a one-bit
  * flip of it), `exact` marks the 4 unflipped rows per doc. */
final case class BandedHashRow(
    doc_id: Long, simhash: Long, bk: Long, exact: Boolean)

/** A verified near-duplicate link from
  * [[StreamOps.nearDedupHashStream]]: `doc_id` sits within `hamming`
  * bits of the earlier/smaller `kept_id`'s fingerprint.
  *
  * NOT unique per (doc_id, kept_id): the keeper runs independently per
  * band bucket (that is what makes it shuffle-local and its state
  * linear), so a pair sharing several buckets emits one link per shared
  * bucket — an exact clone produces ~4 (one per band, more on probe
  * collisions), all with the same `hamming`. Consumers that need one
  * row per pair must `distinct` (or min-by-hamming) on
  * (doc_id, kept_id) at read-back, as the registered
  * `stream_phash_near` query does; drop-set consumers only need the
  * distinct `doc_id`s, which the multiplicity cannot change. */
final case class HashNearLink(doc_id: Long, kept_id: Long, hamming: Int)

/** Per-bucket state for [[StreamOps.nearDedupHashStream]]: the
  * DISTINCT fingerprints whose EXACT block key maps here, each with
  * the smallest doc id seen carrying it — the `exactBlockKeys`
  * history layout held as stream state (4 entries per distinct
  * fingerprint corpus-wide; clones collapse into one entry). */
final case class HashBucketEntries(entries: Map[Long, Long])

/** One (vector, LSH band) row — [[graft.llm.Dedup.embeddingBandedVecs]]'s
  * shape, the input of [[StreamOps.nearDedupCosineStream]]: `bk` is
  * one of the vector's hyperplane-signature table keys and `e` is the
  * vector itself, carried so in-state verification never re-reads the
  * corpus. */
final case class BandedVecRow(vec_id: Long, e: Seq[Double], bk: Long)

/** A verified near-duplicate link from
  * [[StreamOps.nearDedupCosineStream]]: `vec_id` is attributed to the
  * earlier/smaller `kept_id` at exact cosine ≥ the threshold. */
final case class VecNearLink(vec_id: Long, kept_id: Long)

/** Per-bucket keeper state for [[StreamOps.nearDedupCosineStream]]:
  * the smallest vec id seen in the bucket so far, with its vector —
  * [[BucketKeeper]]'s shape on the cosine modality. */
final case class VecBucketKeeper(id: Long, e: Seq[Double])

/** Structured-Streaming-first transforms. Each function is written
  * against the unified DataFrame API so the SAME code path serves batch
  * (driver verify/bench, DuckDB-oracle-checkable) and `readStream`
  * sources (ScalaTest drives it with a MemoryStream).
  */
object StreamOps {

  /** Event-time tumbling-window aggregation per event_type: event count
    * and (6dp-rounded) value sum. Pass `watermark` when the input is a
    * stream — late data beyond it is dropped and window state is
    * evicted, which is what bounds state size on an unbounded stream.
    *
    * Scale notes: one shuffle keyed by (window, event_type) with
    * map-side partial aggregation; the double sum is rounded because
    * partial-agg merge order is nondeterministic across partitions. */
  def windowedEventCounts(
      events: DataFrame,
      windowDur: String = "1 hour",
      watermark: Option[String] = None): DataFrame = {
    val in = watermark.fold(events)(w => events.withWatermark("ts", w))
    in.groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  /** Streaming cardinality profile: distinct users per
    * (event-time window, event_type) via HyperLogLog++ sketches — the
    * streaming twin of `operators.Events.cardinality`. The sketch path
    * is not a convenience here but a REQUIREMENT: exact distinct
    * aggregation is unsupported on streams (its per-group value set is
    * unbounded state), while HLL state is a fixed few KB per group,
    * mergeable across micro-batches, and evicted with the window once
    * the watermark passes. The same constraint is why `approx = true`
    * is the batch operator's documented 100 TB path — the stream just
    * makes it mandatory sooner.
    *
    * StreamingSpec asserts stream == batch on the same frame and pins
    * the sketch against the exact batch counts. */
  def cardinalityStream(
      events: DataFrame,
      windowDur: String = "1 day",
      watermark: Option[String] = None,
      rsd: Double = 0.05): DataFrame = {
    val in = watermark.fold(events)(w => events.withWatermark("ts", w))
    in.groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"), rsd).as("n_users"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("n_users"))
  }

  /** Streaming heavy hitters: the Misra–Gries sketch
    * ([[graft.functions.MisraGries]]) AS the streaming aggregation
    * state — live "top n-grams right now" over a document stream.
    *
    * The streaming engine maintains the aggregation buffer (one
    * `MgState`) in the state store and folds each micro-batch's
    * map-side partial sketch into it via the Aggregator's own
    * `merge` — exactly the mergeable-summaries algebra the persisted
    * batch workflow (`FrequentItems.merge`) runs, applied
    * incrementally. Unlike keep-first dedup (state ∝ distinct keys
    * seen, the [[nearDedupStream]] caveat), this state is GENUINELY
    * bounded on an unbounded stream: ≤ `capacity` counters total,
    * forever, with the classical retention/error bounds intact at any
    * stream length. That contrast is the point of the row: the sketch
    * family is the one whose streaming state needs no TTL, no RocksDB
    * escape hatch, no watermark — the bound is algebraic.
    *
    * In the exact regime (capacity ≥ distinct grams, `maxError` 0) the
    * final state is merge-order-independent, so the stream shares the
    * batch row's DuckDB oracle verbatim under any micro-batch split —
    * StreamingSpec drives a forced multi-batch MemoryStream against
    * the one-shot batch sketch. Complete output mode: each batch emits
    * the full current sketch row; the sink keeps the last.
    *
    * Input: a streaming `documents`-shaped frame; gram derivation is
    * the batch row's (word bigrams, codegen'd [[graft.functions.WordNgrams]]). */
  def heavyHittersStream(
      docs: DataFrame,
      capacity: Int,
      n: Int = 2): DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(capacity),
      org.apache.spark.sql.Encoders.STRING)
    docs
      .select(explode(
        graft.functions.WordNgrams(col("text"), n,
          strictFallback = false)).as("gram"))
      .filter(size(split(col("gram"), " ")) === n)
      .agg(mg(col("gram")).as("sk"))
  }

  /** Streaming KMV distinct-count: the bottom-k sketch
    * ([[graft.functions.BottomK]]) AS the streaming aggregation state —
    * live per-group "distinct users so far" with ≤ k entries of state
    * per group, forever.
    *
    * Strictly stronger twin-equality than [[heavyHittersStream]]'s:
    * MG's final state is merge-order-independent only in the EXACT
    * regime, so the MG stream shares the batch oracle only below
    * capacity. The bottom-k state is min-k of a SET — arrival order
    * and micro-batch boundaries can never change it, so the
    * COMPLETE-mode final sketch (and its estimate) equals the batch
    * sketch bit-for-bit in the APPROXIMATE regime too, at any split.
    * The registered row's DuckDB oracle restates the full estimator
    * from the raw table ((k−1)·2⁶⁰/h₍ₖ₎ over md5 hashes) — a streaming
    * approximate answer pinned hash-EXACT.
    *
    * State story: ≤ k hashes + payloads per group — algebraically
    * bounded like the MG row (no TTL/RocksDB contract needed), and the
    * estimate's relative error stays ~1/√(k−2) at ANY stream length. */
  def cardinalityKmvStream(
      events: DataFrame,
      k: Int = graft.functions.BottomK.DefaultK): DataFrame = {
    val bk = udaf(new graft.functions.BottomK(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble))
    events
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(bk(graft.functions.BottomK.hash64(col("user_id")), lit(0.0))
        .as("sk"),
        count(lit(1)).as("n_events"))
  }

  /** Count-Min AS the streaming aggregation state (the CMS leg of the
    * stream-twin set: MG heavy hitters, KMV cardinality, and now
    * per-key counts): tokenize the document stream and maintain the
    * (depth, bucket) counter matrix as a complete-mode groupBy —
    * state is capacity-bounded FOREVER at d×w counters regardless of
    * stream length or vocabulary growth (the MG property, without
    * even an eviction rule: counters only add). Counter addition is
    * batch-split-invariant, so the streamed sketch equals the batch
    * [[graft.operators.CountMin.sketch]] bit-for-bit at any
    * micro-batch split — which is why the registered row shares the
    * batch build's oracle VERBATIM. */
  def countMinStream(
      docs: DataFrame,
      depth: Int = 4,
      width: Int = 128,
      textCol: String = "text"): DataFrame =
    graft.operators.CountMin.sketch(
      docs.select(explode(
        filter(split(lower(col(textCol)), "[^\\p{L}\\p{N}]+"),
          w => length(w) > 0)).as("term")),
      col("term"), depth, width)

  /** Live retention: an event STREAM joined against a STATIC cohort
    * table (user_id → cohort_ts, e.g. the landed output of
    * `operators.Events.retention`'s cohort stage), counting distinct
    * active users per (cohort_day, day_offset) with HLL sketches —
    * "how is last week's signup cohort retaining, right now".
    *
    * Shape: the stream-static equi-join is STATELESS (the static side
    * broadcasts or hash-joins per micro-batch; no state store); the
    * only stateful operator is the windowless grouped aggregate, whose
    * per-group state is the fixed-KB HLL sketch (exact distinct is
    * unsupported on streams — same constraint as
    * [[cardinalityStream]]). Offsets before the cohort day are
    * dropped, matching the batch operator. */
  def retentionStream(
      events: DataFrame,
      cohorts: DataFrame,
      rsd: Double = 0.05): DataFrame =
    events.join(cohorts, "user_id")
      .withColumn("day_offset",
        datediff(to_date(col("ts")), to_date(col("cohort_ts"))))
      .filter(col("day_offset") >= 0)
      .groupBy(date_format(col("cohort_ts"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users"))

  /** Streaming exact dedup: keep the first arrival per content key
    * within the watermark horizon, REGARDLESS of each duplicate's own
    * timestamp — `dropDuplicatesWithinWatermark` keys state on
    * `keyCols` alone and evicts entries once the watermark passes
    * (plain `dropDuplicates(keys :+ ts)` would treat re-arrivals with
    * a different timestamp as new rows; unbounded keys without a
    * watermark are the classic streaming-dedup OOM). */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming curation: the batch [[graft.llm.Curate]] stage order on
    * an unbounded document stream. Quality scoring and language-id are
    * stateless codegen'd projections (they run unchanged on a stream);
    * exact dedup becomes `dropDuplicatesWithinWatermark` on the
    * content hash — state holds one entry per DISTINCT hash inside the
    * watermark horizon, which is what bounds it on an endless crawl.
    *
    * Keeper-rule divergence vs batch (inherent to streaming): batch
    * keeps the MIN doc id per hash; a stream keeps the FIRST ARRIVAL
    * (a later smaller id cannot retract an emitted row in append
    * mode). When arrival order is id order the outputs are identical
    * (asserted in StreamingSpec). Filters still run BEFORE the
    * stateful dedup, so rejected documents never enter state — the
    * same order-of-stages economics as the batch plan at 100 TB. */
  def curateStream(
      docs: DataFrame,
      minQuality: Double = 0.1,
      langs: Seq[String] = Seq("en"),
      textCol: String = "text",
      idCol: String = "doc_id",
      tsCol: String = "ingest_ts",
      watermark: String = "1 hour"): DataFrame = {
    graft.llm.Curate.scoredKept(docs, minQuality, langs, textCol)
      .withColumn("content_hash", graft.llm.Dedup.contentHash(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("content_hash"))
      .select(col(idCol), col("lang_pred"),
        round(col("quality_score"), 6).as("quality_score"),
        col("content_hash"))
  }

  /** Streaming decontamination — drop stream docs sharing any word
    * `n`-gram with a STATIC benchmark set, as a stream-static LEFT
    * ANTI join: STATELESS (no watermark, no state store, append mode),
    * the decontaminate-on-ingest shape. Semantics match the batch
    * [[graft.llm.Curate.decontaminate]] at `minShared = 1` (asserted
    * in StreamingSpec), including the strict short-doc rule.
    *
    * Scale: the join condition is `array_contains(grams, g)`, so each
    * micro-batch runs a broadcast nested-loop against the distinct
    * benchmark gram set — right for eval-suite-sized benchmarks (the
    * production case: thousands to low-millions of grams, broadcast
    * once and reused across batches). For benchmark sets past
    * broadcast size, decontaminate landed data with the batch
    * operator's hash equi-join instead; a stateless per-doc decision
    * cannot use the exploded equi-join shape (recovering doc ids from
    * exploded gram rows needs a stateful distinct). */
  def decontaminateStream(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // grams computed WITHOUT strictGrams' zero-gram row filter: a
    // punctuation-only doc has no grams, cannot be contaminated, and
    // must pass through — exactly what batch decontaminate does
    // (zero-token docs never enter its contamination report)
    val withGrams = docs.withColumn("grams",
      graft.functions.WordNgrams(col(textCol), n, strictFallback = true))
    withGrams
      .join(graft.llm.Curate.benchmarkGrams(benchmark, n, textCol, idCol),
        array_contains(col("grams"), col("g")), "left_anti")
      .drop("grams")
  }

  /** [[decontaminateStream]] with the broadcast-Bloom prefilter
    * ([[graft.llm.Curate.decontaminateBloom]]'s streaming twin): docs
    * whose grams all MISS the Bloom are provably clean (no false
    * negatives) and bypass the nested-loop benchmark join entirely;
    * only Bloom-positive docs pay the exact check, so per micro-batch
    * the expensive join touches true hits + fpp noise instead of every
    * doc. Output is bit-identical to [[decontaminateStream]] at any
    * fpp (spec'd at 0.5). Both branches are stateless projections /
    * stream-static joins, so their union is stateless too — watermark
    * semantics are unchanged.
    *
    * The per-doc Bloom test runs inside `exists` (a higher-order
    * function, interpreted) — fine here because it replaces a
    * nested-loop scan of the whole benchmark gram set with one hash +
    * probe per gram. */
  def decontaminateStreamBloom(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 8,
      fpp: Double = 0.01,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val bg = graft.llm.Curate.benchmarkGrams(benchmark, n, textCol, idCol)
    val hashed = bg.select(xxhash64(col("g")).as("h"))
    val expected = math.max(1L, hashed.count())
    val bloomB = docs.sparkSession.sparkContext.broadcast(
      hashed.stat.bloomFilter("h", expected, fpp))
    val withGrams = docs.withColumn("grams",
      graft.functions.WordNgrams(col(textCol), n, strictFallback = true))
    val maybe = exists(col("grams"), g =>
      graft.functions.BloomMightContain(xxhash64(g), bloomB))
    val clean = withGrams.filter(!maybe)
    val suspect = withGrams.filter(maybe)
      .join(bg, array_contains(col("grams"), col("g")), "left_anti")
    clean.unionByName(suspect).drop("grams")
  }

  /** Stateful streaming sessionization via `flatMapGroupsWithState` —
    * the custom-state path the built-in windowed aggregates can't
    * express. Semantics match the batch `Events.sessionize` (gap rule
    * on second-truncated timestamps, 1-based per-user index) when
    * events arrive in event-time order per user (in-batch disorder is
    * sorted; cross-batch disorder is the streaming caveat).
    *
    * Scale notes: state is ONE fixed-size record per live user
    * (lastTs, idx) hash-partitioned by user_id; the event-time timeout
    * evicts users idle past their session gap once the watermark
    * passes, so state size tracks ACTIVE users, not all users ever
    * seen.
    *
    * Known batch divergence (inherent to eviction): once a user's
    * state is evicted, their next event restarts `session_idx` at 1,
    * while the batch operator keeps counting — `(user_id,
    * session_idx)` is only unique within one state lifetime. The
    * output therefore carries `session_start` (the session's first
    * event time): a restarted counter necessarily starts a NEW
    * session at a later timestamp, so `(user_id, session_start)` is
    * globally unique across evictions. Keeping the counter itself
    * across evictions would mean never evicting, i.e. unbounded
    * state. */
  /** Streaming CDC merge — [[graft.operators.Merge.upsert]] as a
    * continuously-maintained snapshot instead of a batch rebuild: each
    * micro-batch of change events updates per-key state and emits the
    * key's new current row (tombstone rows carry `deleted = true` so
    * an idempotent sink can drop the key). Late/duplicate deliveries
    * are handled by `seq` (the CDC source's commit position): within a
    * batch events apply in seq order, and an event at or below the
    * key's applied seq is a stale redelivery and is ignored — so the
    * operator is exactly-once-equivalent under at-least-once delivery.
    *
    * State is the snapshot itself (one entry per live key), so it is
    * bounded by key-space size, not stream length — the correct shape
    * for snapshot maintenance, sized for the RocksDB state store in
    * production. No timeout: a key's current value never expires.
    * Deleted keys keep a tombstone entry (the seq guard needs it to
    * reject a stale pre-delete redelivery); a source whose seqs are
    * globally ordered can compact tombstones downstream. */
  def mergeStream(updates: Dataset[MergeEvent]): Dataset[MergeRow] = {
    import updates.sparkSession.implicits._
    updates
      .groupByKey(_.key)
      .flatMapGroupsWithState[MergeState, MergeRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (key: Long, it: Iterator[MergeEvent],
            state: GroupState[MergeState]) =>
          val sorted = it.toArray.sortBy(_.seq)
          var cur = state.getOption.getOrElse(null)
          var changed = false
          sorted.foreach { e =>
            if (cur == null || e.seq > cur.seq) {
              cur = MergeState(e.payload, e.del, e.seq)
              changed = true
            }
          }
          if (changed) {
            state.update(cur)
            Iterator.single(MergeRow(key, cur.payload, cur.deleted))
          } else Iterator.empty
      }
  }

  def sessionizeStream(
      events: Dataset[SessionEvent],
      gapMinutes: Int = 30,
      watermark: String = "1 hour"): Dataset[SessionizedEvent] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionizedEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user: Long, it: Iterator[SessionEvent],
            state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toArray.sortBy(_.ts.getTime)
            if (sorted.isEmpty) Iterator.empty
            else {
              var (last, idx, start) = state.getOption
                .map(s => (s.lastTsMs, s.idx, s.startMs))
                .getOrElse((Long.MinValue, 0L, Long.MinValue))
              val out = sorted.map { e =>
                val gapExceeded = last == Long.MinValue ||
                  e.ts.getTime / 1000L - last / 1000L > gapMinutes * 60L
                if (gapExceeded) { idx += 1; start = e.ts.getTime }
                last = e.ts.getTime
                SessionizedEvent(e.event_id, user, e.ts, idx,
                  new java.sql.Timestamp(start))
              }
              state.update(SessionState(last, idx, start))
              state.setTimeoutTimestamp(last + gapMs)
              out.iterator
            }
          }
      }
  }

  /** STREAMING near-duplicate dedup — the minhash star collapse
    * ([[graft.llm.Dedup.minhashStarFromBandKeys]]) as a stateful
    * stream: banded rows group by band bucket, and each doc verifies
    * (exact shingle Jaccard, [[graft.llm.Dedup.ngramJaccard]]'s
    * arithmetic bit-for-bit) against its bucket's KEEPER — the
    * smallest id seen so far, carried across micro-batches as ONE
    * state row per occupied bucket — and against its in-batch bucket
    * PREDECESSOR (id order; the chain link that keeps replica groups
    * connected when a coincidental bucket-mate shadows the min).
    * Emits verified (doc_id, kept_id, jaccard) links, append mode;
    * survivors = docs minus the distinct link doc_ids.
    *
    * Scale contract: per-row WORK is bounded (≤ 2 verifications, no
    * pair self-join anywhere — at any duplication rate the replica
    * mass is attributed in linear time), but per-bucket STATE is not a
    * corpus-size bound: each distinct document occupies ~`bands` (16)
    * buckets and its keeper rows carry the full distinct shingle set,
    * so total state grows linearly with distinct documents seen —
    * exactly like the exact [[dedupStream]]'s key set, only heavier
    * per entry. Two ways to run it forever: (a) pass `ttl` to dedup
    * against a bounded RECENT-HISTORY horizon (the
    * `dropDuplicatesWithinWatermark` analog): a bucket idle past the
    * TTL is evicted, and a later near-duplicate of an evicted keeper
    * re-emits as a NEW keeper — not a drop (eviction semantics pinned
    * in StreamingSpec). With a TTL, run the query under a real
    * `Trigger.ProcessingTime` interval: processing-time timeouts make
    * the engine re-batch continuously to check expiry, and the default
    * 0ms trigger busy-loops empty micro-batches (thousands of state
    * versions per minute, enough to wedge checkpoint maintenance).
    * Those perpetual timeout-check batches also mean `noNewData` never
    * latches, so `processAllAvailable()` never returns on a TTL'd
    * query — await committed source offsets or use
    * `Trigger.AvailableNow` + `awaitTermination` instead;
    * (b) for full-corpus history, run the RocksDB
    * state store provider so state lives off-heap on disk — the same
    * production contract [[mergeStream]] documents for its snapshot
    * state; StreamingSpec runs this keeper machine under the RocksDB
    * provider (drop-set equality + a cross-batch state reload), so the
    * at-scale path is tested, not just named.
    *
    * Semantics: KEEP-FIRST by arrival, keep-min within a batch (the
    * group iterator is sorted by id). Run under Trigger.AvailableNow
    * over a corpus — one batch, ids sorted — the drop set equals the
    * batch star-link drop set, which the registered row's brute-force
    * keep-min DuckDB oracle pins exactly (the dedup_minhash_pairs
    * collapse-equality precedent). Across live micro-batches a
    * later-arriving smaller id becomes the new keeper without
    * retroactively dropping the old one — the keep-first contract
    * every streaming dedup has ([[dedupStream]]'s exact analog). */
  def nearDedupStream(
      banded: Dataset[BandedShingleRow],
      minJaccard: Double = 0.95,
      ttl: Option[String] = None): Dataset[NearDupLink] = {
    import banded.sparkSession.implicits._
    // r16 (verdict item 6): the batch family's r15 verify savings,
    // threaded into the streaming keeper. `sh` arrives SORTED-distinct
    // (minhashBandedShingles array_sorts it), so the per-pair
    // intersect is a zero-allocation merge scan — the
    // SortedIntersectCount kernel restated over JVM strings. The
    // comparator must match the order the arrays were sorted in:
    // array_sort sorts by UTF8String BYTE order == CODE-POINT order,
    // which String.compareTo diverges from on supplementary
    // characters — compare code points, not UTF-16 code units.
    def codePointCmp(a: String, b: String): Int = {
      var i = 0
      var j = 0
      while (i < a.length && j < b.length) {
        val ca = a.codePointAt(i)
        val cb = b.codePointAt(j)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca)
        j += Character.charCount(cb)
      }
      Integer.compare(a.length - i, b.length - j)
    }
    def jac(a: Seq[String], b: Seq[String]): Double = {
      val av = a.toIndexedSeq
      val bv = b.toIndexedSeq
      var i = 0
      var j = 0
      var inter = 0
      while (i < av.length && j < bv.length) {
        val c = codePointCmp(av(i), bv(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      val uni = av.length + bv.length - inter
      if (uni == 0) 0.0 else inter.toDouble / uni
    }
    // exact size prescreen (the batch verify's bound): J = I/(|A|+|B|−I)
    // with I ≤ min gives J ≤ min/max — a pair failing min ≥ τ·max can
    // never qualify and skips the merge scan entirely. On a
    // near-identical-replica stream at τ = 0.95 this discards every
    // coincidental bucket-mate for two size reads.
    def canReach(a: Seq[String], b: Seq[String]): Boolean =
      math.min(a.size, b.size).toDouble >=
        minJaccard * math.max(a.size, b.size)
    keeperChainStream[BandedShingleRow, Seq[String], BucketKeeper,
        NearDupLink](banded, ttl, _.bk, r => (r.doc_id, r.sh),
        BucketKeeper(_, _), k => (k.id, k.sh)) { (id, sh, cid, csh) =>
      if (!canReach(sh, csh)) None
      else Some(jac(sh, csh)).filter(_ >= minJaccard)
        .map(NearDupLink(id, cid, _))
    }
  }

  /** The keeper+predecessor machine under [[nearDedupStream]] and
    * [[nearDedupCosineStream]]: rows group by band key (`bucket`); per
    * bucket, each row in id order — as an `(id, payload)` `entry` —
    * is checked by `verify(id, payload, candidate id, candidate
    * payload)` against the bucket's KEEPER (min id seen, carried in
    * state as `S`) and its in-batch PREDECESSOR, whichever have a
    * smaller id. Emits every verified link, append mode. With `ttl`, a
    * bucket idle past the horizon evicts its keeper (a later near-dup
    * of it re-enters as a fresh keeper); any batch touching the bucket
    * renews the horizon. */
  private def keeperChainStream[R, P, S: Encoder, O: Encoder](
      banded: Dataset[R],
      ttl: Option[String],
      bucket: R => Long,
      entry: R => (Long, P),
      toKeeper: (Long, P) => S,
      fromKeeper: S => (Long, P))(
      verify: (Long, P, Long, P) => Option[O]): Dataset[O] = {
    import banded.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded.groupByKey(bucket)
      .flatMapGroupsWithState[S, O](OutputMode.Append, timeoutConf) {
        case (_, it: Iterator[R], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[O]
            var keeper = state.getOption.map(fromKeeper)
            var prev: Option[(Long, P)] = None
            it.map(entry).toVector.sortBy(_._1).foreach { case d @ (id, p) =>
              (keeper.toSeq ++ prev.toSeq).filter(_._1 < id).distinctBy(_._1)
                .foreach { case (cid, cp) => out ++= verify(id, p, cid, cp) }
              if (keeper.forall(_._1 > id)) keeper = Some(d)
              prev = Some(d)
            }
            keeper.foreach { case (kid, kp) =>
              state.update(toKeeper(kid, kp))
              ttl.foreach(state.setTimeoutDuration)
            }
            out.iterator
          }
      }
  }

  /** STREAMING Hamming near-duplicate dedup — the image/simhash
    * modality's keeper machine ([[nearDedupStream]] is the Jaccard
    * twin): multiprobe rows group by bucket, EXACT presences register
    * `fingerprint → min doc id` entries in the bucket's state, and
    * every row (exact or flipped probe) verifies against the
    * registered entries by full 64-bit `bit_count` Hamming. Emits
    * verified (doc_id, kept_id, hamming) links, append mode;
    * survivors = corpus minus the distinct link doc_ids.
    *
    * Unlike the Jaccard keeper (keeper + predecessor chain, drop-set
    * equality with brute-force keep-min is a FIXTURE property there),
    * this machine's drop set equals brute-force keep-min EXACTLY —
    * by construction, PROVIDED ids are seen in order (one batch under
    * `Trigger.AvailableNow`, where the group iterator is id-sorted,
    * or any id-ordered arrival): a pair c < d within `maxHamming` ≤ 7
    * has a 16-bit block differing in ≤ 1 bit (pigeonhole), so some
    * bucket holds c's EXACT key met by d's probe set — c's entry
    * (min id ≤ c < d) is registered when d arrives, and the
    * full-Hamming check admits exactly the true pairs; no chain
    * escapes, unlike the predecessor-chain twin. Conversely every
    * emitted link is re-verified against real fingerprints, so no
    * false drops. Across LIVE micro-batches with out-of-id-order
    * arrival the contract degrades to the same KEEP-FIRST every
    * streaming dedup here has ([[dedupStream]], [[nearDedupStream]]):
    * a later-arriving smaller id takes over the entry without
    * retroactively dropping the earlier larger one (StreamingSpec
    * pins exactly this). `xxhash64` bucket collisions only ADD
    * verification work, never lose a pair.
    *
    * Scale contract: per-row WORK is the bucket's distinct-entry
    * count (the same candidate volume the batch multiprobe join
    * enumerates — 65,536-key buckets keep it ~n/2¹⁶ per band on n
    * distinct fingerprints); per-bucket STATE holds one (long, long)
    * entry per distinct fingerprint exact-keyed here — 4 entries per
    * distinct image corpus-wide, 17× less than registering probe
    * rows, and clones collapse into their entry instead of growing
    * it (the heavier Jaccard keeper carries full shingle sets).
    * Run-forever options are [[nearDedupStream]]'s verbatim: `ttl`
    * evicts idle buckets (a later near-dup of an evicted fingerprint
    * re-enters as a fresh keeper), or the RocksDB state store
    * provider for full-corpus history (StreamingSpec runs both).
    *
    * Ids must be globally unique; docs must emit their full probe set
    * ([[graft.llm.Dedup.multiprobeProbeKeysFlagged]] /
    * [[graft.llm.Multimodal.dHashStreamBanded]]) — exact-only rows
    * would silently halve recall to per-block equality. */
  def nearDedupHashStream(
      banded: Dataset[BandedHashRow],
      maxHamming: Int = 2,
      ttl: Option[String] = None): Dataset[HashNearLink] = {
    import banded.sparkSession.implicits._
    require(maxHamming >= 0 && maxHamming <= 7,
      s"nearDedupHashStream: multiprobe banding guarantees recall only " +
        s"for maxHamming <= 7, got $maxHamming")
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded.groupByKey(_.bk)
      .flatMapGroupsWithState[HashBucketEntries, HashNearLink](
        OutputMode.Append, timeoutConf) {
        case (_, it: Iterator[BandedHashRow],
            state: GroupState[HashBucketEntries]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // one logical presence per doc in this bucket: a doc's
            // exact key and a flip of another block can hash-collide
            // into the same bucket — fold to (fingerprint, any exact)
            val docs = it.toArray.groupBy(_.doc_id).iterator
              .map { case (id, rows) =>
                (id, rows.head.simhash, rows.exists(_.exact))
              }
              .toArray.sortBy(_._1)
            var entries = state.getOption
              .map(_.entries).getOrElse(Map.empty[Long, Long])
            val out =
              scala.collection.mutable.ArrayBuffer.empty[HashNearLink]
            docs.foreach { case (id, sim, isExact) =>
              entries.foreach { case (h, minId) =>
                if (minId < id) {
                  val ham = java.lang.Long.bitCount(sim ^ h)
                  if (ham <= maxHamming) out += HashNearLink(id, minId, ham)
                }
              }
              if (isExact && entries.getOrElse(sim, Long.MaxValue) > id)
                entries = entries.updated(sim, id)
            }
            if (entries.nonEmpty) {
              state.update(HashBucketEntries(entries))
              // any batch touching the bucket renews its horizon
              ttl.foreach(state.setTimeoutDuration)
            }
            out.iterator
          }
      }
  }

  /** STREAMING cosine near-duplicate dedup — the EMBEDDING modality's
    * keeper machine, completing the streaming dedup quartet (exact
    * [[dedupStream]], Jaccard [[nearDedupStream]], Hamming
    * [[nearDedupHashStream]], cosine here): hyperplane-LSH banded
    * rows group by bucket, each vector verifies by EXACT cosine
    * against the bucket's KEEPER (min id seen, vector carried in
    * state) and its in-batch PREDECESSOR — the [[nearDedupStream]]
    * keeper+predecessor chain verbatim, with a dot-product loop where
    * the Jaccard twin runs a merge scan. Emits verified
    * (vec_id, kept_id) links, append mode; survivors = corpus minus
    * the distinct link vec_ids.
    *
    * Semantics are the Jaccard keeper's verbatim: KEEP-FIRST by
    * arrival, keep-min within a batch; run under Trigger.AvailableNow
    * the drop set equals the batch star-link drop set, which equals
    * brute-force keep-min on fixtures where LSH recall is complete at
    * the threshold (the dedup_embedding_pairs precedent: at
    * cosine ≥ 0.99 and 4×12-bit seeded tables the per-pair miss
    * probability is ~1e-8, and every pair's cosine sits far from the
    * threshold so a JVM dot-product loop and the oracle's
    * list_cosine_similarity classify identically despite summation-
    * order ulps). Scale contract: per-row WORK is ≤ 2 verifications
    * (each one O(dim)); per-bucket STATE is one keeper row carrying a
    * dim-double vector, ~`numTables` buckets per distinct vector —
    * linear in distinct vectors seen, the [[nearDedupStream]] growth
    * law with a fixed-size payload instead of a shingle set. The same
    * two run-forever options apply (`ttl` horizon / RocksDB provider). */
  def nearDedupCosineStream(
      banded: Dataset[BandedVecRow],
      minCosine: Double = 0.99,
      ttl: Option[String] = None): Dataset[VecNearLink] = {
    import banded.sparkSession.implicits._
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val av = a.toArray
      val bv = b.toArray
      // a ragged/corrupt embedding is a DATA ERROR, not a far vector —
      // folding it into "not a near-dup" would let a corrupt duplicate
      // quietly survive dedup. NOTE this in-state check only fires
      // when the ragged vector shares a bucket with another row
      // (collision-dependent); the DETERMINISTIC per-row screen is
      // [[graft.llm.Dedup.embeddingBandedVecs]]'s `dim` parameter at
      // stream ingest — pass it there; this require is defense in
      // depth for callers that didn't.
      require(av.length == bv.length,
        s"nearDedupCosineStream: embedding dimension mismatch " +
          s"(${av.length} vs ${bv.length}) — fix the ragged input " +
          s"upstream; it cannot be classified as a non-duplicate")
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < av.length) {
        dot += av(i) * bv(i); na += av(i) * av(i); nb += bv(i) * bv(i)
        i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) -1.0 else dot / d
    }
    keeperChainStream[BandedVecRow, Seq[Double], VecBucketKeeper,
        VecNearLink](banded, ttl, _.bk, r => (r.vec_id, r.e),
        VecBucketKeeper(_, _), k => (k.id, k.e)) { (id, e, cid, ce) =>
      Option.when(cos(e, ce) >= minCosine)(VecNearLink(id, cid))
    }
  }

  /** Stream-stream interval join (ad attribution): pair each click
    * with every purchase by the SAME user at-or-after the click and
    * within `horizonMinutes` of it. On two unbounded streams this is
    * the canonical stream-stream inner join: both sides must carry a
    * watermark AND the join must bound event time on both sides (the
    * range condition below), or neither side's buffered state could
    * ever be evicted — Spark rejects the un-bounded form in append
    * mode outright. With both bounds the state store holds only rows
    * inside `watermark + horizon` of the stream head, which is what
    * makes the join runnable forever.
    *
    * Batch twin: identical code (watermark = None); Catalyst plans the
    * user_id equi-join with the time range as a residual filter — one
    * hash Exchange per side, NO nested loop and NO bucketing needed,
    * unlike the keyless [[graft.operators.RangeJoin]] case where the
    * range predicate is all there is. Registered as
    * `events_attribution` with a plain inequality-join DuckDB oracle.
    */
  def attributionJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      horizonMinutes: Int = 60,
      watermark: Option[String] = None): DataFrame = {
    val c0 = clicks.select(col("event_id").as("click_id"),
      col("user_id"), col("ts").as("click_ts"))
    val p0 = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("purchase_user"), col("ts").as("purchase_ts"))
    val (c, p) = watermark.fold((c0, p0))(w =>
      (c0.withWatermark("click_ts", w),
        p0.withWatermark("purchase_ts", w)))
    c.join(p,
      col("user_id") === col("purchase_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <=
          col("click_ts") + expr(s"INTERVAL $horizonMinutes MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))
  }
}
