package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.features._
import graft.llm._
import graft.operators.{Events, Profile, RangeJoin, Relational, Sketches, Skew}
import graft.sources.Sources
import graft.streaming.StreamOps
import graft.SparkEntry._

/** The dedup family (exact / minhash / simhash / embedding / semantic / cdc passage / edit / line / substring, with their incremental twins) — one slice of [[SparkEntry.queries]].
  *
  * Registration bodies are the pre-split [[SparkEntry]] map entries
  * moved VERBATIM (r16 verdict item 7: the per-family OracleSql file
  * pattern applied to the query registry, which had regrown to 3,200+
  * lines). Shared fixtures/harnesses stay on [[SparkEntry]] as
  * private[graft] members, wildcard-imported here, so the bodies did
  * not change; [[SparkEntry.queries]] assembles the slices and pins
  * key-disjointness. */
private[graft] object EntryQueriesDedup {
  // Seq, not Map (r17 advice #5): a key accidentally registered twice
  // in ONE literal would silently last-wins inside a Map before any
  // disjointness check could see it; as a Seq the duplicate survives
  // to SparkEntry.queries' require, which fails loudly.
  def entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // --------------------------------------------- §7 LLM-pipeline: dedup
    // Registered shape is keeper-ids-only, so the groupBy fast path
    // applies (same rows as the window variant at ~1/5 the cost; the
    // window path stays oracle-covered end-to-end through llm_curate).
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactKeepers(documents(s, dir))),
    "dedup_exact_groups" -> ((s, dir) =>
      Dedup.exactGroups(documents(s, dir))),
    // The exact-Jaccard verification stage over a deterministic
    // candidate set (all consecutive id pairs) — this oracles the
    // shingling + set-Jaccard arithmetic that minhash/simhash pairs
    // rely on, so only their (seeded) CANDIDATE GENERATION is left to
    // invariant tests.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val docs = documents(s, dir)
      val pairs = docs.select(col("doc_id").as("id_a"),
        (col("doc_id") + 1).as("id_b"))
      Dedup.ngramJaccard(docs, pairs)
        .withColumn("jaccard", round(col("jaccard"), 6))
    }),
    // Connected components over a DETERMINISTIC edge set: the
    // consecutive-id pairs whose (oracle-proven) n-gram Jaccard clears
    // the threshold. Min-label propagation has an exact DuckDB twin
    // (recursive reachability + min), so the one iterative-graph
    // operator family gets an oracle-EXACT row.
    //
    // The fixture corpus has no consecutive-id pair with jaccard ≥ 0.5
    // (checked at sf0.01 — the natural edge set is EMPTY, which made the
    // r4-r6 row vacuously green on 0 vs 0 rows). So a 3-doc near-dup
    // CHAIN is planted in-flight (the llm_decontaminate planted-copy
    // pattern): consecutive planted texts share 3 of 5 distinct
    // 3-shingles (jaccard 0.6), ids 2000000-2000002 are consecutive so
    // both chain edges enter the candidate set, and the ends of the
    // chain are NOT direct candidates — the oracle now proves 2-hop
    // transitive min-label propagation, not just edge discovery.
    "dedup_components" -> ((s, dir) => {
      import s.implicits._
      val planted = Seq(
        (2000000L, "alpha beta gamma delta epsilon zeta"),
        (2000001L, "alpha beta gamma delta epsilon eta"),
        (2000002L, "alpha beta gamma delta epsilon theta"))
        .toDF("doc_id", "text")
      val docs = documentsSpread(s, dir).select(col("doc_id"), col("text"))
        .unionByName(planted)
      val pairs = docs.select(col("doc_id").as("id_a"),
        (col("doc_id") + 1).as("id_b"))
      val edges = Dedup.ngramJaccard(docs, pairs)
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b")
      Dedup.connectedComponents(edges)
    }),
    // LSH sketch paths. minhash gets a BRUTE-FORCE oracle: all-pairs
    // 3-gram Jaccard ≥ 0.2 in DuckDB — exact because the seeded
    // banding finds every qualifying pair on this fixture (verified;
    // deterministic seed ⇒ stable), so the row now also guards RECALL,
    // not just schema. simhash (r9) gets a FULL-FIDELITY oracle: the
    // xxhash64 token lanes ARE re-implemented in DuckDB SQL (HUGEINT
    // mod-2^64 XXH64 + Charikar bit-vote + banded-Hamming join — see
    // the oracleSql entry), so the row guards the exact fingerprint
    // arithmetic AND banding recall — necessary because the fixture's
    // Hamming ≤ 3 set contains two coincidental collisions (Jaccard
    // 0.0) no text-similarity proxy could reproduce.
    // Registered in the PRODUCTION star-first shape (round 13, the
    // minhash analog of r12's simhash retirement — the last registered
    // quadratic mechanism): verified star links collapse the
    // near-identical replica mass at Jaccard >= 0.95 first (one sorted
    // window pass over band keys — linear at any duplication rate),
    // then the banded pair self-join runs over the replica-free
    // SURVIVORS only — the C(m,2) expansion per replica group
    // (measured 12x at 10x data on the r11 rehearsal) can no longer
    // occur on the full corpus. The raw-corpus Dedup.minhashPairs
    // stays the exhaustive ground truth, exercised un-benched in
    // DedupSpec (star-first == it restricted to survivors, and the
    // star drop set == its keep-min drop set with zero escapes on the
    // replicated fixture). The collapse is TIGHTER (0.95) than the
    // enumeration (0.2) — the production split: only near-identical
    // replicas collapse silently; looser similarity still surfaces as
    // pair rows (1 row at sf0.01 — the fixture's single sub-0.95
    // qualifying pair; the other 24 are replica mass the collapse
    // already attributed).
    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairsStarFirst(documentsSpread(s, dir), minJaccard = 0.2,
        collapseJaccard = 0.95)),
    // The deployment composition end-to-end: banded candidates →
    // exact-Jaccard verify → connected components → keep the smallest
    // id per near-dup CLUSTER (transitively: A~B~C drops B and C even
    // when A≁C directly). The oracle rebuilds the same answer from
    // brute-force all-pairs Jaccard + a recursive-CTE closure, so
    // banding recall, the component algebra and the anti-join are all
    // hash-verified as one unit (dedup_components pins the CC operator
    // on a planted chain; this row pins the COMPOSITION on the corpus).
    // Star-first (r13): cluster edges = verified star links UNION the
    // banded pairs among collapse survivors, both at the cluster
    // threshold — every edge is still a true pair, so components can
    // only REFINE the raw relation's (extra keepers on a star escape,
    // never a wrong merge), and on this fixture the keep set is
    // IDENTICAL to the raw path's (oracle unchanged — the brute-force
    // closure still pins banding recall, component algebra and the
    // anti-join end-to-end). Raw minhashConnected stays the un-benched
    // ground truth (DedupSpec).
    "dedup_minhash_clusters" -> ((s, dir) =>
      Dedup.minhashConnectedStarFirst(documentsSpread(s, dir), minJaccard = 0.2)
        .select("doc_id", "lang", "source", "n_chars")),
    // Same clusters, production keep rule: the LONGEST member survives
    // (ties to the smaller id) instead of the smallest id — the
    // "keep the best copy" policy real dedup ships. The oracle swaps
    // only the keep rule (argmax over the closure's components).
    // Same star-first edge set, production keep rule (longest member,
    // ties to the smaller id). Collapsed docs remain cluster MEMBERS
    // via their star links, so a high-quality replica can still win —
    // keep policy identical to the raw path; oracle unchanged.
    "dedup_minhash_clusters_best" -> ((s, dir) =>
      Dedup.minhashConnectedBestStarFirst(documentsSpread(s, dir),
        scoreCol = "n_chars", minJaccard = 0.2)
        .select("doc_id", "lang", "source", "n_chars")),
    // SOFT dedup (round 18): the same cluster structure emitted as
    // per-doc TRAINING WEIGHTS (1 / cluster_size, 6dp-floor) instead
    // of a drop set — a clique of n near-copies keeps all members but
    // contributes one doc's gradient mass. Same star-first edge set
    // and components as dedup_minhash_clusters, so the oracle is that
    // row's recursive closure + a size fold; singletons weigh 1.
    "dedup_cluster_weights" -> ((s, dir) =>
      Dedup.minhashClusterWeights(documentsSpread(s, dir), minJaccard = 0.2)),
    // Registered in the PRODUCTION star-first shape (round 12, retiring
    // the r11 sf1 weak flag): star-collapse the replica mass first
    // (linear at any duplication rate), then the banded pair self-join
    // over the replica-free SURVIVORS only — the C(m,2) pair expansion
    // that went 32× at 10× data on the ~90%-duplicated rehearsal corpus
    // can no longer occur on the full corpus (PlanAuditSpec asserts the
    // collapse anti-join sits below the pair join). The raw-corpus
    // quadratic form stays available as Dedup.simhashPairs — the
    // exhaustive ground truth, exercised un-benched in DedupSpec (the
    // star-first relation == it restricted to survivors). The oracle
    // restates the full composition: fingerprints → star links → drop
    // set → brute-force survivor pairs (exact by pigeonhole: Hamming
    // ≤ 3 < 4 bands, ±1 salt covers len-delta ≤ 1). The collapse is
    // TIGHTER than the enumeration (Hamming ≤ 2 replicas collapse,
    // ≤ 3 pairs among survivors are enumerated) — the production
    // split: pair rows are only worth emitting where they carry
    // information a keep-min collapse hasn't already consumed, and it
    // keeps the row non-vacuous on this fixture (4 rows at sf0.01;
    // equal thresholds leave 1).
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairsStarFirst(documents(s, dir), maxHamming = 3,
        collapseHamming = 2)),
    // Star-reduced simhash linking (round 11, the sf1 rehearsal fix):
    // on a 10×-replicated sf0.1 corpus the pair self-join is quadratic
    // in the duplication rate (simhash_verified 3.3 s → 438 s); the
    // star path replaces it with ONE sorted window pass over banded
    // rows (prefix-min + predecessor links) — linear at any dup rate —
    // and drops the same keep-min set as the pair path on the
    // replicated fixture (DedupSpec). Oracle restates the exact
    // banding + linking + Hamming mechanics.
    "dedup_simhash_star" -> ((s, dir) =>
      Dedup.simhashStar(documents(s, dir), maxHamming = 3)),
    // simhash candidates + exact-Jaccard verification, registered in
    // the PRODUCTION star-first shape. Round 13 sharpened the r12
    // recipe: the r12 collapse ran TIGHTER than the enumeration
    // (Hamming ≤ 3, Jaccard-unverified), and the sf1 re-rehearsal
    // caught its failure mode — replicas at Hamming 4-6 half-survived
    // the collapse and the banded self-join over 23 k semi-replicated
    // survivors emitted 650 k candidates (101 s, the quadratic
    // mechanism half-returned). Now: star links at the FULL
    // enumeration thresholds (8 bands, ≤ 6), each link verified with
    // exact n-gram Jaccard BEFORE it can drop anyone (drop decisions
    // are text facts, never sketch guesses), candidates + verify over
    // the truly replica-free survivors. The oracle composes the exact
    // 8-band star mechanics with the same Jaccard bar and the
    // brute-force all-pairs relation over the survivors — exact on
    // this fixture: every qualifying pair measured Hamming ≤ 5 and
    // len-bucket delta ≤ 1, inside maxHamming=6 / bands=8 / ±1 salt
    // replication, and restricting to survivors preserves that margin.
    // Raw-corpus Dedup.simhashVerified stays the un-benched
    // brute-force validation baseline (DedupSpec).
    "dedup_simhash_verified" -> ((s, dir) =>
      Dedup.simhashVerifiedStarFirst(documentsSpread(s, dir), minJaccard = 0.5)),
    // Incremental dedup: the batch tail (last decimal-digit ids) deduped
    // against the keeper hashes of the historical 80% — the same split
    // both engines can compute, so the anti-join is oracle-exact.
    "dedup_incremental" -> ((s, dir) => {
      val docs = documents(s, dir)
      Dedup.exactIncremental(
        docs.filter(col("doc_id") % 10 >= 8),
        Dedup.exactKeepers(docs.filter(col("doc_id") % 10 < 8)))
    }),
    // Incremental near-dup twins, same % 10 batch/history split.
    // Both now carry BRUTE-FORCE oracles (all-pairs similarity rules in
    // DuckDB): exact because the seeded candidate generation finds
    // every qualifying pair on this fixture — the rows guard the full
    // survivor semantics including recall. Deterministic: seeded
    // hashes + explicit knobs (no auto-count dependence).
    // Registered in the PRODUCTION shape: history band keys are
    // persisted bucketed by `bk` and the candidate join consumes the
    // table — zero history-side Exchange (the at-scale point of the
    // incremental twins; the recompute-history convenience path stays
    // covered by DedupSpec). Same results as the in-query path — the
    // table holds exactly what minhashBandKeys/embeddingBandKeys emit.
    // Star-first (r13): the WITHIN-BATCH self-join — the C(m,2)
    // mechanism when a batch carries replica groups — is replaced by
    // verified star links over the batch band keys; the cross join
    // consumes only within-survivors. History mechanics unchanged
    // (persisted bucketed bands, zero history-side Exchange). Within-
    // star coverage is complete on this fixture, so the brute-force
    // oracle is unchanged; raw minhashIncremental stays the ground
    // truth in DedupSpec.
    // ... and the SIMHASH incremental twin (r16, the incremental
    // family's last modality gap — exact/minhash/embedding/phash all
    // had one): history persists only its exact 16-bit block keys
    // (4 rows/doc, xxhash64(band,key) longs bucketed by bk — zero
    // history-side Exchange, history text never re-tokenized), the
    // batch probes exact+16-flip keys and verifies by bit_count on
    // carried fingerprints. Unsalted multiprobe = pure Hamming
    // semantics, so the oracle is the brute-force NOT EXISTS rules
    // over the fpl fingerprint CTE — exact recall to hamming <= 7.
    "dedup_simhash_incremental" -> ((s, dir) => scratch(s) { sc =>
      val docs = documents(s, dir)
      val batch = docs.filter(col("doc_id") % 10 >= 8)
      val hist = docs.filter(col("doc_id") % 10 < 8)
      val tbl = sc.bucketed("graft_sh_hist",
        Dedup.simhashBandKeysExact(hist), "bk")
      Dedup.simhashIncremental(batch, s.table(tbl), maxHamming = 3)
    }),
    "dedup_minhash_incremental" -> ((s, dir) => scratch(s) { sc =>
      val docs = documentsSpread(s, dir)
      val batch = docs.filter(col("doc_id") % 10 >= 8)
      val hist = docs.filter(col("doc_id") % 10 < 8)
      val tbl = sc.bucketed("graft_mh_hist", Dedup.minhashBandKeys(hist), "bk")
      Dedup.minhashIncrementalStarFirst(batch, hist, minJaccard = 0.5,
        histBands = Some(s.table(tbl))).select("doc_id")
    }),
    // Planted in-flight near-dup fixture (the fixture corpus has no
    // natural pair above cosine 0.51, so the row was vacuously "all
    // batch vectors survive"): 900001 = history vec 0 nudged (cross
    // loser), 900002 = the NEGATION of history vec 5 (novel — |cosine|
    // vs everything natural ≤ 0.51), 900003 = 900002 nudged (within
    // loser, larger id). Oracle = brute-force all-pairs cosine rules —
    // exact here because the seeded LSH finds every ≥0.99 pair on this
    // fixture (miss probability ~1e-8 per pair, deterministic seed).
    "dedup_embedding_incremental" -> ((s, dir) => scratch(s) { sc =>
      val base = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val hist = base.filter(col("vec_id") % 10 < 8)
      val h0 = hist.filter(col("vec_id") === 0L)
      val h5 = hist.filter(col("vec_id") === 5L)
      // materialized ONCE: the 4-branch planted union is consumed by
      // four plan subtrees (two candidate joins, verification, final
      // anti-join) and would otherwise be re-scanned by each of them
      val batch = base.filter(col("vec_id") % 10 >= 8)
        .unionByName(h0.select(lit(900001L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(1e-4)).otherwise(x))
            .as("embedding")))
        .unionByName(h5.select(lit(900002L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding")))
        .unionByName(h5.select(lit(900003L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, -x + lit(1e-4)).otherwise(-x))
            .as("embedding")))
        .localCheckpoint(true)
      val tbl = sc.bucketed("graft_emb_hist",
        Dedup.embeddingBandKeys(hist, numTables = 4, bitsPerTable = 12), "bk")
      Dedup.embeddingIncremental(batch, hist,
        minCosine = 0.99, numHashTables = 4, bitsPerTable = 12,
        histBands = Some(s.table(tbl))).select("vec_id")
    }),
    // Copied-passage candidates, hash-EXACT since r9: the gear-hash
    // CDC arithmetic is re-implemented in DuckDB SQL (splitmix64 gear
    // table + recursive per-byte scan — see the oracleSql entry), so
    // the row pins the exact chunk fingerprints and the full candidate
    // set, not just run/schema.
    "dedup_passage_pairs" -> ((s, dir) =>
      Dedup.passagePairs(documents(s, dir), minShared = 1)),
    // Edit-distance verification over the same consecutive-id pairs as
    // dedup_ngram_jaccard: classic Levenshtein on the normalized
    // 100-char prefix — both engines implement the textbook DP, so the
    // row is oracle-exact with no rounding hazard on the int distance.
    "dedup_edit_similarity" -> ((s, dir) => {
      val docs = documents(s, dir)
      val pairs = docs.select(col("doc_id").as("id_a"),
        (col("doc_id") + 1).as("id_b"))
      Dedup.editSimilarity(docs, pairs)
    }),
    // CDC candidates + exact shared-8-gram verification — ground-truth
    // output, so it gets the brute-force oracle (all-pairs shared
    // distinct 8-grams ≥ 10 in DuckDB). Exact on this fixture: every
    // qualifying pair shares a passage long enough (≥ 17 tokens) to
    // contain complete 16-char-avg chunks, so the fine-grained chunker
    // proposes all of them — the row guards CDC recall end-to-end
    // (deterministic gear hash, no seed ⇒ stable).
    "dedup_passage_verified" -> ((s, dir) =>
      Dedup.passageVerified(documentsSpread(s, dir))),
    // ... and the CDC INCREMENTAL twin (r17): history chunk
    // fingerprints persist bucketed by chunk (df-pruned at ingest
    // against the history corpus), the batch is chunked and probes the
    // table Exchange-free — history text is never re-normalized or
    // re-chunked. Fixture plants 900001 = the first 600 chars of
    // history doc 0 plus a novel tail (the lifted-paragraph shape):
    // identical normalized prefixes chunk identically under the
    // content-defined gear hash, so the planted doc shares every
    // complete chunk inside the prefix with doc 0 and is dropped as a
    // cross loser. Chunking runs at [[Dedup.passageVerified]]'s FINE
    // recall knobs (avg 2^4 = 16 chars, min 8): the fixture's docs
    // run ~150-550 chars, so 64-char-avg chunks would leave short
    // docs — doc 0 included — with < minShared complete chunks and
    // the planted lift vacuously surviving. Oracle = the
    // dedup_passage_pairs recursive-CTE chunker (boundary constants
    // 8/16) over hist∪batch with the same per-side df pruning and
    // both loser rules.
    "dedup_passage_incremental" -> ((s, dir) => scratch(s) { sc =>
      val docs = documentsSpread(s, dir)
      val hist = docs.filter(col("doc_id") % 10 < 8)
      val planted = hist.filter(col("doc_id") === 0L)
        .select(lit(900001L).as("doc_id"),
          concat(substring(col("text"), 1, 600),
            lit(" entirely novel trailing prose closes the lifted excerpt"))
            .as("text"))
      val batch = docs.filter(col("doc_id") % 10 >= 8)
        .select(col("doc_id"), col("text"))
        .unionByName(planted)
      val tbl = sc.bucketed("graft_psg_hist",
        Dedup.passageChunkKeys(hist, avgChunkBits = 4, window = 8), "chunk")
      Dedup.passageIncremental(batch, s.table(tbl),
        avgChunkBits = 4, window = 8).select("doc_id")
    }),
    // Embedding near-dup via seeded sign-LSH. The fixture corpus has no
    // natural near pairs (max pairwise cosine 0.51 — documented), so a
    // near-copy of vec 0 is planted IN-FLIGHT (pure column transform,
    // no collect): the registered row then deterministically contains
    // the planted pair. Oracle = brute-force all-pairs cosine ≥ 0.99
    // in DuckDB (exactly the planted pair) — exact recall on this
    // fixture under the fixed seed.
    // Round 14 (VERDICT item 6): registered in the PRODUCTION
    // star-first shape, closing the discipline across all three sketch
    // families (minhash r13, simhash r12/13, cosine now) — star links
    // verified with exact cosine before anyone drops, the banded pair
    // self-join over collapse survivors only, so the C(m,2) bucket
    // expansion cannot occur on replica mass under a 90 %-dup corpus
    // (the r12 sf1 cliff simhash hit). Output here = the same single
    // planted pair (a star link at cosine ~1.0); oracle unchanged.
    // Raw Dedup.embeddingPairs stays the un-benched brute-force ground
    // truth (DedupSpec pins star-first equality on a replicated
    // fixture).
    "dedup_embedding_pairs" -> ((s, dir) => {
      val base = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val planted = base.filter(col("vec_id") === 0L)
        .select(lit(900000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(1e-4)).otherwise(x))
            .as("embedding"))
      Dedup.embeddingPairsStarFirst(base.unionByName(planted),
          minCosine = 0.99, collapseCosine = 0.99)
        .select(col("id_a"), col("id_b"),
          round(col("cosine"), 6).as("cosine"))
    }),
    // SemDeDup semantic dedup (round 11): hash-init cell assignment +
    // in-cell pairwise cosine + keep-smallest-id, all engine-portable
    // arithmetic — the WHOLE pipeline (centroid draw, argmax
    // assignment, 6dp pair cosines, dup flag) shares one DuckDB twin.
    // The fixture corpus has no natural near pairs (max pairwise
    // cosine 0.51), so the same in-flight near-copy of vec 0 is
    // planted as in dedup_embedding_pairs: the planted row lands in
    // vec 0's cell at cosine ~1.0 and is the ONE flagged dup at the
    // realistic τ = 0.8, while vec 0 itself (the smaller id) is kept
    // — the paper's keep-lowest-index rule, non-vacuously exercised.
    "dedup_semantic" -> ((s, dir) => {
      val base = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val planted = base.filter(col("vec_id") === 0L)
        .select(lit(900000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(1e-4)).otherwise(x))
            .as("embedding"))
      // nCells = 0 → derived: ⌈n/32⌉ = 16 cells on this fixture (501
      // well-formed rows), IDENTICAL to the previous fixed-16
      // registration — but the registered shape now scales nCells ∝ N
      // (the r12 semanticKnobs derivation; within-cell pair work stays
      // linear at sf1's 20k vectors instead of quadratic), and the
      // oracle restates the same derivation as a scalar subquery so
      // the two engines always agree on the cell count.
      Dedup.semantic(base.unionByName(planted), nCells = 0,
        minCosine = 0.8, dim = Some(64))
        .withColumn("cell", col("cell").cast("int"))
    }),
    // ... and its INCREMENTAL twin (r17, the last dedup family without
    // a refresh story): the hash-init centroids are refit-free, so the
    // history assignment (vec_id, cell, e) persists bucketed by cell,
    // only the batch is assigned (frozen centroids), and in-cell
    // comparisons run batch-vs-history + batch-vs-smaller-id-batch —
    // the whole corpus is never re-assigned or re-paired. Fixture:
    // batch = %10>=8 plus the three in-flight planted vectors of the
    // embedding-incremental fixture (900001 = hist vec 0 nudged →
    // cross dup at cos ~1.0; 900002 = hist vec 5 negated → novel;
    // 900003 = 900002 nudged → within dup, larger id). nCells derives
    // from the HISTORY count (the frozen-quantizer contract); the
    // oracle restates draw, assignment, and both pair rules in SQL.
    "dedup_semantic_incremental" -> ((s, dir) => scratch(s) { sc =>
      val base = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val histWf = base.filter(col("vec_id") % 10 < 8)
        .where(col("embedding").isNotNull)
        .where(size(col("embedding")) === 64)
      val h0 = histWf.filter(col("vec_id") === 0L)
      val h5 = histWf.filter(col("vec_id") === 5L)
      val batch = base.filter(col("vec_id") % 10 >= 8)
        .unionByName(h0.select(lit(900001L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(1e-4)).otherwise(x))
            .as("embedding")))
        .unionByName(h5.select(lit(900002L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding")))
        .unionByName(h5.select(lit(900003L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, -x + lit(1e-4)).otherwise(-x))
            .as("embedding")))
        .localCheckpoint(true)
      val nc = Dedup.semanticKnobs(histWf.count(), nCells = 0)
      val index = Similarity.ivfIndexHashInit(histWf, nc)
      val tbl = sc.bucketed("graft_sem_hist",
        Dedup.semanticHistCells(index), "cell")
      Dedup.semanticIncremental(batch, index, s.table(tbl),
          minCosine = 0.8, dim = Some(64))
        .withColumn("cell", col("cell").cast("int"))
    }),

    // ------------------------------------------- §7 line-level dedup
    // CCNet-style keep-first line dedup over the SAME planted fixture
    // as text_boilerplate — the two operators must disagree exactly
    // where their semantics do: boilerplate removal kills the banner
    // EVERYWHERE (df ≥ 10), line dedup keeps its single first
    // occurrence (doc 0) and removes every later repeat (df ≥ 2 —
    // including cross-doc repeats of document BODY lines that are far
    // below the boilerplate threshold). Oracle restates the fixture
    // and the first-occurrence rank semantics.
    "dedup_lines" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("source"),
        concat_ws("\n",
          when(col("doc_id") % 3 === 0,
            lit("Subscribe to our newsletter today")),
          col("text"), lit(""),
          concat(lit("Copyright "), col("source"))).as("text"))
      Dedup.lineDedup(docs)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_lines"), col("n_removed"))
    }),

    // ------------------------------------- §7 exact-substring dedup
    // Lee-et-al span removal over a planted lifted passage: docs with
    // doc_id % 7 == 0 get a 13-token passage appended, so doc 0 keeps
    // it and every other multiple of 7 has exactly those tokens cut —
    // plus whatever 8-gram repeats occur naturally in the corpus, which
    // the oracle recomputes identically. hashKeys = false so the gram
    // keys are the strings themselves, byte-reproducible in DuckDB
    // (DedupSpec pins hashed == string-keyed on a fixture).
    "dedup_substring" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit(" Quarterly results were strong across all segments" +
              " according to the annual report summary"))
            .otherwise(lit(""))).as("text"))
      Dedup.substringDedup(docs, k = 8, hashKeys = false)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_tokens"), col("n_removed"))
    }),
  )
}
