package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.features._
import graft.llm._
import graft.operators.{Events, Profile, RangeJoin, Relational, Sketches, Skew}
import graft.sources.Sources
import graft.streaming.StreamOps
import graft.SparkEntry._

/** Corpus curation (mixing, quotas, splits, decontamination, snapshot diff, attrition) — one slice of [[SparkEntry.queries]].
  *
  * Registration bodies are the pre-split [[SparkEntry]] map entries
  * moved VERBATIM (r16 verdict item 7: the per-family OracleSql file
  * pattern applied to the query registry, which had regrown to 3,200+
  * lines). Shared fixtures/harnesses stay on [[SparkEntry]] as
  * private[graft] members, wildcard-imported here, so the bodies did
  * not change; [[SparkEntry.queries]] assembles the slices and pins
  * key-disjointness. */
private[graft] object EntryQueriesCurate {
  /** The decontamination rows' (train, bench) pair: every 41st doc is
    * the benchmark, and the train side also holds a copy of each
    * benchmark doc behind the text prefix `zz planted <what> `, id
    * shifted by 10^6. The oracle SQL plants the same rows. */
  private def planted(docs: DataFrame, what: String): (DataFrame, DataFrame) = {
    val base = docs.select(col("doc_id"), col("text"))
    val bench = base.filter(col("doc_id") % 41 === 0)
    (base.filter(col("doc_id") % 41 =!= 0).unionByName(
      bench.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(lit(s"zz planted $what "), col("text")).as("text"))), bench)
  }

  // Seq, not Map (r17 advice #5): a key accidentally registered twice
  // in ONE literal would silently last-wins inside a Map before any
  // disjointness check could see it; as a Seq the duplicate survives
  // to SparkEntry.queries' require, which fails loudly.
  def entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // llm counterpart of demo_all_features: quality → lang filter →
    // exact dedup composed in one plan, oracle-checked END-TO-END.
    "llm_curate" -> ((s, dir) => Curate(documents(s, dir))),
    // The curation observability deliverable: per-stage attrition
    // (quality → language → exact-dedup) with sequential-funnel
    // charging, computed from ONE conditional-count aggregate over
    // the same shared scoring expressions the pipeline runs — the
    // report can never disagree with llm_curate (shared oracle CTE
    // prefix pins that on the SQL side too).
    "llm_attrition_report" -> ((s, dir) =>
      Curate.attritionReport(documents(s, dir))),

    // Deterministic per-source mixture sampling: md5-bucket thresholds
    // are plan literals the DuckDB oracle states as a CASE expression —
    // same kept set on both engines by construction (no RNG).
    "llm_mix_corpus" -> ((s, dir) =>
      Curate.mixCorpus(documents(s, dir),
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
        .select("doc_id", "source")),

    // Snapshot diff report (round 15): the audit a versioned corpus
    // runs after a refresh, before committing it — every key
    // classified added/removed/changed/unchanged by comparing md5
    // fingerprints of (text, source). Planted refresh: doc_id % 17
    // removed, % 13 text-modified, % 23 re-inserted under +900000 ids
    // (the fixture has no natural churn). Each side projects to
    // (key, fingerprint) BEFORE the one full-outer join, so the
    // shuffle carries hashes, never document payloads.
    "llm_snapshot_diff" -> ((s, dir) => {
      val prev = documents(s, dir).select("doc_id", "text", "source")
      val kept = prev.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      val added = prev.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text"),
          col("source"))
      operators.Merge.snapshotDiff(prev, kept.unionByName(added),
        "doc_id", Seq("text", "source"))
    }),

    // Per-source TOKEN-budget mix (round 15): pretraining mixes are
    // specified in tokens, not row fractions — each budgeted source
    // keeps its md5-hash-rank prefix while the inclusive running token
    // total stays within budget (never exceeded; a too-large doc is
    // skipped-by-drop, a 0 budget and unlisted sources drop entirely).
    // No RNG, so the kept prefix is reproducible across engines; the
    // per-source running sum uses the two-phase 16-bit-bucket prefix
    // recipe (llm_shuffle_pack's), never a one-partition-per-source
    // window. src0/src1 cut mid-source, src5's budget swallows it
    // whole, src7 is the zero-budget edge.
    "llm_token_budget_mix" -> ((s, dir) =>
      Curate.tokenBudgetMix(documents(s, dir),
        Map("src0" -> 800L, "src1" -> 1200L, "src5" -> 100000L,
          "src7" -> 0L))),
    // Repeat-factor up-sampling (round 11): the multi-epoch treatment
    // of rare sources in a pretraining mix — integer replication with
    // a dense copy_idx, factor 0 dropping a source, unlisted sources
    // at the default 1. Pure narrow explode; the oracle restates the
    // CASE → range → unnest chain.
    "llm_upsample" -> ((s, dir) =>
      Curate.repeatUpsample(documents(s, dir),
        Map("src1" -> 2, "src2" -> 3, "src3" -> 0))
        .select("doc_id", "source", "copy_idx")),
    // Quality-weighted deterministic sample: Efraimidis-Spirakis keys
    // from the md5-derived uniform, weight = n_chars, global top-100
    // via TakeOrdered (zero shuffles at any corpus size).
    "llm_weighted_sample" -> ((s, dir) =>
      Curate.weightedSample(documents(s, dir), k = 100)
        .select("doc_id", "source", "n_chars", "sample_key")),

    // Contrastive training pairs (round 14): positives from the
    // oracle-proven n-gram-Jaccard edges over the planted near-dup
    // chain (the dedup_components fixture — the natural consecutive-id
    // edge set is empty at this SF), negatives drawn by the
    // deterministic bucketed hash-rank sampler — md5 bucket join +
    // md5(anchor|cand) row_number, no RNG, no cross join. The full
    // chain (edge discovery, bucket assignment, target-bucket salt,
    // pair rank, exclusion, top-k) is restated in SQL — a SAMPLING
    // operator whose sampled ids are hash-EXACT, like llm_shuffle.
    "llm_contrastive_pairs" -> ((s, dir) => {
      import s.implicits._
      val planted = Seq(
        (2000000L, "alpha beta gamma delta epsilon zeta"),
        (2000001L, "alpha beta gamma delta epsilon eta"),
        (2000002L, "alpha beta gamma delta epsilon theta"))
        .toDF("doc_id", "text")
      val docs = documentsSpread(s, dir).select(col("doc_id"), col("text"))
        .unionByName(planted)
      val candidates = docs.select(col("doc_id").as("id_a"),
        (col("doc_id") + 1).as("id_b"))
      val positives = Dedup.ngramJaccard(docs, candidates)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a").as("anchor_id"), col("id_b").as("pos_id"))
      Curate.contrastivePairs(docs, positives,
        negPerAnchor = 2, nBuckets = 16)
    }),

    // Temperature-scaled mixing at α = 0.7: keep fractions DERIVED
    // from per-source counts ((n_min/n)^0.3, 16-bit-quantized), so the
    // oracle recomputes counts → pow → round → hex threshold → md5
    // filter — the whole derivation chain is hash-verified, not just
    // the filter. The driver corpus has perfectly uniform sources
    // (every fraction would be 1.0 — vacuous), so the registered query
    // mixes by a DERIVED skewed domain (~5/8, 2/8, 1/8 of docs) that
    // both engines restate; abundant domains are genuinely subsampled.
    "llm_temperature_mix" -> ((s, dir) => {
      val skewed = documents(s, dir).withColumn("domain",
        when(col("doc_id") % 8 < 5, "web")
          .when(col("doc_id") % 8 < 7, "books").otherwise("code"))
      Curate.temperatureMix(skewed, alpha = 0.7, sourceCol = "domain")
        .select("doc_id", "domain", "lang", "n_chars")
    }),

    // Per-source quality quota: top-5 docs per source by 6dp-rounded
    // quality score, id tiebreak — the rounded rank key keeps the
    // window ordering identical across engines.
    "llm_source_quota" -> ((s, dir) =>
      Curate.sourceQuota(documents(s, dir), k = 5)),

    // Benchmark decontamination (8-gram exact overlap). The fixture has
    // no natural 8-gram overlap across the doc_id % 41 split (checked:
    // overlap first appears at n=3), so contaminated training docs are
    // planted IN-FLIGHT as prefixed copies of each benchmark doc — a
    // pure column transform the oracle SQL replicates verbatim, like
    // dedup_embedding_pairs' planted vector. Every planted doc must be
    // flagged with shared_ngrams == its source's distinct-8-gram count;
    // every real doc must be absent. Oracle-EXACT.
    "llm_decontaminate" -> ((s, dir) => {
      val (train, bench) = planted(documents(s, dir), "contamination prefix")
      Curate.contamination(train, bench)
    }),
    // The keep-side anti-join twin — the artifact a pipeline actually
    // ships. Same planted fixture; oracle = the contamination CTE
    // flipped to NOT IN. Every real doc survives, every planted copy
    // (and short-doc whole-sequence match) is dropped.
    "llm_decontaminate_kept" -> ((s, dir) => {
      val (train, bench) = planted(documents(s, dir), "contamination prefix")
      Curate.decontaminate(train, bench).select("doc_id")
    }),
    // NEAR-duplicate decontamination: banded-minhash candidates between
    // corpus and benchmark (bench side broadcast), exact shingle-Jaccard
    // verify at 0.5, anti-join — catches the paraphrase-level leakage
    // exact 8-grams miss. The fixture plants PREFIX-MANGLED bench
    // copies (jaccard ≈ 0.9 against their source, NOT exact copies)
    // into the train side; the oracle is brute-force cross-corpus
    // Jaccard, so banding recall is under the hash too.
    "llm_decontaminate_near" -> ((s, dir) => {
      val (train, bench) = planted(documentsSpread(s, dir), "near copy")
      Curate.decontaminateNear(train, bench).select("doc_id")
    }),

    // The broadcast-Bloom-prefiltered twin — same planted fixture, same
    // NOT IN oracle (bloom false positives are re-verified by the exact
    // gram join, so the output is bit-identical to the exact path; the
    // prefilter only changes WHERE non-matching grams die: inside the
    // scan stage instead of at the join).
    "llm_decontaminate_bloom" -> ((s, dir) => {
      val (train, bench) = planted(documents(s, dir), "contamination prefix")
      Curate.decontaminateBloom(train, bench).select("doc_id")
    }),

    // ------------------------------------------- §7 snapshot maintenance
    // CDC merge (MERGE INTO semantics) on an in-flight fixture: replace
    // every 7th doc (delete-set excluded so the updates batch honors the
    // one-row-per-key MERGE contract), insert shifted copies, delete
    // every 13th-residue-5 doc. Single union + keyed-window plan; the
    // oracle states the same union + row_number formulation.
    "llm_merge_upsert" -> ((s, dir) => {
      val base = documents(s, dir).select(
        col("doc_id"), col("text"), col("source"))
      val updates = base
        .filter(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 5)
        .select(col("doc_id"),
          concat(lit("v2: "), col("text")).as("text"),
          col("source"), lit(false).as("del"))
        .unionByName(base.filter(col("doc_id") % 11 === 3)
          .select((col("doc_id") + lit(3000000L)).as("doc_id"),
            concat(lit("new: "), col("text")).as("text"),
            col("source"), lit(false).as("del")))
        .unionByName(base.filter(col("doc_id") % 13 === 5)
          .select(col("doc_id"), col("text"), col("source"),
            lit(true).as("del")))
      operators.Merge.upsert(base, updates, "doc_id", Some("del"))
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("source"))
    }),
    // Deterministic held-out split: same doc → same split across
    // engines/partitionings/reruns (md5-bucket thresholds, the
    // mixCorpus parity recipe) — what rand()/randomSplit cannot give.
    "llm_hash_split" -> ((s, dir) =>
      Curate.hashSplit(documents(s, dir).select("doc_id", "source"))),

    // Deterministic global training order — two-phase bucket index
    // (single-partition-window-free); equals row_number over md5 order.
    "llm_global_shuffle" -> ((s, dir) =>
      Curate.globalShuffleOrder(documents(s, dir))),

    // Global token-budget packing over the md5-shuffled order — the
    // two-phase bucket prefix sum (no single-partition window).
    "llm_shuffle_pack" -> ((s, dir) =>
      Curate.shufflePackBins(documents(s, dir), binTokens = 512)),

    // Cross-split leakage audit over hashSplit. In-flight planted
    // copies (every 10th doc re-id'd +2000000) guarantee real overlap:
    // a copy whose md5 bucket lands in val/test while its original (or
    // any sibling copy) lands in train is a leak BOTH engines must
    // count identically — no natural 8-gram overlap exists across the
    // split at this SF (the decontaminate fixture lesson).
    "llm_split_contamination" -> ((s, dir) => {
      val base = documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = base.unionByName(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(2000000L)).as("doc_id"),
            col("text")))
      Curate.splitContamination(corpus)
    }),

    // Within-source quality quartile bins: ntile over the 6dp-rounded
    // score + id tiebreak (total order identical across engines).
    "llm_quality_quartiles" -> ((s, dir) =>
      Curate.qualityQuartiles(documents(s, dir))),

    // Deterministic per-source uniform sample: hash-rank reservoir
    // (smallest md5 bucket wins) — reproducible across engines and
    // stable under corpus growth; WindowGroupLimit map-side cap.
    "llm_sample_by_source" -> ((s, dir) =>
      Curate.sampleBySource(documents(s, dir), k = 3)),
  )
}
