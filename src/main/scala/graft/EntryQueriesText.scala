package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.features._
import graft.llm._
import graft.operators.{Events, Profile, RangeJoin, Relational, Sketches, Skew}
import graft.sources.Sources
import graft.streaming.StreamOps
import graft.SparkEntry._

/** Text analysis and retrieval (stats, quality, language, tf-idf/bm25, bpe, perplexity, sketches) — one slice of [[SparkEntry.queries]].
  *
  * Registration bodies are the pre-split [[SparkEntry]] map entries
  * moved VERBATIM (r16 verdict item 7: the per-family OracleSql file
  * pattern applied to the query registry, which had regrown to 3,200+
  * lines). Shared fixtures/harnesses stay on [[SparkEntry]] as
  * private[graft] members, wildcard-imported here, so the bodies did
  * not change; [[SparkEntry.queries]] assembles the slices and pins
  * key-disjointness. */
private[graft] object EntryQueriesText {
  // Seq, not Map (r17 advice #5): a key accidentally registered twice
  // in ONE literal would silently last-wins inside a Map before any
  // disjointness check could see it; as a Seq the duplicate survives
  // to SparkEntry.queries' require, which fails loudly.
  def entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ------------------------------------------ §7 LLM-pipeline: text ops
    "text_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(documents(s, dir))
        .select("doc_id", "n_chars_calc", "ws_token_count", "bpe_token_count")),
    "text_normalize" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        TextAnalysis.normalize(col("text")).as("norm_text"))),
    "text_quality" -> ((s, dir) => {
      val q = TextAnalysis.qualityScore(documents(s, dir))
      q.select(col("doc_id"), col("n_words"),
        round(col("mean_word_len"), 6).as("mean_word_len"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"),
        round(col("punct_ratio"), 6).as("punct_ratio"),
        round(col("digit_ratio"), 6).as("digit_ratio"),
        round(col("upper_ratio"), 6).as("upper_ratio"),
        round(col("quality_score"), 6).as("quality_score"))
    }),
    "text_language" -> ((s, dir) =>
      TextAnalysis.languageId(documents(s, dir))
        .select("doc_id", "lang", "lang_pred")),
    "text_entropy" -> ((s, dir) =>
      TextAnalysis.charEntropy(documents(s, dir))
        .select(col("doc_id"),
          round(col("char_entropy"), 6).as("char_entropy"))),
    "text_source_profile" -> ((s, dir) =>
      TextAnalysis.sourceProfile(documents(s, dir))),
    // Gopher-style repetition filters. Fractions are ratios of small
    // exact ints — bit-identical IEEE division on both engines; the
    // 6dp rounding is belt-and-braces. Top-gram ties break
    // lexicographically in BOTH engines (fold over the sorted array
    // here, count-desc/gram-asc row_number in DuckDB).
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(documents(s, dir))
        .select(col("doc_id"), col("ngram_total"), col("ngram_distinct"),
          round(col("dup_ngram_frac"), 6).as("dup_ngram_frac"),
          col("top_ngram"), col("top_ngram_count"),
          round(col("top_ngram_char_frac"), 6).as("top_ngram_char_frac"))),
    // PII scan/redact over an in-flight planted fixture: the corpus
    // has no natural PII, so three docs get an appended PII sentence
    // (the decontaminate planted-copy pattern) and the oracle mirrors
    // the same literals — non-vacuous counts and masking.
    "text_pii" -> ((s, dir) =>
      TextAnalysis.piiScan(piiFixture(documents(s, dir)))
        .select("doc_id", "n_emails", "n_phones", "n_ipv4", "n_ids",
          "has_pii")),
    "text_redact" -> ((s, dir) =>
      TextAnalysis.piiRedact(piiFixture(documents(s, dir)))
        .select("doc_id", "redacted")),
    // TF-IDF at fixed hash buckets, oracle-EXACT since r9: the murmur3
    // bucket ids DO have a DuckDB twin now (hashUnsafeBytes2 —
    // 4-byte-block + folded-tail murmur3_x86_32, seed 42 — re-derived
    // in SQL; see the oracleSql entry). Sampled buckets are the
    // fixture-derived literals of real tokens — the r≤8 sample
    // {0,17,256,511,777} was VACUOUS (31 distinct corpus tokens hit 31
    // of 1024 buckets; all five samples were zero for every doc).
    // Bucket 386 = 'dup' (df 25), the others are common tokens; nnz and
    // the vector l2 norm summarize the whole vector so the row checks
    // more than 5 points. 1024 buckets keep the projection small.
    "text_tfidf" -> ((s, dir) => {
      val v = TextFeatures.tfidf(documents(s, dir), numFeatures = 1024)
      val arr = org.apache.spark.ml.functions.vector_to_array(col("tfidf"))
      v.select(col("doc_id") +:
        (Seq(1, 69, 386, 534, 640).map(i =>
          round(arr.getItem(i), 6).as(s"tfidf_$i")) ++ Seq(
          size(filter(arr, x => x =!= 0.0)).as("nnz"),
          round(sqrt(aggregate(transform(arr, x => x * x),
            lit(0.0), (acc, x) => acc + x)), 6).as("l2_norm"))): _*)
    }),

    // ------------------------------------- §7 perplexity quality signal
    // CCNet-style bigram-LM perplexity, self-scored on the corpus: the
    // model (add-0.5 smoothing, context counts over bigrams, corpus
    // vocab size) and the per-doc exp(−mean log p) score are both
    // restated by the DuckDB oracle from the same definition — two
    // engines, one number. Docs with < 2 tokens score NULL.
    "text_perplexity" -> ((s, dir) =>
      LanguageModel.perplexity(documents(s, dir))),

    // Cross-corpus form: model trained ONLY on the English slice,
    // scoring the WHOLE corpus — the CCNet deployment shape. Non-en
    // docs flow through the unseen-bigram smoothing branches
    // (known-context k/(c1+kV) and unknown-context k/(kV)), so this
    // registration puts the fallback arithmetic itself under the
    // oracle (self-scored text_perplexity can never reach it).
    "text_perplexity_cross" -> ((s, dir) => {
      val docs = documents(s, dir)
      LanguageModel.crossPerplexity(
        docs.filter(col("lang") === "en"), docs)
    }),
    // Train → persist the model artifact → reload → score: the
    // nightly-scoring deployment. Shares text_perplexity_cross's
    // oracle verbatim (the round-trip must be the identity), so model
    // persistence is hash-verified like the IVF/BM25 index round-trips.
    "text_perplexity_persisted" -> ((s, dir) => scratch(s) { sc =>
      val (loaded, lv) = reloadedLm(sc, dir)
      LanguageModel.perplexityAgainst(documents(s, dir), loaded, lv)
    }),
    // ------------------------------------ §7 boilerplate line removal
    // C4-style frequent-line filter on a planted multi-line fixture:
    // every 3rd doc gets a shared subscribe-banner header, every doc a
    // per-source copyright footer (df ≈ corpus/20 per source) and a
    // blank separator line; the unique body and the blank line must
    // survive, the header and footers (df ≥ 10) must not. The oracle
    // restates the fixture and the distinct-doc-frequency semantics.
    "text_boilerplate" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("source"),
        concat_ws("\n",
          when(col("doc_id") % 3 === 0,
            lit("Subscribe to our newsletter today")),
          col("text"), lit(""),
          concat(lit("Copyright "), col("source"))).as("text"))
      TextAnalysis.removeBoilerplate(docs, minDf = 10L)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_lines"), col("n_removed"))
    }),

    // Sliding-window chunking for context packing: 32-token windows,
    // stride 24 (8-token overlap). chunk_idx = start/stride in both
    // engines; Tokens.whitespace tokens, as in text_token_stats.
    "text_chunk" -> ((s, dir) =>
      TextAnalysis.chunk(documents(s, dir).select("doc_id", "text"),
        chunkTokens = 32, stride = 24)
        .select("doc_id", "chunk_idx", "chunk_tokens", "chunk")),

    // Exact TF-IDF top-3 terms per doc — the un-hashed, oracle-checkable
    // twin of text_tfidf. Rank key is all-integer (tf desc, df asc,
    // term asc); the float tfidf value rides along rounded to 6dp.
    "text_tfidf_exact" -> ((s, dir) =>
      TextFeatures.tfidfExact(documents(s, dir), topK = 3)),

    // BM25 more-like-this retrieval: the first 5 documents act as
    // queries over the whole corpus (self-matches excluded pre-rank).
    // Inverted-index join shape — query terms broadcast with their
    // idf, postings touched only for query terms — never a doc×query
    // cross; every constant (k1=1.2, b=0.75, Lucene idf) restated in
    // the oracle.
    "text_bm25" -> ((s, dir) => {
      val docs = documents(s, dir)
      bm25FirstFive(TextFeatures.bm25Index(docs), docs)
    }),
    // Build → persist postings → reload → probe: the retrieval
    // deployment shape (tokenize the corpus once per ingest, not once
    // per query batch). Shares text_bm25's oracle — the round-trip
    // must be the identity, so persistence is hash-verified.
    // Round 11 (VERDICT item 5): the postings artifact is written once
    // per session (cachedBm25IndexDir); the registered invocation measures
    // the steady-state reload + probe a nightly deployment pays. The
    // write half gets its own timer + oracle row (text_bm25_write).
    // Result rows are unchanged — write → reload is the identity the r10
    // row proved, now split so each half is separately observable.
    "text_bm25_persisted" -> ((s, dir) => {
      val docs = documents(s, dir)
      val loaded = TextFeatures.readBm25Index(s, cachedBm25IndexDir(s, dir))
      bm25FirstFive(loaded, docs).localCheckpoint(true)
    }),
    // The build/write half under its own named timer (round 11): fresh
    // postings build + write to a per-invocation temp dir, summarized by
    // the all-integer postings profile (distinct terms, postings rows,
    // total term frequency, corpus doc count) — the aggregates force the
    // full tokenize+postings job AND the parquet write is timed in-line;
    // the profile is hash-EXACT against the oracle's re-derived postings.
    "text_bm25_write" -> ((s, dir) => scratch(s) { sc =>
      TextFeatures.writeBm25Index(
        TextFeatures.bm25Index(documents(s, dir)), sc.dir)
      s.read.parquet(s"${sc.dir}/tf").agg(
        countDistinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_postings"),
        sum(col("tf")).as("tf_sum"),
        countDistinct(col("doc_id")).as("n_docs"))
    }),
    // BM25 living index, batch leg (round 15, r14 verdict item 5):
    // index HALF the corpus, append the other half's postings without
    // touching the indexed half (bm25Append — tokenizes only the
    // delta; df and the corpus scalars update from vocabulary-sized
    // frames; avgdl is exact integer arithmetic so append == rebuild
    // bit-for-bit), then probe with the standard 5 queries. Shares
    // text_bm25's oracle: append-then-score must equal
    // build-then-score — retrieval now has the same incremental story
    // as the ANN family (ivfAppend/pqAppend).
    // The living index's DELETE leg at the retrieval layer (round 18,
    // the ivfDelete counterpart): build on the full corpus, take down
    // every 7th-mod-3 doc — postings/lengths anti-join away, df
    // decrements fold off the index's own tf frame (nothing
    // re-tokenizes), (N, avgdl) re-derives exactly — then probe.
    // Oracle = the bm25 chain with the corpus-side CTEs restricted to
    // survivors while queries stay the full doc set: delete-then-score
    // must equal build-on-survivors-then-score bit-for-bit.
    "text_bm25_delete" -> ((s, dir) => {
      val docs = documents(s, dir)
      val pruned = TextFeatures.bm25Delete(
        TextFeatures.bm25Index(docs),
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
      bm25FirstFive(pruned, docs)
    }),
    "text_bm25_append" -> ((s, dir) => {
      val docs = documents(s, dir)
      val base = TextFeatures.bm25Index(docs.filter(col("doc_id") % 2 === 0))
      val grown = TextFeatures.bm25Append(base,
        docs.filter(col("doc_id") % 2 === 1))
      bm25FirstFive(grown, docs)
    }),

    // Sequence packing: concatenate-and-split bin assignment — each
    // doc's bin is where its first token lands when the source's docs
    // are concatenated in doc_id order and cut into 512-token
    // sequences. One prefix-sum window per source; DuckDB twin is the
    // identical running-total window.
    "text_pack_bins" -> ((s, dir) =>
      TextAnalysis.packBins(
        documents(s, dir).select("doc_id", "source", "text"),
        binTokens = 512)
        .select("doc_id", "source", "n_tokens", "tokens_before",
          "bin_id", "bin_offset")),

    // Corpus-shape profiling: per-source token-length quantiles. Exact
    // sort-based percentile matches DuckDB quantile_cont bit-exactly
    // (the robust_scaling parity result); approx_percentile is the
    // documented at-scale twin.
    "text_length_quantiles" -> ((s, dir) =>
      TextAnalysis.lengthQuantiles(documents(s, dir))),

    // Zipf rank-frequency fit: OLS of ln(count) on ln(rank) over the
    // top-500 vocabulary head (TakeOrderedAndProject — the
    // distributed partial top-k, never a global sort; rank window
    // runs over ≤ 500 rows). The corpus-mix drift diagnostic: slope
    // ≈ −1 on healthy natural text; boilerplate floods flatten the
    // head, dedup losses fatten it. On THIS synthetic fixture it
    // reads ≈ −0.2 — the near-uniform generator vocabulary flagged
    // exactly as designed (spec pins a planted power law at ≈ −1).
    // Regression mechanics shared with lineitem_price_regression via
    // operators.Regression.
    "text_zipf_fit" -> ((s, dir) =>
      graft.operators.Regression.zipfFit(documents(s, dir))),

    // Persisted-quantile artifact (round 14): the bottom-k sketch's
    // SECOND face — hash a row-unique id, carry the measure as
    // payload, and the ≤ m smallest-hash rows are a mergeable uniform
    // sample whose exact percentile answers any probability later
    // (approx_percentile's GK summary is not exposed as a storable
    // value; this is the storable, engine-neutral alternative). The
    // sample quantiles are DETERMINISTIC (hash-rank sampling, no RNG),
    // so the oracle restates sample AND exact legs bit-identically —
    // sampling error is a visible, hash-pinned number. m=16 < 25
    // docs/source at sf0.01 keeps the sample a real subset.
    "text_sample_quantiles" -> ((s, dir) =>
      Sketches.sampleQuantiles(documents(s, dir), "source", "doc_id",
        size(Tokens.whitespace(col("text"))),
        m = 16, probs = Seq(0.5, 0.9))),

    // The quantile-artifact LIFECYCLE (round 15): two batch halves
    // each build a bottom-16 sample sketch, one persists to parquet
    // and reloads, kmvMerge folds them (payloads ride the two-pointer
    // merge), and the merged artifact re-answers the quantiles —
    // min-k of a set union makes merged == one-shot EXACTLY, so this
    // row shares text_sample_quantiles' oracle verbatim (the
    // events_cardinality_kmv round-trip applied to the sample face
    // of the sketch; with it both KMV faces have a persisted-merge
    // row).
    "text_sample_quantiles_merged" -> ((s, dir) => scratch(s) { sc =>
      val docs = documents(s, dir)
      val vcol = size(Tokens.whitespace(col("text")))
      val h1 = Sketches.sampleSketch(
        docs.filter(col("doc_id") % 2 === 0), "source", "doc_id",
        vcol, m = 16)
      h1.write.mode("overwrite").parquet(s"${sc.dir}/sk")
      val h2 = Sketches.sampleSketch(
        docs.filter(col("doc_id") % 2 === 1), "source", "doc_id",
        vcol, m = 16)
      val merged = Sketches.kmvMerge(
        s.read.parquet(s"${sc.dir}/sk").unionByName(h2), "source", k = 16)
      Sketches.sampleQuantilesFromSketches(merged, docs, "source",
        vcol, probs = Seq(0.5, 0.9))
    }),

    // BPE vocabulary learning, 3 merge steps unrolled under the
    // oracle (round 14, the kmeans_lloyd treatment of an iterative
    // fit): word table → char symbols → repeat [overlapping pair
    // counts → (count DESC, left, right) argmax → leftmost-nonoverlap
    // merge]. Every stage is window/aggregate relational algebra both
    // engines restate — the tokenizer-training analog of the Lloyd
    // rows. Each step's winner is a one-row driver draw.
    "text_bpe_merges" -> ((s, dir) =>
      Bpe.learn(documents(s, dir), steps = 3, topWords = 200)._1),
    // ... and the merges APPLIED: the top-200 word table segmented by
    // the 3 learned merges — proves the rewrite, not just the argmax.
    "text_bpe_segment" -> ((s, dir) =>
      Bpe.segmentation(
        Bpe.learn(documents(s, dir), steps = 3, topWords = 200)._2)),
    // ... and the vocabulary USED at corpus scale: per-doc BPE token
    // counts via a broadcast vocab join with char fallback for OOV —
    // the tokenizer-throughput shape of a pretraining pipeline.
    "text_bpe_encode" -> ((s, dir) => {
      val docs = documents(s, dir)
      Bpe.encodeTokenCounts(docs,
        Bpe.learn(docs, steps = 3, topWords = 200)._2)
    }),
    // ... and the production lifecycle: learn ONCE, persist the
    // symbol table as a plain parquet artifact, encode every later
    // batch against the reloaded artifact with no relearning — the
    // FrequentItems/IVF persisted-workflow pattern applied to the
    // tokenizer. Shares text_bpe_encode's oracle verbatim: a lossless
    // round-trip is the whole claim.
    "text_bpe_encode_persisted" -> ((s, dir) => scratch(s) { sc =>
      val docs = documents(s, dir)
      Bpe.learn(docs, steps = 3, topWords = 200)._2
        .write.mode("overwrite").parquet(s"${sc.dir}/vocab")
      Bpe.encodeTokenCounts(docs, s.read.parquet(s"${sc.dir}/vocab"))
    }),

    // Corpus-level heavy hitters: exact top-50 word bigrams.
    // TakeOrderedAndProject after one partial+final count — never a
    // global sort. Count-desc/gram-asc total order makes the rank-50
    // cut deterministic in both engines.
    "text_top_ngrams" -> ((s, dir) =>
      TextAnalysis.topNgrams(documents(s, dir), n = 2, k = 50)),

    // Language-ID confusion matrix vs the fixture's lang label — the
    // classifier-evaluation row (per (label, predicted) counts +
    // within-label share); shares text_language's oracle CTE chain.
    "text_language_confusion" -> ((s, dir) =>
      TextAnalysis.languageConfusion(documents(s, dir))),

    // Per-doc trigram novelty (the Lee et al. 2022 corpus metric):
    // share of a doc's distinct trigrams occurring in no other doc —
    // the gram-level boilerplate/near-dup-residue signal and the
    // before/after evidence a dedup pass is graded on. One distinct
    // shuffle + a vocabulary-scale df fold + one gram-keyed join.
    "text_gram_novelty" -> ((s, dir) =>
      TextAnalysis.gramNovelty(documents(s, dir), n = 3)),

    // Document-level PMI collocations over the df-top-30 head:
    // explode→distinct (doc, term), head via TakeOrdered + BROADCAST
    // semi-join, pair fan-out bounded at C(30,2) per doc and joined
    // doc-keyed — never vocabulary × vocabulary. The template-flood /
    // phrase-mining signal; all counts exact integers, only the final
    // ln floats (6dp pre-rank).
    "text_pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(documents(s, dir))),

    // Bounded-state sibling of text_top_ngrams: Misra-Gries sketch at
    // FrequentItems.DefaultCapacity (4096) >= the bigram vocabulary (916 at sf0.01, 1210 on
    // the sf1 rehearsal fixture, whose replica suffixes mint new
    // bigram types — a 1024 cap overflowed there and the oracle
    // caught it exactly as designed: counts dropped below truth AND
    // max_error went nonzero), so the sketch stays in its EXACT
    // regime (max_error = 0 is an output column the oracle pins to 0)
    // and the top-50 equals the exact GROUP BY twin — while the plan
    // carries ONE capacity-entry sketch per map task through the
    // Exchange instead of the keyed vocabulary (ObjectHashAggregate
    // partial merge; the 100 TB path for billion-key n-gram
    // vocabularies, where the exact twin's vocabulary shuffle is the
    // bottleneck). Approximation-regime guarantees (retention above
    // N/(cap+1), counter undershoot <= maxError) are spec'd in
    // FrequentItemsSpec.
    "text_heavy_hitters_sketch" -> ((s, dir) => {
      val mg = udaf(new graft.functions.MisraGries(
        graft.functions.FrequentItems.DefaultCapacity),
        org.apache.spark.sql.Encoders.STRING)
      documents(s, dir)
        .select(explode(
          graft.functions.WordNgrams(col("text"), 2,
            strictFallback = false)).as("gram"))
        .filter(size(split(col("gram"), " ")) === 2)
        .agg(mg(col("gram")).as("sk"))
        .select(explode(col("sk.counts")).as(Seq("gram", "cnt")),
          col("sk.maxError").as("max_error"))
        .orderBy(col("cnt").desc, col("gram"))
        .limit(50)
    }),

    // The persisted-sketch workflow end-to-end (the deployment shape:
    // daily sketches merged without rescanning history): corpus split
    // by doc_id parity, the "history" half sketched and round-tripped
    // through a parquet artifact (<= capacity+1 rows), the "new batch"
    // half sketched fresh, the two MERGED by the aggregator's own
    // rule — and the merged top-50 must equal the exact GROUP BY over
    // the WHOLE corpus (mergeable-summaries exactness composes: both
    // halves stayed exact and the union fits the capacity, so the
    // merge is a plain sum). Same oracle SQL as the one-shot sketch.
    "text_heavy_hitters_incremental" -> ((s, dir) => scratch(s) { sc =>
      def grams(d: DataFrame) = d
        .select(explode(
          graft.functions.WordNgrams(col("text"), 2,
            strictFallback = false)).as("gram"))
        .filter(size(split(col("gram"), " ")) === 2)
      val docs = documents(s, dir)
      val hist = graft.functions.FrequentItems.sketch(
        grams(docs.filter(col("doc_id") % 2 === 0)), "gram",
        graft.functions.FrequentItems.DefaultCapacity)
      graft.functions.FrequentItems.writeSketch(s, hist, s"${sc.dir}/sk")
      val reloaded =
        graft.functions.FrequentItems.readSketch(s, s"${sc.dir}/sk")
      val fresh = graft.functions.FrequentItems.sketch(
        grams(docs.filter(col("doc_id") % 2 === 1)), "gram",
        graft.functions.FrequentItems.DefaultCapacity)
      graft.functions.FrequentItems.topK(s,
        graft.functions.FrequentItems.merge(reloaded, fresh,
          graft.functions.FrequentItems.DefaultCapacity), 50)
    }),

    // Count-Min sketch point-query estimates (the fourth sketch
    // family: per-key counts under a FIXED d×w memory bound). Build =
    // one (depth, bucket) groupBy whose Exchange carries ≤ d×w rows
    // per map task — never the vocabulary; probes = the top-20 exact
    // terms (deterministic tie-break), estimate = min over the d
    // rows' counters. Everything is md5-derived and deterministic, so
    // est, exact, AND the over-count error are hash-exact under the
    // oracle (the KMV property: approximate answers, exact
    // restatement). w=128 is sized BELOW the corpus vocabulary on
    // purpose so collisions are real and the overcount column shows
    // CMS behaving like CMS, not an exact count in disguise.
    // Tokenize-once (r17 verdict item 5): the row needs per-term EXACT
    // counts for its probe side anyway, so the sketch builds from that
    // key-scale aggregate (sketchWeighted — identical counters, since
    // cell sums of per-term counts ARE the occurrence counts) instead
    // of re-exploding the corpus; the term-count subtree canonicalizes
    // once and the scan + regex split run a single time per execution.
    "text_count_min" -> ((s, dir) => {
      val exact = Tokens.terms(documents(s, dir), "text")
        .groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
      val probes = exact.orderBy(col("n_exact").desc, col("term")).limit(20)
      val sk = graft.operators.CountMin.sketchWeighted(
        exact, col("term"), col("n_exact"), depth = 4, width = 128)
      graft.operators.CountMin.estimate(sk, probes, "term",
          depth = 4, width = 128)
        .withColumn("overcount", col("cm_est") - col("n_exact"))
        .orderBy(col("n_exact").desc, col("term"))
    }),
    // The CMS persist/merge lifecycle (the heavy_hitters_incremental
    // shape): corpus split by doc_id parity, the history half's
    // sketch round-tripped through a parquet artifact (≤ d×w plain
    // rows — engine-neutral), merged with the fresh half by cell-wise
    // summation. Counter matrices add, and group-sums of a disjoint
    // split equal the total sums, so merge-then-estimate IS
    // build-then-estimate — the row shares text_count_min's oracle
    // VERBATIM (the strongest lifecycle claim, per the KMV rows).
    // Tokenize-once here too (r17 verdict item 5): each HALF is
    // tokenized exactly once into its per-term counts — the half's
    // sketch builds from those counts (sketchWeighted) and the
    // full-corpus exact side is the two count frames re-summed by
    // term (group-sums of the parity split equal the totals), so no
    // third corpus pass exists anywhere in the plan.
    "text_count_min_merged" -> ((s, dir) => scratch(s) { sc =>
      val docs = documents(s, dir)
      def counts(d: DataFrame) = Tokens.terms(d, "text")
        .groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
      val histCounts = counts(docs.filter(col("doc_id") % 2 === 0))
      val freshCounts = counts(docs.filter(col("doc_id") % 2 === 1))
      val hist = graft.operators.CountMin.sketchWeighted(
        histCounts, col("term"), col("n_exact"), depth = 4, width = 128)
      hist.write.mode("overwrite").parquet(s"${sc.dir}/sk")
      val fresh = graft.operators.CountMin.sketchWeighted(
        freshCounts, col("term"), col("n_exact"), depth = 4, width = 128)
      val merged = graft.operators.CountMin.merge(
        s.read.parquet(s"${sc.dir}/sk").unionByName(fresh))
      val exact = histCounts.unionByName(freshCounts)
        .groupBy(col("term")).agg(sum(col("n_exact")).as("n_exact"))
      val probes = exact.orderBy(col("n_exact").desc, col("term")).limit(20)
      graft.operators.CountMin.estimate(merged, probes, "term",
          depth = 4, width = 128)
        .withColumn("overcount", col("cm_est") - col("n_exact"))
        .orderBy(col("n_exact").desc, col("term"))
    }),
  )
}
