package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines: token
  * counting, quality scoring, language identification, and document
  * fingerprinting. Everything here is a narrow per-row projection built
  * from codegen'd `sql.functions` — no UDFs, no shuffles — so at 100 TB
  * it runs at parquet-scan speed and pipelines with any downstream op.
  */
object TextAnalysis {

  /** Staging-column name that cannot clobber caller data: `base` when
    * the frame doesn't already have it, else the first `base_<i>` that
    * is free. withColumn silently REPLACES an existing column, so a
    * fixed temp name would drop a caller's same-named column from the
    * output when the projection `drop`s its staging column.
    * Deterministic (no UUID) so repeated invocations on the same schema
    * produce the same plan. */
  private def freshCol(df: DataFrame, base: String): String =
    Iterator.from(0)
      .map(i => if (i == 0) base else s"${base}_$i")
      .find(n => !df.columns.contains(n)).get

  /** Whitespace-token and BPE-ish subword token counts plus basic size
    * stats. `bpe_token_count` approximates a byte-pair-encoded token
    * stream with the common "word-or-punctuation-run" pre-tokenizer
    * granularity (≈ GPT-2 pre-tokenization): alphanumeric runs and
    * single non-space punctuation each count as one token. The match
    * patterns avoid lookarounds so the SAME regex runs under Java
    * (Spark) and RE2 (the DuckDB oracle). */
  def tokenStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df
      .withColumn("n_chars_calc", length(t))
      .withColumn("ws_token_count", size(Tokens.whitespace(t)))
      .withColumn("bpe_token_count",
        size(regexp_extract_all(t,
          lit("[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]"), lit(0))))
  }

  /** Heuristic document-quality signals (Gopher/C4-style filters):
    * mean word length, stopword fraction, punctuation/digit/uppercase
    * ratios, and a composite 0..1 `quality_score`. */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nChars = greatest(length(t), lit(1)).cast("double")
    // languageId's r16 recipe, same two wins: the regex tokenization
    // is materialized once per row in its own projection (inlined,
    // n_words / mean_word_len / stopword_ratio would each re-run
    // split+filter), and the stopword probe is an InSet hash lookup
    // (isin over literals), not an array scan. Bit-identical results.
    val tmpWords = freshCol(df, "__graft_quality_words")
    val words = col(tmpWords)
    val nWords = greatest(size(words), lit(1)).cast("double")
    val stopHits = size(filter(words, w => w.isin(Stopwords.En: _*)))
    val punct = length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))
    val digits = length(t) - length(regexp_replace(t, "[0-9]", ""))
    val upper = length(t) - length(regexp_replace(t, "[A-Z]", ""))
    df
      .withColumn(tmpWords, Tokens.letters(t))
      .withColumn("n_words", size(words))
      .withColumn("mean_word_len",
        (length(regexp_replace(lower(t), "[^\\p{L}]", "")).cast("double") / nWords))
      .withColumn("stopword_ratio", stopHits.cast("double") / nWords)
      .withColumn("punct_ratio", punct.cast("double") / nChars)
      .withColumn("digit_ratio", digits.cast("double") / nChars)
      .withColumn("upper_ratio", upper.cast("double") / nChars)
      .withColumn("quality_score",
        // each signal clipped to [0,1]; composite is their product —
        // documents fail "softly" on any one dimension
        least(lit(1.0), col("n_words").cast("double") / lit(20.0)) *
        least(lit(1.0), col("stopword_ratio") * lit(5.0)) *
        (lit(1.0) - least(lit(1.0), col("punct_ratio") * lit(3.0))) *
        (lit(1.0) - least(lit(1.0), col("digit_ratio") * lit(3.0))))
      .drop(tmpWords)
  }

  /** Per-source corpus-quality rollup — the curation-monitoring query
    * ("which crawl sources are junk?"): document count, language
    * spread, mean quality, and the share of documents below the
    * curation threshold, per source. One narrow projection (the
    * [[qualityScore]] signals) into one partial-aggregated groupBy on
    * a low-cardinality key — scan-speed at any corpus size.
    *
    * Per-row quality is rounded 6dp BEFORE aggregating: the rounded
    * values are the cross-engine-stable ones (text_quality's oracle
    * proves them hash-exact), so the below-threshold classification
    * can never flip on a boundary ulp. */
  def sourceProfile(
      df: DataFrame,
      textCol: String = "text",
      sourceCol: String = "source",
      langCol: String = "lang",
      minQuality: Double = 0.1): DataFrame = {
    // null text scores null → coalesce to 0.0 so the row counts as junk
    // in BOTH the mean and the share (avg would silently skip the null
    // while a SQL oracle's CASE counts it in the denominator — the
    // classic cross-engine null-divergence)
    val q = coalesce(round(col("quality_score"), 6), lit(0.0))
    qualityScore(df, textCol)
      .select(col(sourceCol), col(langCol), q.as("q"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        // size(collect_set), not countDistinct: the lang domain is a
        // handful of codes, so set state is bounded — and countDistinct
        // plans a second expand/aggregate shuffle this rollup doesn't need
        size(collect_set(col(langCol))).as("n_langs"),
        round(avg(col("q")), 6).as("avg_quality"),
        round(avg((col("q") < minQuality).cast("double")), 6).as("junk_share"))
  }

  /** N-gram/stopword language identification. Scores each language by
    * the fraction of the document's words that are that language's
    * high-frequency function words; picks the argmax, "und"
    * (undetermined) when no language scores above `minScore`.
    *
    * The per-language match counts are computed in ONE pass as an array
    * of codegen'd expressions — no explode, no shuffle, no UDF. */
  def languageId(
      df: DataFrame,
      textCol: String = "text",
      outputCol: String = "lang_pred",
      minScore: Double = 0.05): DataFrame = {
    // The two r16 costs of this projection, in order (the scoring
    // expression is this row family's whole cost):
    //  1. the regex tokenization is MATERIALIZED once per row in its
    //     own projection — inlined, the per-language score filters and
    //     the word count would each re-run split+filter (~11× per row;
    //     CollapseProject keeps an expensive alias referenced many
    //     times in its own Project, so the plan really computes it
    //     once);
    //  2. `isin` over the literal list, NOT array_contains over a
    //     literal array: the optimizer rewrites In(w, 15 literals) to
    //     InSet — one hash-set probe per (word, lang) where the array
    //     scan paid |stops| string compares.
    // Same result bit-for-bit; measured ~2× on the sf0.1 corpus
    // (text_language_confusion 0.91 → 0.46 s).
    val tmpWords = freshCol(df, s"__graft_langid_words_$outputCol")
    val words = col(tmpWords)
    val nWords = greatest(size(words), lit(1)).cast("double")
    val scored: Seq[(String, Column)] = Stopwords.Profiles.map {
      case (langCode, stops) =>
        langCode -> (size(filter(words, w => w.isin(stops: _*)))
          .cast("double") / nWords)
    }.toSeq
    // argmax over a struct array: sort_array on (score, lang) pairs
    val pairs = array(scored.map { case (l, s) =>
      struct(s.as("score"), lit(l).as("lang")) }: _*)
    val best = sort_array(pairs, asc = false).getItem(0)
    df.withColumn(tmpWords, Tokens.letters(col(textCol)))
      .withColumn(outputCol,
        when(best.getField("score") >= minScore, best.getField("lang"))
          .otherwise(lit("und")))
      .drop(tmpWords)
  }

  /** 64-bit polynomial rolling-hash fingerprint of the
    * whitespace-normalized, lowercased document — a deterministic
    * content id that is stable under reformatting. Built on xxhash64 of
    * the normalized text (single codegen'd expression; collision rate
    * ~2^-64 — fine for dedup candidate keys at 100 TB, where a
    * candidate-pair check still confirms). */
  def fingerprint(
      df: DataFrame,
      textCol: String = "text",
      outputCol: String = "fingerprint"): DataFrame =
    df.withColumn(outputCol, xxhash64(normalize(col(textCol))))

  /** Per-document Shannon character entropy (bits/char) — the standard
    * gibberish / compressibility quality signal (low = repetitive
    * noise, ~4-4.5 = natural language, high = random). Computed as a
    * shuffle-free projection: `array_sort` groups equal chars into
    * runs, run lengths come from the gaps between run-start indices —
    * O(len·log len) per row (a naive distinct×filter formulation is
    * O(distinct·len), ~10M comparisons for a 100 KB doc) — no
    * explode/groupBy, pipelines with the other per-row text signals at
    * scan speed. */
  def charEntropy(
      df: DataFrame,
      textCol: String = "text",
      outputCol: String = "char_entropy"): DataFrame = {
    val chars = regexp_extract_all(col(textCol), lit("[\\s\\S]"), lit(0))
    val sorted = array_sort(chars)
    val n = greatest(size(chars), lit(1)).cast("double")
    // Single left-fold over the sorted array: runs of equal chars are
    // counted incrementally (extending a run from k-1 to k adds
    // k·log2(k) − (k−1)·log2(k−1) to Σ cnt·log2(cnt)), then
    // H = log2(n) − Σ/n. CRITICAL for cost: the sorted array is the
    // HOF's own input. A lambda body can only bind lambda variables —
    // any OUTER expression it mentions (e.g. element_at(sorted, i)) is
    // duplicated into the body and re-evaluated per element, turning
    // the regex+sort into O(n²·log n) per row (measured: 287s for the
    // sf0.01 dump vs 0.7s for this form).
    val zero = struct(lit("").as("prev"), lit(0.0).as("run"), lit(0.0).as("acc"))
    val folded = aggregate(
      sorted,
      zero,
      (st, x) => {
        val isNew = st.getField("prev") =!= x
        val run = when(isNew, lit(1.0)).otherwise(st.getField("run") + 1.0)
        val acc = when(isNew, st.getField("acc")).otherwise(
          st.getField("acc") + run * log(2.0, run) -
            (run - 1.0) * log(2.0, run - 1.0))
        struct(x.as("prev"), run.as("run"), acc.as("acc"))
      },
      st => st.getField("acc"))
    df.withColumn(outputCol,
      when(size(chars) <= 0, lit(0.0))
        .otherwise(log(2.0, n) - folded / n))
  }

  /** Content-defined chunk fingerprints of the normalized text via the
    * Rabin-style rolling hash ([[graft.functions.RollingChunkHashes]]):
    * `array<long>` chunk hashes whose boundaries follow content, so
    * shared passages produce shared hashes at any offset. Input to
    * [[Dedup.passagePairs]]. */
  def chunkFingerprints(
      df: DataFrame,
      textCol: String = "text",
      outputCol: String = "chunk_hashes",
      avgChunkBits: Int = 6,
      window: Int = 16): DataFrame =
    df.withColumn(outputCol,
      graft.functions.RollingChunkHashes(
        normalize(col(textCol)), avgChunkBits, window))

  /** Gopher-style repetition signals (Rae et al. 2021, §A1.1): the
    * duplicate-2-gram fraction and the character share of the single
    * most frequent 2-gram — the standard "templated / boilerplate
    * document" quality filters for LLM training corpora. Tokens are
    * [[Tokens.words]].
    *
    * Shuffle-free: per-doc 2-gram counts come from `array_sort` + one
    * run-length fold (the [[charEntropy]] trick), NOT explode+groupBy —
    * at 100 TB an explode keyed by (doc_id, gram) is a shuffle of the
    * whole corpus re-written as n-grams, while this stays a per-row
    * projection at parquet-scan speed. Ties for the top gram break to
    * the lexicographically smallest (first in sorted order, strict `>`
    * in the fold), so the output is deterministic across engines. */
  def repetitionStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val Seq(tmpToks, tmpGrams, tmpRep) =
      Seq("_toks", "_grams", "_rep").map(freshCol(df, _))
    val (toks, grams, rep) = (col(tmpToks), col(tmpGrams), col(tmpRep))
    // tokens/grams bound as attributes first: a HOF lambda body inlines
    // any OUTER expression it references and re-evaluates it per
    // element — referencing the split/regex tree inside `transform`
    // would turn this into O(n²) regex work per row.
    val bound = df
      .withColumn(tmpToks, Tokens.words(col(textCol)))
      .withColumn(tmpGrams, array_sort(
        when(size(toks) >= 2,
          transform(sequence(lit(1), size(toks) - 1),
            i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
          .otherwise(array().cast("array<string>"))))
    // One left-fold over the sorted grams: run lengths count distinct
    // grams and track the longest run (= max multiplicity) plus its
    // gram. Strict `>` keeps the FIRST maximal run — the sort makes
    // that the lexicographically smallest top gram on ties.
    val zero = struct(lit("").as("prev"), lit(0).as("run"),
      lit(0).as("nDistinct"), lit(0).as("best"), lit("").as("bestGram"))
    val folded = aggregate(
      grams,
      zero,
      (st, x) => {
        val isNew = st.getField("prev") =!= x
        val run = when(isNew, lit(1)).otherwise(st.getField("run") + 1)
        val isBetter = run > st.getField("best")
        struct(x.as("prev"), run.as("run"),
          when(isNew, st.getField("nDistinct") + 1)
            .otherwise(st.getField("nDistinct")).as("nDistinct"),
          when(isBetter, run).otherwise(st.getField("best")).as("best"),
          when(isBetter, x).otherwise(st.getField("bestGram")).as("bestGram"))
      })
    val total = size(grams).cast("double")
    val nChars = greatest(length(col(textCol)), lit(1)).cast("double")
    bound
      .withColumn(tmpRep, folded) // bound once: 4 output columns read it
      .withColumn("ngram_total", size(grams))
      .withColumn("ngram_distinct", rep.getField("nDistinct"))
      .withColumn("dup_ngram_frac",
        when(col("ngram_total") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("ngram_distinct").cast("double") / total))
      .withColumn("top_ngram", rep.getField("bestGram"))
      .withColumn("top_ngram_count", rep.getField("best"))
      .withColumn("top_ngram_char_frac",
        when(col("ngram_total") === 0, lit(0.0))
          .otherwise(col("top_ngram_count").cast("double") *
            length(col("top_ngram")).cast("double") / nChars))
      .drop(tmpToks, tmpGrams, tmpRep)
  }

  /** PII detection patterns. Kept lookaround-free and alternation-free
    * so the SAME pattern produces the SAME matches under Java regex
    * (Spark) and RE2 (the DuckDB oracle): greedy character-class
    * quantifiers are leftmost-identical in both engines. Heuristic by
    * design — a redaction pass for training corpora, not a compliance
    * scanner. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9][0-9\\-]{7,}[0-9]"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val IdRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  /** Per-document PII hit counts (emails, intl-format phones, IPv4s,
    * SSN-shaped ids) + a 0/1 `has_pii` flag — the triage query before
    * [[piiRedact]]. All counts scan the ORIGINAL text independently,
    * so overlapping pattern families never mask each other. Narrow
    * codegen'd projection, zero shuffles. */
  def piiScan(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val cnt = (re: String) => size(regexp_extract_all(t, lit(re), lit(0)))
    df
      .withColumn("n_emails", cnt(EmailRe))
      .withColumn("n_phones", cnt(PhoneRe))
      .withColumn("n_ipv4", cnt(Ipv4Re))
      .withColumn("n_ids", cnt(IdRe))
      .withColumn("has_pii",
        (col("n_emails") + col("n_phones") + col("n_ipv4") + col("n_ids") > 0)
          .cast("int"))
  }

  /** Masks PII in place with typed placeholders. Passes apply in a
    * FIXED order (email → phone → IPv4 → id) so nested matches — an
    * id-shaped run inside a phone number — resolve identically in any
    * engine replaying the same sequence. */
  def piiRedact(
      df: DataFrame,
      textCol: String = "text",
      outputCol: String = "redacted"): DataFrame =
    df.withColumn(outputCol,
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), EmailRe, "[EMAIL]"),
            PhoneRe, "[PHONE]"),
          Ipv4Re, "[IP]"),
        IdRe, "[ID]"))

  /** Canonical text normalization used by fingerprint + exact dedup:
    * trim, lowercase, collapse all whitespace runs to single spaces. */
  def normalize(t: Column): Column =
    trim(regexp_replace(lower(t), "\\s+", " "))

  /** Fixed-size sliding-window document chunking — the
    * context-window-packing step of a training pipeline: each document
    * becomes ⌈n/stride⌉ chunks of up to `chunkTokens` whitespace
    * tokens, successive chunks starting `stride` tokens apart (stride <
    * chunkTokens ⇒ overlapping windows, the usual boundary-context
    * trick). Tokens are [[Tokens.whitespace]] runs (as in [[tokenStats]],
    * so chunk token counts and ws_token_count agree). Documents with no
    * tokens produce no chunks.
    *
    * Emits one row per chunk: all input columns plus `chunk_idx`
    * (0-based), `chunk_tokens` (actual token count — only the last
    * chunk per doc can be short), and `chunk` (the window re-joined
    * with single spaces).
    *
    * Scale notes: a pure narrow per-row projection + explode — no
    * shuffle, no UDF, no state — so it pipelines at parquet-scan speed
    * and parallelizes per input row at any corpus size. Output
    * amplification is the intended chunkTokens/stride overlap factor.
    * The token array and start list are bound as attributes before the
    * lambda/explode consume them (the [[charEntropy]] HOF-inlining
    * rule: referencing the regex tree inside a lambda would re-run it
    * per element). */
  def chunk(
      df: DataFrame,
      textCol: String = "text",
      chunkTokens: Int = 64,
      stride: Int = 48): DataFrame = {
    require(chunkTokens > 0 && stride > 0,
      s"chunkTokens/stride must be positive: $chunkTokens/$stride")
    val Seq(tmpToks, tmpStarts, tmpStart) =
      Seq("_toks", "_starts", "_start").map(freshCol(df, _))
    val (toks, start) = (col(tmpToks), col(tmpStart))
    val bound = df
      .withColumn(tmpToks, Tokens.whitespace(col(textCol)))
      .withColumn(tmpStarts,
        when(size(toks) > 0, sequence(lit(0), size(toks) - 1, lit(stride)))
          .otherwise(array().cast("array<int>")))
    bound
      .select(col("*"),
        posexplode(col(tmpStarts)).as(Seq("chunk_idx", tmpStart)))
      .withColumn("chunk_tokens", least(lit(chunkTokens), size(toks) - start))
      .withColumn("chunk",
        array_join(slice(toks, start + 1, lit(chunkTokens)), " "))
      .drop(tmpToks, tmpStarts, tmpStart)
  }

  /** Sequence-packing bin assignment — the "concatenate-and-split"
    * batching step of a training pipeline (documents are streamed in a
    * fixed order per group, concatenated, and cut into
    * `binTokens`-sized training sequences): each document is assigned
    * the bin its FIRST token lands in. Emits per doc: `n_tokens`
    * ([[Tokens.whitespace]] tokens, as in [[tokenStats]]),
    * `tokens_before` (running total of earlier docs in the group),
    * `bin_id` (= tokens_before / binTokens), and `bin_offset`
    * (= tokens_before % binTokens, the doc's start position inside its
    * bin). Deterministic: the order is (groupCol, idCol), no RNG.
    *
    * Scale: packing is inherently a sequential prefix-sum per group, so
    * the one shuffle is the running-total window partitioned by
    * `groupCol` — parallel ACROSS groups (sources/shards), sequential
    * within. For a single giant group, pre-shard upstream (e.g. add a
    * `pmod(xxhash64(id), nShards)` column and pack per (group, shard));
    * the assignment stays deterministic because the order key inside
    * each partition is still `idCol`. The window carries one LONG of
    * state per row — no buffering of the frame — and everything else is
    * a narrow projection. */
  def packBins(
      df: DataFrame,
      binTokens: Int = 2048,
      textCol: String = "text",
      idCol: String = "doc_id",
      groupCol: String = "source"): DataFrame = {
    require(binTokens > 0, s"binTokens must be positive: $binTokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df
      .withColumn("n_tokens", size(Tokens.whitespace(col(textCol))))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin_id", (col("tokens_before") / binTokens).cast("long"))
      .withColumn("bin_offset", col("tokens_before") % binTokens)
  }

  /** Token-length distribution per group (source/lang/shard) — the
    * corpus-shape profiling query behind curation thresholds ("what is
    * p95 doc length per crawl source?").
    *
    * Exact path (`exact = true`, validation/oracle): Spark's sort-based
    * `percentile` aggregate, whose linear interpolation matches DuckDB
    * `quantile_cont` bit-exactly (the robust_scaling parity result) —
    * but it buffers each group's value multiset, so it is the
    * small-SF/oracle path only. At-scale path (`exact = false`):
    * `approx_percentile` (Greenwald–Khanna sketch, `accuracy`
    * parameter) — bounded state per group, map-side combined, one
    * shuffle of sketches. Same output shape, swap one flag. */
  def lengthQuantiles(
      df: DataFrame,
      groupCol: String = "source",
      textCol: String = "text",
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    val nToks = size(Tokens.whitespace(col(textCol))).cast("double")
    val probs = "array(0.25D, 0.5D, 0.75D, 0.95D)"
    val q =
      if (exact) expr(s"percentile(n_tokens, $probs)")
      else expr(s"approx_percentile(n_tokens, $probs, $accuracy)")
    // quantiles rounded 6dp: the p95 interpolation fraction (0.95) is
    // not binary-exact, so the two engines' lo + frac·(hi−lo) can
    // differ in the last ulp (3.8499999999999996 vs 3.85) — the
    // standard cross-engine float-parity trick used across the repo
    df.select(col(groupCol), nToks.as("n_tokens"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), q.as("q"))
      .select(col(groupCol), col("n_docs"),
        round(col("q").getItem(0), 6).as("p25"),
        round(col("q").getItem(1), 6).as("p50"),
        round(col("q").getItem(2), 6).as("p75"),
        round(col("q").getItem(3), 6).as("p95"))
  }

  /** C4-style corpus-wide boilerplate line removal: a line whose exact
    * text appears in at least `minDf` DISTINCT documents is boilerplate
    * (cookie banners, nav menus, share footers — the text that repeats
    * across a crawl but carries no signal) and is dropped from every
    * document; all other lines are kept in their original order. Blank
    * lines (empty after trim) are structural, never counted and never
    * removed. Output: (idCol, text with boilerplate removed, n_lines,
    * n_removed) — one row per input document, docs whose every line was
    * boilerplate come back with empty text, not dropped.
    *
    * Scale shape: explode to (doc, line) once ([[Tokens.keepPieces]]);
    * the line-frequency table is a distinct + partial-agg count whose
    * result is Zipf-bounded (boilerplate is by definition few DISTINCT
    * strings repeated many times), so after the `minDf` filter the
    * boilerplate set is small enough to broadcast — the removal
    * anti-join costs no shuffle on the corpus side. Three corpus-sized
    * shuffle boundaries total (df-count, its distinct, reassembly),
    * each partial-aggregated. */
  def removeBoilerplate(
      df: DataFrame,
      minDf: Long,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    Tokens.keepPieces(df, split(col(textCol), "\n"), "\n", "n_lines",
        textCol, idCol) { lines =>
      val boiler = lines
        .filter(trim(col("piece")) =!= "")
        .select(col(idCol), col("piece")).distinct()
        .groupBy(col("piece")).agg(count(lit(1)).as("line_df"))
        .filter(col("line_df") >= minDf)
        .select(col("piece"))
      lines.join(broadcast(boiler), Seq("piece"), "left_anti")
    }

  /** Corpus-level heavy hitters: the `k` most frequent word `n`-grams
    * across the whole corpus with their exact counts — the
    * vocabulary-inspection / stopword-discovery / template-detection
    * query every curation run starts with ([[repetitionStats]] is the
    * per-DOC view; this is the per-CORPUS one).
    *
    * Grams come from the codegen [[graft.functions.WordNgrams]]
    * kernel, whose tokens are [[Tokens.words]] as in the dedup family,
    * so "top grams" and "dedup shingles" agree on what a gram is. Short docs (< n tokens) contribute nothing: the
    * single-token fallback grams are dropped by the exact
    * `size(split) = n` guard — tokens can never contain a space, so a
    * true n-gram has exactly n-1 of them.
    *
    * Scale shape — the one CORRECT exact-top-k plan at 100 TB:
    * explode pipelines inside the scan stage into a map-side partial
    * count (the gram stream never shuffles raw — only one partial row
    * per distinct gram per task crosses the wire), one final aggregate
    * keyed by gram, then `TakeOrderedAndProject` (per-partition top-k,
    * driver merges k × partitions rows — never a global sort). Ties
    * break count-desc then gram-asc, so the cut at rank k is total and
    * deterministic across engines. */
  def topNgrams(
      df: DataFrame,
      n: Int = 2,
      k: Int = 50,
      textCol: String = "text"): DataFrame = {
    require(n >= 1 && k >= 1, s"n and k must be >= 1, got n=$n k=$k")
    df.select(explode(
        graft.functions.WordNgrams(col(textCol), n, strictFallback = false))
        .as("gram"))
      .filter(size(split(col("gram"), " ")) === n)
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** Language-ID confusion matrix against a labeled column — the
    * evaluation row for [[languageId]] (every classifier the engine
    * ships needs its quality measured IN the engine): per (label,
    * predicted) counts plus the within-label share. One narrow
    * scoring projection + one partial-aggregated groupBy at
    * |langs|²-bounded output; the share window runs over that tiny
    * frame. */
  def languageConfusion(
      df: DataFrame,
      labelCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    languageId(df, textCol)
      .groupBy(col(labelCol), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col(labelCol)))
            .cast("double"), 6))
  }

  /** Per-document n-gram novelty — the gram-level memorization /
    * boilerplate metric (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", measures corpora exactly
    * this way): the share of a doc's DISTINCT n-grams that occur in
    * no other document (corpus df = 1). Low novelty = the doc is
    * assembled from corpus-common spans (template/boilerplate flood
    * or near-dup residue the pair-level dedup family missed); the
    * corpus-wide novelty distribution is the before/after evidence a
    * dedup pass is graded on.
    *
    * Scale shape (r15, tuned on the LOW-dup rehearsal where the
    * mutation-minted trigram vocabulary blew the string-keyed plan to
    * 9.7× at 10× data): grams travel as the shared 60-bit md5 hash,
    * not strings (8 bytes vs 20-40 through every Exchange; the oracle
    * hashes identically, so even the negligible collision mass is
    * bit-identical cross-engine), and ONE gram-hash repartition
    * serves the per-doc dedup (partial-aggregated under it — gh is a
    * subset of the (doc, gh) keys), the df fold, AND the join back —
    * two big Exchanges total (gh, then the doc-keyed count) where the
    * string-keyed first cut paid four. Docs shorter than `n` words
    * have no grams and no row — the honest contract, mirrored by the
    * oracle. */
  def gramNovelty(
      df: DataFrame,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams = df.select(col(idCol), explode(
        graft.functions.WordNgrams(col(textCol), n, strictFallback = false))
        .as("gram"))
      .filter(size(split(col("gram"), " ")) === n)
      .select(col(idCol), graft.functions.BottomK.hash64(col("gram")).as("gh"))
      .repartition(col("gh"))
      .dropDuplicates(idCol, "gh")
    val dfg = grams.groupBy(col("gh")).agg(count(lit(1)).as("df_grams"))
    grams.join(dfg, "gh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df_grams") === 1, lit(1))).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams").cast("double"),
          6))
  }

  /** Document-level PMI collocations over the vocabulary head (Church
    * & Hanks, 1990): for the `headK` terms with the highest document
    * frequency, score every co-occurring pair by
    * `pmi = ln(n·c_xy / (c_x·c_y))` on DOCUMENT counts (c_x = docs
    * containing x, c_xy = docs containing both) and keep the global
    * top `topK` by (pmi DESC, t1, t2) — the collocation / topicality
    * signal corpus curation uses to spot template floods (a pair at
    * pmi ≈ ln n occurs only together: boilerplate), and embedding
    * prep uses for phrase mining.
    *
    * Scale shape: one explode→distinct shuffle for (doc, term) — the
    * same first stage every text row pays; df folds off it at
    * vocabulary scale; the head is TakeOrderedAndProject and then
    * BROADCAST, so restricting the pair stage to head terms is a
    * broadcast semi-join, and the self-join fan-out is bounded at
    * C(headK, 2) pairs per doc, joined doc-keyed (co-partitioned,
    * one shuffle) — never a vocabulary × vocabulary relation. All
    * counts are exact integers; only the final ln is floating (6dp,
    * pre-rank — the repo float contract). `minPairCount` drops
    * single-doc accidents. */
  def pmiCollocations(
      df: DataFrame,
      headK: Int = 30,
      topK: Int = 50,
      minPairCount: Long = 2L,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docTerms = Tokens.terms(df, textCol, col(idCol).as("doc")).distinct()
    val nDocs = df.select(col(idCol)).distinct().count()
    val head = docTerms.groupBy(col("term"))
      .agg(count(lit(1)).as("df_docs"))
      .orderBy(col("df_docs").desc, col("term"))
      .limit(headK)
    val headDocs = docTerms.join(broadcast(head), "term")
    val pairs = headDocs.select(col("doc"), col("term").as("t1"),
        col("df_docs").as("c_x"))
      .join(headDocs.select(col("doc"), col("term").as("t2"),
        col("df_docs").as("c_y")), "doc")
      .filter(col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"), col("c_x"), col("c_y"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minPairCount)
    // doubles throughout the ratio: BIGINT c_x·c_y would overflow at
    // web-corpus df scales (DuckDB errors on BIGINT overflow, Spark
    // wraps — both wrong); double products stay finite and the two
    // engines spell the same operand order
    val pmi = round(log(lit(nDocs.toDouble) * col("c_xy") /
      (col("c_x").cast("double") * col("c_y").cast("double"))), 6)
    // partition-less window, BOUNDED (r19 WindowExec audit): the
    // rank <= topK predicate rewrites the input to a distributed
    // TakeOrderedAndProject (plan-verified), so the single-partition
    // Window only ever re-ranks <= topK rows — never the pair relation
    val w = Window.orderBy(col("pmi").desc, col("t1"), col("t2"))
    pairs.withColumn("pmi", pmi)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("t1"), col("t2"), col("c_x"), col("c_y"), col("c_xy"),
        col("pmi"), col("rank"))
  }
}

/** High-frequency function words per language (public linguistic
  * knowledge; ~15 per language is plenty for coarse lang-id). */
object Stopwords {
  val En: Seq[String] = Seq("the", "of", "and", "to", "in", "is", "that",
    "it", "was", "for", "on", "are", "with", "as", "this")
  val De: Seq[String] = Seq("der", "die", "das", "und", "ist", "von",
    "mit", "den", "nicht", "ein", "eine", "auf", "im", "dem", "zu")
  val Fr: Seq[String] = Seq("le", "la", "les", "de", "des", "et", "est",
    "un", "une", "dans", "que", "pour", "qui", "au", "pas")
  val Es: Seq[String] = Seq("el", "la", "los", "las", "de", "que", "y",
    "en", "un", "una", "es", "por", "con", "para", "no")
  val It: Seq[String] = Seq("il", "la", "di", "che", "e", "un", "una",
    "per", "non", "sono", "con", "del", "le", "si", "da")

  val Profiles: Map[String, Seq[String]] =
    Map("en" -> En, "de" -> De, "fr" -> Fr, "es" -> Es, "it" -> It)
}
