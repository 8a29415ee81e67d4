package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary LEARNING (Sennrich et al., ACL'16) —
  * the tokenizer-training operator of the LLM-pipeline family: count
  * the corpus word table, represent each word as a character symbol
  * sequence, and repeatedly merge the globally most frequent adjacent
  * symbol pair. The registered rows unroll a FIXED number of merge
  * steps under the DuckDB oracle — the `dim_reduction_kmeans_lloyd`
  * treatment of an iterative fit: the actual iteration arithmetic is
  * hash-verified, only open-ended looping stays out of the gate.
  *
  * Determinism contract (what makes the oracle possible):
  *  - pair counts follow the classical overlapping zip (a word
  *    `aaaa` contributes THREE (a,a) pairs — Sennrich's get_stats);
  *  - the chosen merge is the (count DESC, left ASC, right ASC)
  *    minimum — a total order, so engines cannot disagree on ties;
  *  - applying a merge rewrites each word LEFTMOST-NONOVERLAP
  *    (`aaaa` + (a,a) → `aa aa`), implemented positionally: mark
  *    matching positions, keep alternate members of each run of
  *    consecutive matches (runs longer than 1 only arise when
  *    left == right), drop the consumed right neighbors — window
  *    functions both engines share, no regex (RE2 has no lookaround)
  *    and no fold (DuckDB's list_reduce cannot build lists).
  *
  * Scale shape: the corpus-sized work is ONE word-count aggregation;
  * everything after runs on the bounded `topWords` table (the
  * standard BPE practice of learning from a frequency-thresholded
  * vocabulary — at 100 TB the word table is itself large, so the
  * bound is load-bearing, stated, and the selection is deterministic:
  * count DESC, word ASC via TakeOrdered, never a global sort). Each
  * step's best pair is a ONE-ROW driver artifact (the KMeans-centroid
  * precedent); the merge rewrite shuffles only the ≤ topWords symbol
  * table. */
object Bpe {

  /** Corpus word table, bounded: top `topWords` by (count DESC, word
    * ASC). Words are [[Tokens.letters]]. */
  def wordTable(df: DataFrame, topWords: Int,
      textCol: String = "text"): DataFrame =
    df.select(explode(Tokens.letters(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")) // TakeOrdered, no sort
      .limit(topWords)

  /** Initial symbol sequences: one row per character position,
    * (word, cnt, i, s) with 1-based i. */
  def initialSymbols(words: DataFrame): DataFrame =
    words.select(col("word"), col("cnt"),
      posexplode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as(Seq("pos", "s")))
      .select(col("word"), col("cnt"), (col("pos") + 1).as("i"), col("s"))

  /** Weighted adjacent-pair counts over a symbol frame (overlapping,
    * the classical statistic). */
  def pairCounts(syms: DataFrame): DataFrame = {
    val a = syms.as("a"); val b = syms.as("b")
    a.join(b, col("a.word") === col("b.word") &&
        col("b.i") === col("a.i") + 1)
      .groupBy(col("a.s").as("left"), col("b.s").as("right"))
      .agg(sum(col("a.cnt")).as("pair_count"))
  }

  /** One merge applied leftmost-nonoverlap: positions matching
    * (l, r) are resolved by run parity, consumed right neighbors are
    * dropped, positions reindexed. */
  def applyMerge(syms: DataFrame, l: String, r: String): DataFrame = {
    val w = Window.partitionBy("word").orderBy("i")
    val marked = syms.withColumn("mt",
      coalesce(col("s") === lit(l) &&
        lead(col("s"), 1).over(w) === lit(r), lit(false)))
    val grouped = marked.withColumn("grp",
      sum(when(col("mt"), 0).otherwise(1)).over(w))
    val runStart = Window.partitionBy("word", "grp", "mt")
    val kept = grouped
      .withColumn("run_i", min(col("i")).over(runStart))
      .withColumn("keepm",
        col("mt") && (col("i") - col("run_i")) % 2 === 0)
      .withColumn("consumed",
        coalesce(lag(col("keepm"), 1).over(w), lit(false)))
      .filter(col("keepm") || !col("consumed"))
    kept.select(col("word"), col("cnt"),
      row_number().over(w).as("i"),
      when(col("keepm"), concat(col("s"), lit(r)))
        .otherwise(col("s")).as("s"))
  }

  /** Unrolled BPE learning: `steps` merges over the bounded word
    * table. Returns (merges, finalSymbols) — merges is
    * (step, left, right, pair_count), one row per step; each step's
    * winner is a one-row driver draw (bounded model artifact).
    *
    * `merges` may hold FEWER than `steps` rows: once a step finds no
    * adjacent pair at all (every word fully merged into one symbol)
    * the symbol frame cannot change again, so learning stops at the
    * first empty argmax rather than burning the remaining steps on
    * identical driver round-trips. */
  def learn(df: DataFrame, steps: Int, topWords: Int,
      textCol: String = "text"): (DataFrame, DataFrame) = {
    require(steps >= 1 && topWords >= 1,
      s"steps/topWords must be positive, got $steps/$topWords")
    val spark = df.sparkSession
    import spark.implicits._
    var syms = initialSymbols(wordTable(df, topWords, textCol))
      // the step windows re-scan this small frame steps×3 times;
      // cache once, bounded by topWords × max word length rows
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var done = false
    while (step <= steps && !done) {
      val best = pairCounts(syms)
        .orderBy(col("pair_count").desc, col("left"), col("right"))
        .limit(1).collect() // ONE row: the step's model artifact
      if (best.isEmpty) done = true // no pairs left: frame is fixed
      else {
        val (l, r, pc) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((step, l, r, pc))
        syms = applyMerge(syms, l, r).localCheckpoint(true)
      }
      step += 1
    }
    // merge_left/merge_right: LEFT/RIGHT are reserved words in the
    // oracle dialect — neutral names keep both engines unquoted
    (merges.result().toDF("step", "merge_left", "merge_right",
      "pair_count"), syms)
  }

  /** Corpus ENCODING with a learned vocabulary: per-document BPE
    * token counts — every word joins the (bounded, broadcast)
    * segmentation table for its symbol count; out-of-vocabulary words
    * fall back to character count (the classical char-fallback
    * tokenizer floor). This is the tokenizer-THROUGHPUT shape a
    * pretraining pipeline runs over the whole corpus: one narrow
    * projection, one broadcast join against the ≤ topWords vocab, one
    * doc-keyed aggregation — no vocab-keyed shuffle, no per-word
    * state. Documents with no letter tokens have no word rows and are
    * absent from the output (mirrored by the oracle's GROUP BY). */
  def encodeTokenCounts(df: DataFrame, finalSyms: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val vocab = segmentation(finalSyms)
      .select(col("word"), size(split(col("seg"), " ")).as("n_syms"))
    df.select(col(idCol), explode(Tokens.letters(col(textCol))).as("word"))
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("n_syms"), length(col("word"))))
        .as("n_bpe_tokens"),
        count(lit(1)).as("n_words"))
  }

  /** Render a symbol frame as one segmentation string per word —
    * the driver-comparable shape. */
  def segmentation(syms: DataFrame): DataFrame =
    syms.groupBy(col("word"), col("cnt"))
      .agg(array_join(transform(array_sort(
        collect_list(struct(col("i"), col("s")))), x => x.getField("s")),
        " ").as("seg"))
      .select(col("word"), col("cnt").as("n_word"), col("seg"))
}
