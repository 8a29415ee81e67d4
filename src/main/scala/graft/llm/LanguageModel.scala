package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-based n-gram language-model perplexity — the CCNet/C4-style
  * quality signal: train a word-bigram model on a reference corpus,
  * score every document by its per-bigram perplexity, and filter (or
  * bucket) on the score. Documents full of improbable word sequences
  * (boilerplate, lorem, non-language noise, wrong-language text) score
  * high; fluent text scores low. Unlike the heuristic
  * [[TextAnalysis.qualityScore]], the signal adapts to whatever corpus
  * the model was trained on.
  *
  * Model definition (stated once, mirrored exactly by the DuckDB
  * oracle): tokens are [[Tokens.letters]] (as in languageId and
  * qualityScore); a document's bigrams are
  * its adjacent token pairs; the context count c(w1) counts w1's
  * occurrences AS A CONTEXT (i.e. over bigrams, not raw tokens — no
  * sentence-boundary bookkeeping); V is the corpus-wide distinct token
  * count; and p(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V) — add-k
  * smoothing so the model also scores unseen-bigram documents finitely
  * when applied to a different corpus. Per-doc score:
  * ppl = exp(−mean log p) over the doc's bigrams (multiplicity kept);
  * docs with < 2 tokens have no bigrams and score NULL.
  *
  * Scale shape: two corpus aggregations build the model (token counts,
  * bigram counts — both Zipf-bounded, far smaller than the corpus),
  * then scoring is a shuffle join of doc-bigrams against the model on
  * (w1, w2) followed by a doc-keyed re-aggregation. The model tables
  * partition by word hash, so the hot-head of the Zipf curve spreads
  * over reducers by the SECOND word too; at 100 TB the usual deploy is
  * train-once score-many, with the fitted model persisted as parquet
  * ([[bigramModel]] output) and reused across scoring runs.
  */
object LanguageModel {

  /** (doc_id, w1, w2) — one row per adjacent token pair, multiplicity
    * kept; built with an index transform over the token array so the
    * corpus is tokenized ONCE (no per-bigram regex re-evaluation). */
  private def docBigrams(
      docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol), Tokens.letters(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> struct(ws[i-1] AS w1, ws[i] AS w2))")).as("bg"))
      .select(col(idCol), col("bg.w1"), col("bg.w2"))

  /** The fitted model: one row per observed bigram with its smoothed
    * conditional probability — (w1, w2, c12, c1, p). Persist this
    * frame (parquet, bucketed by (w1, w2)) to score later corpora
    * without re-training. */
  def bigramModel(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Double = 0.5): DataFrame = {
    val bigrams = docBigrams(docs, textCol, idCol)
    val contexts = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = docs
      .select(explode(Tokens.letters(col(textCol))).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val pairs = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    pairs
      .join(contexts, "w1")
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        ((col("c12") + lit(k)) / (col("c1") + lit(k) * col("v")))
          .as("p"))
  }

  /** Score `docs` against a fitted `model` (any [[bigramModel]]
    * output): (idCol, n_bigrams, ppl). Bigrams absent from the model
    * get the unseen-pair smoothed probability k / (c(w1) + k·V) — or
    * the fully-unseen k / (k·V) when even w1 is unknown — so scoring a
    * corpus the model never saw stays finite. */
  def perplexityAgainst(
      docs: DataFrame,
      model: DataFrame,
      vocabSize: Long,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Double = 0.5): DataFrame =
    perplexityShape(docs,
      perplexityAggregates(docs, model, vocabSize, textCol, idCol, k),
      idCol)

  /** The per-doc scoring aggregates of [[perplexityAgainst]], split
    * out (r16) so the STREAMING leg can run them: every stage is
    * stream-composable — the bigram explode is stateless, the model
    * and context joins are stream-static left joins against the
    * RELOADED artifact, and the per-doc aggregate runs in complete
    * mode (state = one row per doc seen, the same linear-in-corpus
    * contract as the merge-snapshot keeper). The batch leg composes
    * the identical frames, so the streamed scores answer the SAME
    * oracle as train-then-score ([[crossPerplexity]]). */
  private[graft] def perplexityAggregates(
      docs: DataFrame,
      model: DataFrame,
      vocabSize: Long,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Double = 0.5): DataFrame = {
    val contexts = model.groupBy(col("w1"))
      .agg(first(col("c1")).as("c1"))
    docBigrams(docs, textCol, idCol)
      .join(model.select(col("w1"), col("w2"), col("p")),
        Seq("w1", "w2"), "left")
      .join(contexts, Seq("w1"), "left")
      .withColumn("lp", log(coalesce(
        col("p"),
        lit(k) / (coalesce(col("c1"), lit(0L)) + lit(k) * lit(vocabSize.toDouble)))))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_bigrams"),
        exp(-avg(col("lp"))).as("ppl"))
  }

  /** Output shaping shared by the batch and streaming legs: docs with
    * fewer than 2 tokens score no bigrams and surface as (0, null) —
    * the left join back to the full corpus makes that explicit. */
  private[graft] def perplexityShape(
      docs: DataFrame,
      aggs: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol))
      .join(aggs, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("ppl"), 6).as("ppl"))

  /** Train-on-A score-B: fit the bigram model (and its vocab size) on
    * `trainDocs`, score `scoreDocs` — the CCNet deployment shape (a
    * model trained on a trusted reference slice, e.g. one language or
    * one curated source, scores the incoming corpus; in-domain text
    * scores low, out-of-domain/noise scores high). Bigrams absent from
    * the model exercise [[perplexityAgainst]]'s smoothing fallbacks —
    * known-context k/(c1 + k·V), unknown-context k/(k·V) — which is
    * precisely what makes a cross-corpus score finite. The vocab count
    * is one driver-scale aggregate over the TRAIN slice only. */
  def crossPerplexity(
      trainDocs: DataFrame,
      scoreDocs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Double = 0.5): DataFrame = {
    val model = bigramModel(trainDocs, textCol, idCol, k)
    val v = trainDocs.select(explode(Tokens.letters(col(textCol))).as("w"))
      .agg(countDistinct(col("w"))).head().getLong(0)
    perplexityAgainst(scoreDocs, model, v, textCol, idCol, k)
  }

  /** Persist a fitted model ([[bigramModel]] output) plus its vocab
    * size — the train-once / score-many deployment the header
    * describes: nightly scoring runs reload the artifact instead of
    * re-aggregating the reference corpus. The model rows go to PLAIN
    * parquet: the model is vocab²-bounded (typically MBs, broadcast
    * into the scoring join), so bucketing buys nothing here. A caller
    * whose model outgrows broadcast range can bucket it on (w1, w2)
    * via [[graft.sources.Sources.writeBucketed]] before scoring —
    * an optional optimization applied at the call site, not by this
    * writer. `v` goes to a one-row parquet so model and vocab size
    * cannot desynchronize. */
  def writeModel(model: DataFrame, vocabSize: Long,
      basePath: String): Unit = {
    model.write.mode("overwrite").parquet(s"$basePath/model")
    val spark = model.sparkSession
    import spark.implicits._
    Seq(vocabSize).toDF("v")
      .coalesce(1).write.mode("overwrite").parquet(s"$basePath/meta")
  }

  /** Reload a persisted model; see [[writeModel]]. */
  def readModel(spark: org.apache.spark.sql.SparkSession,
      basePath: String): (DataFrame, Long) =
    (spark.read.parquet(s"$basePath/model"),
      spark.read.parquet(s"$basePath/meta").head().getLong(0))

  /** Self-scored perplexity: train on `docs`, score `docs` — the
    * one-corpus form used for intra-corpus quality bucketing. Every
    * doc bigram is in the model by construction, so the unseen branch
    * never fires here. */
  def perplexity(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Double = 0.5): DataFrame = {
    val model = bigramModel(docs, textCol, idCol, k)
    val v = docs.select(explode(Tokens.letters(col(textCol))).as("w"))
      .agg(countDistinct(col("w"))).head().getLong(0)
    perplexityAgainst(docs, model, v, textCol, idCol, k)
  }

  /** The filter form: keep documents with ppl ≤ `maxPpl` (and docs too
    * short to score, which the caller's length filters own). */
  def perplexityFilter(
      docs: DataFrame,
      maxPpl: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Double = 0.5): DataFrame =
    docs.join(
      perplexity(docs, textCol, idCol, k)
        .filter(col("ppl").isNull || col("ppl") <= maxPpl)
        .select(col(idCol)),
      Seq(idCol))
}
