package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The word tokenizer rules of the text operators, each written once,
  * and the split-keep-rejoin stage of the line and substring removers.
  * Every pattern is lookaround-free, so the DuckDB oracle's RE2 regex
  * spells the same rule (RE2's `\s`, unlike Java's, lacks U+000B).
  * [[graft.functions.WordNgrams]] keeps its own compiled copy of the
  * [[words]] rule. */
private[graft] object Tokens {

  /** Separator of [[words]]: any run of chars that is neither a letter
    * nor a digit. Also the `RegexTokenizer` pattern of
    * [[TextFeatures.tfidf]]. */
  val WordSeparator = "[^\\p{L}\\p{N}]+"

  /** Lower-cased alphanumeric runs, empties dropped. */
  def words(text: Column): Column =
    filter(split(lower(text), WordSeparator), w => length(w) > 0)

  /** Lower-cased letter runs (digits and marks separate words). */
  def letters(text: Column): Column =
    regexp_extract_all(lower(text), lit("[\\p{L}]+"), lit(0))

  /** `\S+` runs, case kept. */
  def whitespace(text: Column): Column =
    regexp_extract_all(text, lit("\\S+"), lit(0))

  /** One `term` row per [[words]] token of `textCol`, after the `keep`
    * columns. */
  def terms(df: DataFrame, textCol: String, keep: Column*): DataFrame =
    df.select(keep :+ explode(words(col(textCol))).as("term"): _*)

  /** Split-keep-rejoin: `pieces` (an array over `df`'s row) explodes to
    * `(idCol, idx, piece)` rows, `keep` drops some of them, and the
    * survivors rejoin in order with `sep`. Returns one row per `df` row:
    * `(idCol, textCol = rejoined text, countCol = size(pieces),
    * n_removed)`; a row that kept nothing comes back with empty text.
    * Reassembly is one groupBy(id) of (idx, piece) structs sorted
    * in-array: no window, no SinglePartition. */
  def keepPieces(
      df: DataFrame,
      pieces: Column,
      sep: String,
      countCol: String,
      textCol: String,
      idCol: String)(keep: DataFrame => DataFrame): DataFrame = {
    val exploded = df.select(col(idCol),
      posexplode(pieces).as(Seq("idx", "piece")))
    val rebuilt = keep(exploded)
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("idx"), col("piece")))),
            s => s.getField("piece")),
          sep).as("clean_text"),
        count(lit(1)).as("n_kept"))
    // long, not int: the cross-engine twin (DuckDB len()) is BIGINT
    df.select(col(idCol), size(pieces).cast("long").as(countCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as(textCol),
        col(countCol),
        (col(countCol) - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }
}
