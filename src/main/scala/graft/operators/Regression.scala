package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Closed-form simple linear regression — the SQL-standard `REGR_*`
  * family (slope / intercept / r² / Pearson r / n) computed from the
  * five sufficient sums in ONE partial-aggregated pass, never an
  * iterative fit: `slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`,
  * `intercept = (Σy − slope·Σx)/n`, `r = cov-form / √(varx·vary)`.
  *
  * The formulas are spelled OPERAND-FOR-OPERAND like the DuckDB
  * oracles (no built-in `regr_slope`, whose internal update order is
  * engine-private) so the 6dp-rounded outputs are hash-exact — the
  * repo's float contract. Rows where either side is NULL are dropped
  * (the SQL-standard REGR_ semantics).
  *
  * Scale shape: one scan, map-side partial aggregation of six
  * numbers per group — the cheapest possible model fit at 100 TB,
  * and the degenerate cases (n < 2, zero x-variance) surface as NULL
  * columns rather than errors, exactly like the SQL functions. */
object Regression {

  /** Per-group OLS of `yCol` on `xCol`. `groupCols` empty → one
    * global row (grouped under a literal `all` key so the output
    * schema stays stable). */
  def linearFit(
      df: DataFrame,
      groupCols: Seq[String],
      xCol: Column,
      yCol: Column): DataFrame = {
    val x = xCol.cast("double")
    val y = yCol.cast("double")
    val keyed =
      if (groupCols.nonEmpty) df.groupBy(groupCols.map(col): _*)
      else df.groupBy(lit("all").as("group_key"))
    val sums = keyed.agg(
      count(when(x.isNotNull && y.isNotNull, lit(1))).as("n_rows"),
      sum(when(y.isNotNull, x)).as("sx"),
      sum(when(x.isNotNull, y)).as("sy"),
      sum(x * y).as("sxy"),
      sum(when(y.isNotNull, x * x)).as("sxx"),
      sum(when(x.isNotNull, y * y)).as("syy"))
    val n = col("n_rows").cast("double")
    val covn = n * col("sxy") - col("sx") * col("sy")
    val varxn = n * col("sxx") - col("sx") * col("sx")
    val varyn = n * col("syy") - col("sy") * col("sy")
    // NULL on degenerate inputs (n<2 or constant x/y) like SQL REGR_
    val slope = when(varxn > 0.0, covn / varxn)
    val intercept = when(varxn > 0.0,
      (col("sy") - (covn / varxn) * col("sx")) / n)
    val r = when(varxn > 0.0 && varyn > 0.0,
      covn / sqrt(varxn * varyn))
    sums.select(
      (if (groupCols.nonEmpty) groupCols.map(col)
       else Seq(col("group_key"))) ++ Seq(
        col("n_rows"),
        round(slope, 6).as("slope"),
        round(intercept, 6).as("intercept"),
        round(r, 6).as("corr"),
        round(r * r, 6).as("r2")): _*)
  }

  /** Zipf rank-frequency diagnostic over a token corpus: exact term
    * counts, the top-`topN` head by (count DESC, term) — a total
    * order — and OLS of ln(count) on ln(rank). A Zipfian corpus fits
    * slope ≈ −1 with high r²; drift in the slope across snapshots
    * flags corpus-mix changes (boilerplate floods flatten the head,
    * dedup losses fatten it).
    *
    * Scale shape: one token-count shuffle (vocabulary-sized output),
    * then the head selection plans as TakeOrderedAndProject — the
    * distributed partial top-k, never a global sort — so the only
    * single-partition work is the rank window over ≤ topN rows. Zipf
    * is conventionally fit on the head anyway (the hapax tail never
    * follows the law); the regression itself aggregates six numbers. */
  def zipfFit(
      docs: DataFrame,
      textCol: String = "text",
      topN: Int = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val head = graft.llm.Tokens.terms(docs, textCol).groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(topN)
    val ranked = head.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
    linearFit(ranked, Seq.empty,
      log(col("rank").cast("double")), log(col("cnt").cast("double")))
  }
}
