package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Robust (median/IQR) scaling of scalar numeric columns.
  *
  * Semantics match the reference's `robust_scaling`
  * (reference: spark_ml_features.py:130-159): for each selected column
  * append `{col}_scaled = (col - median) / IQR`, skipping columns whose
  * IQR <= 1e-10 (spark_ml_features.py:155). Per SURVEY.md Q3 the
  * default column set is the *numeric* columns only (the reference's
  * stated intent), and per Q7 all quantiles are computed on the input
  * DataFrame, never on previously appended `_scaled` columns.
  *
  * Scale design (100 TB): the reference runs one `approxQuantile` job
  * per column, sequentially. We instead compute the quantile triples for
  * ALL columns in a single aggregation job (one scan, partial+final agg,
  * fixed-size driver result: 3 doubles per column), then bake the
  * medians/IQRs into one literal projection that Catalyst constant-folds
  * into whole-stage codegen. Two paths:
  *   - exact  = sort-based `percentile` (matches DuckDB `quantile_cont`
  *     linear interpolation — used for the oracle-checked query).
  *     VALIDATION SCALE ONLY: Spark's sort-based `percentile` buffers a
  *     value→count multiset per partition, so on high-cardinality
  *     doubles its memory grows with the partition's distinct values —
  *     a cliff at 100 TB. Never the at-scale path;
  *   - approx = Greenwald–Khanna `approx_percentile` with relative
  *     error `quantileError` (the reference's own sketch; the at-scale
  *     default — bounded memory per partition, no global sort).
  */
object RobustScaling {
  val IqrGuard = 1e-10

  /** Columns eligible for scaling when the caller passes none. */
  def numericColumns(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSeq

  /** Exact quantiles for several columns/probabilities as a
    * DISTRIBUTION aggregation instead of the sort-based `percentile`
    * aggregate (r19, optimization guide §2.1 pre-aggregation). The
    * `percentile` expression buffers a value→count multiset per
    * partition and merges every partition's map INTO ONE FINAL TASK —
    * on 600 k near-unique doubles that single-task merge+sort measured
    * 2.0 s of feature_winsorize's 3.4 s (partials another 1.0 s on the
    * scan's 3 tasks). Here the same multiset is built as a distributed
    * `groupBy(col, value).count()` (partial-aggregated, parallel), the
    * cumulative rank is one per-column window over the DISTINCT values,
    * and only (column, n, lowerKey, higherKey) per probability — a few
    * rows — reach the driver, where Spark's own `Percentile`
    * interpolation arithmetic is applied verbatim: position =
    * p·(n−1); keys at 1-indexed ranks floor(position)+1 /
    * ceil(position)+1; result = lowerKey when floor == ceil or the two
    * keys coincide, else (ceil−position)·lowerKey +
    * (position−floor)·higherKey — the identical IEEE double ops on the
    * identical operands, so results are bit-for-bit the old path's
    * (and still match DuckDB `quantile_cont`, the oracle contract).
    * Nulls are dropped exactly as the aggregate skips them; an
    * all-null (or empty) column is absent from the result map. */
  private def exactQuantiles(
      df: DataFrame,
      cols: Seq[String],
      probs: Seq[Double]): Map[String, Seq[Double]] = {
    import org.apache.spark.sql.expressions.Window
    // NOT spread before the aggregate (r19 measured, guide §1): a
    // (c, v)-keyed repartition of the raw pairs to defaultParallelism
    // replaced the 3-scan-task map-side partial agg with a 1.8M-row
    // full shuffle and regressed winsorize 2.07 → 3.29 s — the
    // combine-then-shuffle shape wins even under-parallelized.
    val pairs = df.select(explode(array(cols.zipWithIndex.map {
        case (c, i) => struct(lit(i).as("c"), col(c).cast("double").as("v"))
      }: _*)).as("cv"))
      .select(col("cv.c").as("c"), col("cv.v").as("v"))
      .where(col("v").isNotNull)
    val dist = pairs.groupBy(col("c"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      // pin the window's distribution to one partition per column:
      // left to AQE the few-MB post-shuffle frame coalesces into ONE
      // task and every column's rank sort serializes behind the
      // largest (measured 1.45 s single-task for 3 columns); an
      // explicit column-keyed repartition keeps the per-column sorts
      // parallel (parallelism = |cols|, the natural bound here)
      .repartition(cols.size, col("c"))
    val wCum = Window.partitionBy(col("c")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("c"))
    val ranked = dist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
    // rank r (1-indexed) lives on the row with cum-cnt < r <= cum
    def keyAt(rank: Column): Column =
      max(when(col("cum") - col("cnt") < rank && rank <= col("cum"),
        col("v")))
    val aggs = probs.zipWithIndex.flatMap { case (p, i) =>
      val pos = lit(p) * (col("n") - lit(1L)).cast("double")
      Seq(keyAt(floor(pos) + lit(1L)).as(s"lo_$i"),
        keyAt(ceil(pos) + lit(1L)).as(s"hi_$i"))
    }
    val rows = ranked.groupBy(col("c"))
      .agg(max(col("n")).as("n"), aggs: _*)
      .collect()
    rows.map { r =>
      val ci = r.getInt(r.fieldIndex("c"))
      val n = r.getLong(r.fieldIndex("n"))
      val qs = probs.zipWithIndex.map { case (p, i) =>
        val position = p * (n - 1)
        val lower = math.floor(position).toLong
        val higher = math.ceil(position).toLong
        val lowerKey = r.getDouble(r.fieldIndex(s"lo_$i"))
        val higherKey = r.getDouble(r.fieldIndex(s"hi_$i"))
        if (higher == lower) lowerKey
        else if (higherKey == lowerKey) lowerKey
        else (higher - position) * lowerKey + (position - lower) * higherKey
      }
      cols(ci) -> qs
    }.toMap
  }

  def apply(
      df: DataFrame,
      columns: Seq[String] = Nil,
      quantileError: Double = 0.05,
      exact: Boolean = false): DataFrame = {
    val cols = if (columns.nonEmpty) columns else numericColumns(df)
    if (cols.isEmpty) return df

    // One job computes q25/q50/q75 for every column at once: the
    // distributed distribution path when exact (see [[exactQuantiles]]),
    // the GK sketch aggregate otherwise.
    val probs = Seq(0.25, 0.5, 0.75)
    val quantiles: Map[String, Seq[Double]] =
      if (exact) exactQuantiles(df, cols, probs)
      else {
        val qExprs: Seq[Column] = cols.map { c =>
          percentile_approx(col(c).cast("double"),
            array(probs.map(lit): _*),
            lit(math.max(1, math.ceil(1.0 / quantileError).toInt))).as(c)
        }
        val row = df.agg(qExprs.head, qExprs.tail: _*).head()
        cols.flatMap { c =>
          val idx = row.fieldIndex(c)
          if (row.isNullAt(idx)) None // all-null column
          else Some(c -> row.getSeq[Double](idx).toSeq)
        }.toMap
      }

    val scaled: Seq[(String, Column)] = cols.flatMap { c =>
      quantiles.get(c).flatMap { case Seq(q25, q50, q75) =>
        val iqr = q75 - q25
        if (iqr <= IqrGuard) None // constant column: skip, as the reference does
        else Some(s"${c}_scaled" -> ((col(c) - lit(q50)) / lit(iqr)))
      }
    }
    scaled.foldLeft(df) { case (acc, (name, expr)) => acc.withColumn(name, expr) }
  }

  /** Winsorization: clip each selected column into its `[lo, hi]`
    * quantile range, appended as `{col}_wins` — the outlier treatment a
    * feature pipeline applies when it wants to KEEP extreme rows but
    * bound their leverage (robust scaling's complement: scaling
    * re-centers, winsorizing caps).
    *
    * Scale design mirrors [[apply]]: ONE aggregation job computes the
    * (lo, hi) pair for every column at once (fixed-size driver result,
    * 2 doubles per column), then the clip is a literal
    * `least(greatest(x, lo), hi)` projection that constant-folds into
    * whole-stage codegen — zero extra shuffles, no per-column jobs.
    * Same exact-vs-GK-sketch dual as [[apply]]: `exact = true` is the
    * oracle path (matches DuckDB `quantile_cont`), `exact = false` the
    * bounded-memory at-scale default. All-null columns are skipped
    * (no quantile exists); a degenerate lo == hi column clips to the
    * constant, which is the definition, not a guard case. */
  def winsorize(
      df: DataFrame,
      columns: Seq[String] = Nil,
      lo: Double = 0.05,
      hi: Double = 0.95,
      quantileError: Double = 0.05,
      exact: Boolean = false): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi,
      s"need 0 <= lo < hi <= 1, got lo=$lo hi=$hi")
    val cols = if (columns.nonEmpty) columns else numericColumns(df)
    if (cols.isEmpty) return df

    // Same exact-vs-sketch dual as [[apply]]: distributed distribution
    // aggregation when exact (see [[exactQuantiles]]), GK otherwise.
    val probs = Seq(lo, hi)
    val quantiles: Map[String, Seq[Double]] =
      if (exact) exactQuantiles(df, cols, probs)
      else {
        val qExprs: Seq[Column] = cols.map { c =>
          percentile_approx(col(c).cast("double"),
            array(probs.map(lit): _*),
            lit(math.max(1, math.ceil(1.0 / quantileError).toInt))).as(c)
        }
        val row = df.agg(qExprs.head, qExprs.tail: _*).head()
        cols.flatMap { c =>
          val idx = row.fieldIndex(c)
          if (row.isNullAt(idx)) None
          else Some(c -> row.getSeq[Double](idx).toSeq)
        }.toMap
      }

    val clipped: Seq[(String, Column)] = cols.flatMap { c =>
      quantiles.get(c).map { case Seq(qlo, qhi) =>
        s"${c}_wins" ->
          least(greatest(col(c).cast("double"), lit(qlo)), lit(qhi))
      }
    }
    clipped.foldLeft(df) { case (acc, (name, expr)) => acc.withColumn(name, expr) }
  }
}
