package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Data sources. The reference's only scan is a header+inferSchema CSV
  * read (reference spark_ml_features.py:27, `load_sample_data`); the
  * driver harness feeds parquet. Both are surfaced here so a reference
  * user can switch load paths without touching operator code.
  *
  * Parquet schema contract (every parquet table and stream read here):
  * a single FILE's schema comes from its footer, read on the driver;
  * a DIRECTORY's (a Spark-written `x.parquet/`, a partitioned tree)
  * from Spark's own inference, which lists it and infers partition
  * columns. Both give the same `StructType`; the footer read skips the
  * one-task Spark job that inference runs to fetch one footer.
  *
  * Scale notes: parquet is the at-scale format (columnar, predicate
  * pushdown, column pruning — `.explain` shows PushedFilters/ReadSchema
  * reaching the scan). CSV `inferSchema` costs one extra full pass over
  * the file before the real scan — acceptable for samples, wrong for
  * 100 TB; at scale pass an explicit schema instead.
  */
object Sources {

  /** The one parquet reader behind every table and stream schema here.
    * For a single file it reads the footer on the driver and hands the
    * schema to the reader, so no schema-inference job runs (Spark runs
    * one even with `mergeSchema` off). The converter is built from the
    * session's SQLConf, so binaryAsString, int96AsTimestamp,
    * inferTimestampNTZ and nanosAsLong apply exactly as in Spark's
    * inference, which calls the same `readSchemaFromFooter`. A
    * directory keeps Spark's listing and partition inference. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val status = p.getFileSystem(conf).getFileStatus(p)
    if (status.isDirectory) spark.read.parquet(path)
    else {
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(status, conf), SKIP_ROW_GROUPS)
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(status.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      spark.read.schema(schema).parquet(path)
    }
  }

  /** Reference `load_sample_data` parity: CSV with header + schema
    * inference (spark_ml_features.py:27). */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** CSV with a caller-supplied schema — the at-scale variant (no
    * inference pass). */
  def csv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** One driver-testdata table: `$dir/$table.parquet`. */
  def parquetTable(spark: SparkSession, dir: String, table: String): DataFrame =
    readParquet(spark, s"$dir/$table.parquet")

  /** The reference's inline fallback dataset, verbatim (reference
    * spark_ml_features_local.py:47-55 — the `createDataFrame`-from-
    * tuples path taken when no CSV/sklearn source is available): two
    * rows per Iris class with the same column names the CSV load
    * produces, so every downstream operator runs unchanged against it.
    * Driver-side literal data — a demo/test convenience, never a scale
    * path. */
  def irisFallback(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (5.1, 3.5, 1.4, 0.2, "setosa"),
      (4.9, 3.0, 1.4, 0.2, "setosa"),
      (7.0, 3.2, 4.7, 1.4, "versicolor"),
      (6.4, 3.2, 4.5, 1.5, "versicolor"),
      (6.3, 3.3, 6.0, 2.5, "virginica"),
      (5.8, 2.7, 5.1, 1.9, "virginica"))
      .toDF("sepal_length", "sepal_width", "petal_length", "petal_width",
        "species")
  }

  /** Partitioned parquet sink: directory-partitioned by `partitionCols`
    * so downstream scans with partition-key predicates prune whole
    * directories (PartitionFilters in the plan — zero IO for excluded
    * partitions). Choose low-cardinality keys; high-cardinality
    * partitioning produces a small-files storm at scale. */
  def writePartitioned(
      df: org.apache.spark.sql.DataFrame,
      path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed managed-table sink: rows are hash-distributed into
    * `numBuckets` files per partition by `bucketCol` (and optionally
    * sorted within buckets) at WRITE time. Every later equi-join or
    * aggregation on the bucket key between same-bucketed tables then
    * plans with ZERO Exchange — the shuffle is paid once at ingest
    * instead of per query, the at-scale pattern for fact tables joined
    * repeatedly on one key (see SourcesSpec: a bucketed self-join's
    * physical plan contains no Exchange even with broadcast disabled).
    * Bucketing metadata lives in the catalog, so this writes a managed
    * table (`saveAsTable`), not a bare path. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int = 32,
      sortWithinBuckets: Boolean = true): Unit = {
    val spark = df.sparkSession
    // `overwrite` replaces a table the CURRENT catalog knows, but a
    // managed-table directory can outlive its (in-memory/Derby) catalog
    // entry across JVM sessions, and CREATE then fails with
    // LOCATION_ALREADY_EXISTS. Drop the stale entry and orphaned
    // location first so the write is idempotent across sessions.
    // parse (possibly db-qualified) names properly: backticking the
    // raw string would treat "db.t" as a table literally named "db.t"
    // and compute the wrong default location
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sql(s"DROP TABLE IF EXISTS ${ident.quotedString}")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    loc.getFileSystem(spark.sessionState.newHadoopConf()).delete(loc, true)
    // Hash-distribute by the bucket key BEFORE the bucketed write
    // (optimization guide §6, Iceberg's `write.distribution-mode=hash`
    // rationale applied to Spark bucketing): without it every input
    // task writes its own file per bucket — numBuckets × tasks small
    // files at scale — and a single-row-group input (the local
    // testdata shape) writes ALL buckets from one task (measured 2.9 s
    // single-task saveAsTable in the r18 layout_bucketed_join
    // profile). Spark's repartition hash and its bucket-id hash are
    // the same Murmur3-pmod family, so each of the numBuckets write
    // tasks holds exactly one bucket: numBuckets files total, written
    // in parallel. Read-side layout and results are unchanged.
    val distributed = df.repartition(numBuckets,
      org.apache.spark.sql.functions.col(bucketCol))
    val w = distributed.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (if (sortWithinBuckets) w.sortBy(bucketCol) else w).saveAsTable(table)
  }

  /** JSON-lines reader — the interchange format LLM-pipeline corpora
    * actually arrive in. The schema is REQUIRED (schema inference on
    * JSON costs a full pre-pass AND silently unions drifting shapes —
    * both wrong at 100 TB); unparseable lines land in
    * `_corrupt_record` (PERMISSIVE) instead of failing the batch or
    * silently vanishing (DROPMALFORMED), so ingest can quarantine and
    * count them — the malformed-line rate is itself a crawl-quality
    * signal. Spark restriction: a query referencing ONLY
    * `_corrupt_record` over a raw scan is disallowed
    * (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — materialize (cache/write)
    * first, which an ingest landing pass does anyway. */
  def jsonl(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType, nullable = true)
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** JSON-lines sink (one JSON object per line, gzip by default —
    * text formats without codec cost 3-5× the storage of parquet;
    * prefer parquet for anything re-read, JSONL for interchange). */
  def writeJsonl(df: DataFrame, path: String,
      compression: String = "gzip"): Unit =
    df.write.mode("overwrite").option("compression", compression).json(path)

  /** Compact a parquet directory's small files toward `targetBytes`
    * per output file — the maintenance pass every long-lived dataset
    * needs (streaming sinks, fine-grained partitions, and incremental
    * appends all accrete files far below the efficient scan size;
    * at 100 TB a million 1 MB files turn every downstream scan into a
    * metadata storm and starve the row-group readahead).
    *
    * Sizing comes from the FileSystem listing (driver-side, O(files) —
    * the thing being fixed is files being too many, so the listing is
    * the bottleneck exactly once; table formats with catalog-level
    * stats can skip it). Output partition count =
    * ceil(totalBytes / targetBytes), floor 1; the rewrite is
    * `repartition(n)` (round-robin — even output sizes with no key
    * assumption) into a NEW directory: compaction must never replace
    * data in place mid-failure — swap directories/table pointers after
    * the write commits.
    *
    * Returns (filesBefore, filesAfter, rows). */
  def compact(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int, Long) = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val hadoopPath = new org.apache.hadoop.fs.Path(inPath)
    val fs = hadoopPath.getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = {
      val it = fs.listFiles(hadoopPath, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[
        org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) buf += f
      }
      buf.toSeq
    }
    require(dataFiles.nonEmpty, s"compact: no parquet files under $inPath")
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = readParquet(spark, inPath)
    df.repartition(nOut).write.mode("overwrite").parquet(outPath)
    val outFs = new org.apache.hadoop.fs.Path(outPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val written = {
      val it = outFs.listFiles(new org.apache.hadoop.fs.Path(outPath), true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    (dataFiles.size, written, readParquet(spark, outPath).count())
  }

  /** `events.parquet` has shipped with three timestamp encodings across
    * driver testdata generations, all normalized here to one contract:
    * `ts` is tz-aware `TimestampType` (micros) on the way out.
    *
    *  - TIMESTAMP(NANOS): Spark's parquet reader rejects it
    *    ([PARQUET_TYPE_ILLEGAL]); read nanos as raw longs (legacy conf)
    *    and convert to microsecond timestamps — the data is
    *    micro-aligned (ns % 1000 == 0 across all rows), so no precision
    *    is lost and values agree with DuckDB's native ns→us read.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
    *    `TIMESTAMP_NTZ`, on which integer arithmetic (`unix_micros`,
    *    `cast as bigint`) is an analysis error. The driver pins the
    *    session timezone to UTC, so casting NTZ→TIMESTAMP preserves the
    *    wall-clock instant exactly (same epoch micros DuckDB computes).
    *  - tz-aware TIMESTAMP(MICROS): passes through unchanged.
    *
    * Downstream operators (sessionize/funnel/range join/windows) may
    * therefore assume tz-aware micros without per-call-site guards.
    *
    * The nanosAsLong conf is deliberately left set for the session
    * (the scan consults it at execution time, so restoring it after
    * plan construction would break the deferred read): any later
    * NANOS-typed column in this session reads as LongType instead of
    * failing — callers of other nanos tables must convert like this
    * method does. */
  def eventsTable(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→Timestamp cast below interprets the stored wall-clock in
    // the SESSION timezone; event instants are UTC by contract, so pin
    // the session to UTC here (same precedent as the nanosAsLong conf
    // above: the scan consults it at execution time). Without this a
    // caller in a non-UTC default timezone silently shifts every
    // instant (round-11 ADVICE).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    eventsTs(readParquet(spark, s"$dir/events.parquet"))
  }

  /** [[eventsTable]]'s `ts` contract on a raw events frame (batch or
    * stream): nanos-as-long → micros, NTZ → tz-aware, tz-aware as is. */
  private def eventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer DIV, not `/`: epoch-nanos (~1.7e18) exceed double's
        // 2^53 mantissa, so float division truncates off-by-one micros
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  /** `documents` as an unbounded file-stream source — the corpus-side
    * twin of [[eventsStream]] (same single-file-glob landing-dir
    * recipe) for the streaming dedup rows. */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    tableStream(spark, dir, "documents")

  /** `embeddings` as an unbounded file-stream source (same
    * landing-dir glob recipe as [[documentsStream]]) — the vector
    * ingest feed for the streaming IVF append row. */
  def embeddingsStream(spark: SparkSession, dir: String): DataFrame =
    tableStream(spark, dir, "embeddings")

  /** [[eventsTable]]'s STREAMING twin (round 11): the same events data
    * as an unbounded `readStream` file source, under the same ts
    * normalization contract (UTC pin, NANOS-as-long → micros, NTZ →
    * tz-aware cast) so batch and stream operators see identical
    * instants. At deployment scale the path would be a landing
    * directory the source incrementally lists; here it is the fixture
    * file itself, which arrives as one micro-batch under
    * `Trigger.AvailableNow`. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    eventsTs(tableStream(spark, dir, "events"))
  }

  /** `$dir/$table.parquet` as a file-stream source. The source needs an
    * explicit schema: it comes from the file's footer, read on the
    * driver (no Spark job, no data scan). The file-stream source
    * requires a DIRECTORY basePath (the landing dir it incrementally
    * lists); the fixture is a single file inside the sf dir, so list
    * the dir with a glob pinned to that file. */
  private def tableStream(spark: SparkSession, dir: String,
      table: String): DataFrame =
    spark.readStream
      .schema(readParquet(spark, s"$dir/$table.parquet").schema)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(dir)
}
