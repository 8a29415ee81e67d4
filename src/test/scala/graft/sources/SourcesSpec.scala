package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}
import java.nio.file.Files

class SourcesSpec extends SparkSpec {

  test("irisFallback: the reference's 6-row inline dataset, ML-ready") {
    val df = graft.sources.Sources.irisFallback(spark)
    assert(df.count() == 6)
    assert(df.columns.toSeq == Seq("sepal_length", "sepal_width",
      "petal_length", "petal_width", "species"))
    // 2 rows per class, reference order
    val byClass = df.groupBy("species").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byClass == Map("setosa" -> 2L, "versicolor" -> 2L,
      "virginica" -> 2L))
    // the frame feeds the ML pipeline unchanged (same columns as CSV)
    val prepped = graft.features.PrepareFeatures(df,
      Seq("sepal_length", "sepal_width", "petal_length", "petal_width"),
      "species")
    assert(prepped.columns.contains("features") &&
      prepped.columns.contains("label"))
    assert(prepped.select("label").distinct().count() == 3)
  }

  test("csv: header + inferSchema parity with reference load_sample_data") {
    val dir = Files.createTempDirectory("graft-csv")
    val f = dir.resolve("iris.csv")
    Files.writeString(f,
      """sepal_length,petal_width,species
        |5.1,0.2,setosa
        |7.0,1.4,versicolor
        |""".stripMargin)
    val df = Sources.csv(spark, f.toString)
    assert(df.count() == 2)
    assert(df.schema("sepal_length").dataType == DoubleType)
    assert(df.schema("species").dataType == StringType)
  }

  test("csv: explicit schema skips the inference pass") {
    val dir = Files.createTempDirectory("graft-csv2")
    val f = dir.resolve("t.csv")
    Files.writeString(f, "a,b\n1,x\n2,y\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", IntegerType),
      org.apache.spark.sql.types.StructField("b", StringType)))
    val df = Sources.csv(spark, f.toString, schema)
    assert(df.schema("a").dataType == IntegerType)
    assert(df.count() == 2)
  }

  test("parquetTable: reads driver testdata") {
    assert(Sources.parquetTable(spark, sf0001, "region").count() == 5)
  }

  /** `f` with the session confs `kv` set, restoring each one after. */
  private def withConfs[T](kv: (String, String)*)(f: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  test("parquetTable: the footer schema is Spark's inferred schema, for " +
      "every driver table and a NANOS/binary file, under the type confs") {
    val tmp = Files.createTempDirectory("graft-footer").toString
    try {
      // a file Spark cannot write: TIMESTAMP(NANOS) and an unannotated
      // binary, the two physical types whose Spark type is conf-driven
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      val schema = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType("message m { required int64 id; " +
          "optional int64 ts (TIMESTAMP(NANOS,true)); optional binary raw; }")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(
        s"$tmp/nanos.parquet")).withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("id", 1L).append("ts", 1700000000123456000L)
        .append("raw", "abc"))
      finally w.close()
      val inputs = new java.io.File(sf0001).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).sorted
        .map(f => sf0001 -> f.stripSuffix(".parquet")).toSeq :+
        (tmp -> "nanos")
      assert(inputs.size == 11, inputs)
      for {
        (dir, table) <- inputs
        nanosAsLong <- Seq("false", "true")
        binaryAsString <- Seq("false", "true")
      } withConfs("spark.sql.legacy.parquet.nanosAsLong" -> nanosAsLong,
          "spark.sql.parquet.binaryAsString" -> binaryAsString) {
        val where = s"$table nanosAsLong=$nanosAsLong " +
          s"binaryAsString=$binaryAsString"
        val inferred = scala.util.Try(
          spark.read.parquet(s"$dir/$table.parquet").schema)
        val viaFooter = scala.util.Try(
          Sources.parquetTable(spark, dir, table).schema)
        // without nanosAsLong a NANOS column is illegal on both paths
        assert(inferred.isSuccess == viaFooter.isSuccess,
          s"$where: $inferred vs $viaFooter")
        if (inferred.isSuccess) assert(inferred == viaFooter, where)
        else assert(table == "nanos" && nanosAsLong == "false", where)
      }
      val nanos = withConfs("spark.sql.legacy.parquet.nanosAsLong" -> "true",
          "spark.sql.parquet.binaryAsString" -> "true") {
        Sources.parquetTable(spark, tmp, "nanos").collect().toSeq
      }
      assert(nanos.map(_.toSeq) ==
        Seq(Seq(1L, 1700000000123456000L, "abc")))
    } finally rmTree(new java.io.File(tmp))
  }

  test("parquetTable: Spark-written and partitioned directories read as " +
      "spark.read.parquet does") {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-dirs").toString
    try {
      val rows = Seq((1L, "x", 0), (2L, "y", 1), (3L, "z", 0))
        .toDF("id", "v", "b")
      rows.write.parquet(s"$tmp/plain.parquet")
      Sources.writePartitioned(rows, s"$tmp/parted.parquet", Seq("b"))
      assert(new java.io.File(s"$tmp/parted.parquet/b=0").isDirectory)
      for (table <- Seq("plain", "parted")) {
        val viaSpark = spark.read.parquet(s"$tmp/$table.parquet")
        val viaSources = Sources.parquetTable(spark, tmp, table)
        assert(viaSources.schema == viaSpark.schema, table)
        assert(viaSources.collect().toSet == viaSpark.collect().toSet, table)
      }
      assert(Sources.parquetTable(spark, tmp, "parted").schema.fieldNames
        .toSeq == Seq("id", "v", "b"))
    } finally rmTree(new java.io.File(tmp))
  }

  test("parquetTable, eventsTable and the table streams build with no " +
      "Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-sources-build", "frames under test")
      Sources.parquetTable(spark, sf0001, "lineitem")
      Sources.parquetTable(spark, sf0001, "orders")
      Sources.eventsTable(spark, sf0001)
      Sources.documentsStream(spark, sf0001)
      Sources.embeddingsStream(spark, sf0001)
      Sources.eventsStream(spark, sf0001)
      // drain the asynchronous listener bus: it delivers in order, so
      // once this marker job's start arrives every earlier one has
      sc.setJobGroup("graft-sources-drain", "listener bus marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      def next() = groups.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      val before = scala.collection.mutable.ArrayBuffer.empty[String]
      var g = next()
      while (g != null && g != "graft-sources-drain") { before += g; g = next() }
      assert(g != null, "the marker job's start never arrived")
      val buildJobs = before.count(_ == "graft-sources-build")
      assert(buildJobs == 0, s"$buildJobs Spark jobs while building frames")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("eventsTable: driver testdata normalizes to tz-aware micros and " +
      "every timestamp-arithmetic operator analyzes") {
    // Pins the fixture type to the DRIVER testdata, not an in-memory
    // frame: round 9 shipped with green EventsSpec fixtures (tz-aware)
    // while the real parquet had drifted to TIMESTAMP_NTZ and three
    // operators failed analysis. This test fails the moment the driver
    // flips timestamp encoding again and eventsTable doesn't cover it.
    val ev = Sources.eventsTable(spark, sf0001)
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType,
      s"eventsTable must emit tz-aware TimestampType, got ${ev.schema("ts").dataType}")
    // the three round-9 casualties: integer timestamp arithmetic
    assert(graft.operators.Events.sessionize(ev).count() > 0)
    assert(graft.operators.Events.funnel(ev).count() > 0)
    assert(ev.select(
      org.apache.spark.sql.functions.unix_micros(col("ts"))).head() != null)
  }

  test("eventsTable: an NTZ-encoded parquet reads to the same instants " +
      "as tz-aware (UTC session)") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ntz").toString
    try {
      // write the same wall-clock values twice: once tz-aware, once NTZ
      val base = Seq(
        (1L, "2024-03-01 10:00:00.123456"),
        (2L, "2024-03-01 10:45:00.000001"))
        .toDF("event_id", "ts_s")
      base.select(col("event_id"),
        org.apache.spark.sql.functions.to_timestamp(col("ts_s")).as("ts"))
        .write.parquet(s"$tmp/events_tz/events.parquet")
      base.select(col("event_id"),
        col("ts_s").cast(org.apache.spark.sql.types.TimestampNTZType).as("ts"))
        .write.parquet(s"$tmp/events_ntz/events.parquet")
      // sanity: the NTZ file really reads as NTZ without normalization
      assert(spark.read.parquet(s"$tmp/events_ntz/events.parquet")
        .schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      val viaTz = Sources.eventsTable(spark, s"$tmp/events_tz")
      val viaNtz = Sources.eventsTable(spark, s"$tmp/events_ntz")
      assert(viaNtz.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
      val micros = (df: org.apache.spark.sql.DataFrame) =>
        df.select(col("event_id"),
          org.apache.spark.sql.functions.unix_micros(col("ts")))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(micros(viaNtz) == micros(viaTz))
    } finally rmTree(new java.io.File(tmp))
  }

  test("driver testdata schema contract: type drift surfaces here, " +
      "not as scattered query crashes") {
    // One assertion per table the registered queries read. If the
    // driver regenerates testdata with different physical types, this
    // single test names the drifted column instead of three analysis
    // exceptions deep inside operators (the round-9 failure mode).
    import org.apache.spark.sql.types._
    def dtypes(table: String): Map[String, DataType] =
      Sources.parquetTable(spark, sf0001, table).schema
        .fields.map(f => f.name -> f.dataType).toMap
    val docs = dtypes("documents")
    assert(docs("doc_id") == LongType && docs("text") == StringType &&
      docs("lang") == StringType && docs("source") == StringType,
      s"documents drifted: $docs")
    val emb = dtypes("embeddings")
    assert(emb("vec_id") == LongType &&
      emb("embedding") == ArrayType(FloatType, containsNull = true),
      s"embeddings drifted: $emb")
    // Data contract beyond the schema: the physical type ALLOWS null
    // elements, but the hash-init quantizer draws (hashSelectRows)
    // exclude null-element rows while their DuckDB twins draw on
    // len(embedding) + the same list_filter null screen — both engines
    // agree for any data, but pin the testdata to the clean case so a
    // generator change that starts planting null ELEMENTS is named
    // here, not as an oracle hash drift (round-11 ADVICE).
    val nullElems = Sources.parquetTable(spark, sf0001, "embeddings")
      .where(org.apache.spark.sql.functions.expr(
        "exists(embedding, x -> x IS NULL)")).count()
    assert(nullElems == 0L,
      s"embeddings testdata grew $nullElems null-element rows")
    // ...and NULL / wrong-dimension embeddings: the Spark ANN builds
    // park such rows in the largest cell (assignCells' documented
    // fallback) while the DuckDB twins drop them via len(embedding)=64
    // — one ill-shaped generator row would surface as unexplained
    // oracle drift on similarity_*_build, so pin the whole shape here
    val illShaped = Sources.parquetTable(spark, sf0001, "embeddings")
      .where(org.apache.spark.sql.functions.expr(
        "embedding IS NULL OR size(embedding) != 64")).count()
    assert(illShaped == 0L,
      s"embeddings testdata grew $illShaped null/wrong-dim rows")
    // documents.text charset pin (round-12 ADVICE): multimodal_resize
    // treats text as a byte raster and aligns Spark `substring` with
    // DuckDB `substr` POSITIONALLY — one char per position in both
    // engines holds only for single-byte (ASCII) text. A generator
    // that starts emitting non-ASCII docs would otherwise surface as
    // unexplained oracle drift on the multimodal rows; name it here.
    val nonAscii = Sources.parquetTable(spark, sf0001, "documents")
      .where(col("text").isNotNull &&
        col("text").rlike("[^\\x00-\\x7F]")).count()
    assert(nonAscii == 0L,
      s"documents testdata grew $nonAscii non-ASCII rows; the " +
        "multimodal substr rasters assume single-byte text positions")
    // lineitem/orders date columns arrive as some timestamp flavor
    // (currently NTZ micros); registered queries only date-truncate
    // them, which is legal on every flavor. Assert the family, so an
    // int64/string flip still trips the wire.
    def timestampish(t: DataType) =
      t == TimestampType || t == TimestampNTZType || t == DateType
    val li = dtypes("lineitem")
    assert(timestampish(li("l_shipdate")) && li("l_quantity") == DoubleType,
      s"lineitem drifted: $li")
    val ord = dtypes("orders")
    assert(timestampish(ord("o_orderdate")) &&
      ord("o_totalprice") == DoubleType, s"orders drifted: $ord")
    // events goes through eventsTable, asserted in its own test above;
    // here just pin the raw companion columns
    val ev = dtypes("events")
    assert(ev("event_id") == LongType && ev("user_id") == LongType &&
      ev("event_type") == StringType && ev("value") == DoubleType &&
      ev("props") == StringType, s"events drifted: $ev")
  }

  test("writePartitioned: partition-key predicates prune directories") {
    val dir = Files.createTempDirectory("graft-part").resolve("events")
    val events = Sources.eventsTable(spark, sf0001)
    Sources.writePartitioned(events, dir.toString, Seq("event_type"))
    val back = spark.read.parquet(dir.toString)
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type"), plan.take(500))
    assert(back.count() > 0)
    // partition pruning leaves non-click directories unread
    val scanned = back.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(!scanned.contains("event_type=view") || back.count() > 0)
  }

  test("jsonl: schema-explicit round-trip; corrupt lines quarantined not dropped") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    try {
      val docs = Seq((1L, "alpha", "en"), (2L, "beta", "de"))
        .toDF("doc_id", "text", "lang")
      Sources.writeJsonl(docs, s"$tmp/out")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING")
      val back = Sources.jsonl(spark, s"$tmp/out", schema).cache()
      try {
        assert(back.filter(col("_corrupt_record").isNotNull).count() == 0)
        assert(back.select("doc_id", "text", "lang").collect().map(_.toSeq).toSet ==
          docs.collect().map(_.toSeq).toSet)
      } finally back.unpersist()

      // a corrupt line is quarantined with the raw text, not dropped
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/mixed.jsonl"),
        Seq("""{"doc_id": 7, "text": "ok", "lang": "en"}""",
          """{not json at all""").mkString("\n").getBytes)
      // corrupt-only queries over a raw scan are disallowed
      // (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — materialize first, as an
      // ingest landing pass does
      val mixed = Sources.jsonl(spark, s"$tmp/mixed.jsonl", schema).cache()
      try {
        assert(mixed.count() == 2)
        assert(mixed.filter(col("_corrupt_record").isNotNull).count() == 1)
        assert(mixed.filter(col("doc_id") === 7L).count() == 1)
      } finally mixed.unpersist()
    } finally rmTree(new java.io.File(tmp))
  }

  test("compact: many small files rewritten to few, rows preserved") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    try {
      val df = (1 to 5000).map(i => (i.toLong, s"row $i")).toDF("id", "v")
      df.repartition(32).write.parquet(s"$tmp/in") // 32 tiny files
      val (before, after, rows) =
        Sources.compact(spark, s"$tmp/in", s"$tmp/out",
          targetBytes = 64L * 1024 * 1024)
      assert(before == 32)
      assert(after == 1) // total bytes far below one 64 MB target
      assert(rows == 5000)
      // content identical (set equality on ids)
      val out = spark.read.parquet(s"$tmp/out")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(out == (1 to 5000).map(_.toLong).toSet)
      // a tiny target splits the output into multiple files
      val (_, afterSmall, rowsSmall) =
        Sources.compact(spark, s"$tmp/in", s"$tmp/out2", targetBytes = 8192)
      assert(afterSmall > 1 && rowsSmall == 5000)
    } finally rmTree(new java.io.File(tmp))
  }

  test("writeBucketed: equi-join on the bucket key plans with zero Exchange") {
    import org.apache.spark.sql.functions.col
    val docs = Sources.parquetTable(spark, sf0001, "documents")
      .select("doc_id", "lang")
    Sources.writeBucketed(docs, "graft_bucketed_docs", "doc_id",
      numBuckets = 4)
    try {
      val t = spark.table("graft_bucketed_docs")
      // force the sort-merge path: broadcast would hide the exchange
      // question entirely (the point is the SHUFFLE is pre-paid)
      val savedThreshold =
        spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = t.alias("l").join(t.alias("r"), "doc_id")
        joined.count()
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan.take(800))
        assert(!plan.contains("Exchange"), plan.take(800))
        // the same pre-partitioning also serves a bucket-key aggregation
        val agg = t.groupBy("doc_id").count()
        agg.count()
        assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
      } finally savedThreshold match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_bucketed_docs")
  }

  test("writeBucketed: hash distribution writes one file per non-empty " +
      "bucket (r18 optimization — not tasks x buckets)") {
    // The pre-write repartition(numBuckets, bucketCol) aligns write
    // tasks with bucket ids (same Murmur3-pmod hash family), so the
    // table holds at most numBuckets parquet files however many tasks
    // scanned the input — the small-files guarantee at scale, and the
    // parallel-write fix locally. Join results stay bucketed-correct
    // (the zero-Exchange test above runs against the same writer).
    import org.apache.spark.sql.functions.col
    val docs = Sources.parquetTable(spark, sf0001, "documents")
      .select("doc_id", "lang")
      // many input partitions on purpose: the old writer would emit a
      // file per (task, bucket) pair
      .repartition(8, col("doc_id"))
    Sources.writeBucketed(docs, "graft_bucketed_files", "doc_id",
      numBuckets = 4)
    try {
      val loc = new java.io.File(
        spark.sessionState.catalog.defaultTablePath(
          spark.sessionState.sqlParser
            .parseTableIdentifier("graft_bucketed_files")))
      val files = Option(loc.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length <= 4, files.map(_.getName).mkString(", "))
      assert(spark.table("graft_bucketed_files").count() == docs.count())
    } finally spark.sql("DROP TABLE IF EXISTS graft_bucketed_files")
  }
}
