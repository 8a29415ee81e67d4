package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.json4s.{JInt, JObject, jvalue2monadic}

/** The same StreamOps code path must produce identical results whether
  * driven as a batch DataFrame or as a Structured Streaming source —
  * that is the point of writing transforms against the unified API. */
class StreamingSpec extends SparkSpec {

  private val rows = Seq(
    ("2024-01-01 00:10:00", "click", 1.5),
    ("2024-01-01 00:40:00", "click", 2.5),
    ("2024-01-01 00:55:00", "view", 1.0),
    ("2024-01-01 01:05:00", "click", 4.0),
    ("2024-01-01 02:20:00", "view", 0.5))

  private def shape(df: DataFrame): DataFrame =
    df.withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")

  test("windowedEventCounts: streaming (MemoryStream) matches batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val batch = StreamOps.windowedEventCounts(
      shape(rows.toDF("ts_s", "event_type", "value")))
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq

    val stream = MemoryStream[(String, String, Double)]
    stream.addData(rows: _*)
    val sdf = shape(stream.toDF.toDF("ts_s", "event_type", "value"))
    val q = StreamOps.windowedEventCounts(sdf, watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("wec")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("wec")
        .orderBy("window_start", "event_type")
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("windowedEventCounts: watermark drops late data and finalizes " +
      "windows in append mode") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(String, String, Double)]
    val sdf = shape(stream.toDF.toDF("ts_s", "event_type", "value"))
    // append mode: a window row is emitted exactly once, when the
    // watermark passes its end — THE late-data semantics complete mode
    // can't exercise (it re-emits everything each batch)
    val q = StreamOps.windowedEventCounts(sdf, watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("wec_late")
      .outputMode("append").start()
    try {
      // batch 1: two on-time events in the 00:00 window
      stream.addData(("2024-01-01 00:10:00", "click", 1.0),
        ("2024-01-01 00:20:00", "click", 2.0))
      q.processAllAvailable()
      // batch 2: event at 02:30 → watermark advances to 01:30 at batch
      // end, which finalizes (and emits) the [00:00, 01:00) window
      stream.addData(("2024-01-01 02:30:00", "view", 0.5))
      q.processAllAvailable()
      // batch 3: a LATE click at 00:40 — behind the 01:30 watermark,
      // its window state is already evicted → must be dropped
      stream.addData(("2024-01-01 00:40:00", "click", 100.0))
      q.processAllAvailable()
      // batch 4: advance the watermark past 03:00 to flush the 02:00
      // window (proving batch 3's late row created no resurrected state)
      stream.addData(("2024-01-01 04:30:00", "view", 0.25))
      q.processAllAvailable()
      val out = spark.table("wec_late")
        .orderBy("window_start", "event_type")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(2),
          r.getLong(3), r.getDouble(4))).toSeq
      // 00:00 window: exactly the two ON-TIME clicks (sum 3.0, not
      // 103.0 — the late 100.0 is gone); 02:00 window: the one view.
      // The 04:00 view is still open (watermark 03:30) → not emitted.
      assert(out == Seq(
        ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 02:00:00.0", "view", 1L, 0.5)))
      // the late row is nowhere in the output at any count
      assert(!out.exists(_._4 == 100.0))
    } finally q.stop()
  }

  test("cardinalityStream: streaming HLL matches batch HLL and tracks exact") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evRows = Seq(
      (1L, "click", "2024-01-01 10:00:00", 7L),
      (2L, "click", "2024-01-01 11:00:00", 7L), // same user, same day
      (3L, "click", "2024-01-01 12:00:00", 9L),
      (4L, "click", "2024-01-02 10:00:00", 7L), // next day
      (5L, "view", "2024-01-01 10:30:00", 7L))
    def ev(df: DataFrame): DataFrame =
      df.toDF("event_id", "event_type", "ts_s", "user_id")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")

    val batch = StreamOps.cardinalityStream(ev(evRows.toDF()))
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq

    val stream = MemoryStream[(Long, String, String, Long)]
    stream.addData(evRows: _*)
    val q = StreamOps.cardinalityStream(
      ev(stream.toDF), watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("card")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("card")
        .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      // the sketch equals the exact distinct counts on this tiny fixture
      val exact = graft.operators.Events.cardinality(ev(evRows.toDF()))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3))
        .toMap // (event_type, day) -> n_users
      streamed.foreach { row =>
        val eventType = row(1).asInstanceOf[String]
        val day = row(0).toString.take(10)
        assert(row(3).asInstanceOf[Long] == exact((eventType, day)),
          s"($eventType, $day)")
      }
    } finally q.stop()
  }

  test("heavyHittersStream: forced multi-batch final sketch == one-shot " +
      "batch sketch (exact regime, merge-order-independent)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsA = Seq((1L, "alpha beta gamma alpha beta"),
      (2L, "beta gamma delta"))
    val docsB = Seq((3L, "alpha beta alpha beta"),
      (4L, "gamma delta epsilon zeta"))
    def sketchRows(df: DataFrame) = df
      .select(explode(col("sk.counts")).as(Seq("gram", "cnt")),
        col("sk.maxError").as("me"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = sketchRows(StreamOps.heavyHittersStream(
      (docsA ++ docsB).toDF("doc_id", "text"), capacity = 64))
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.heavyHittersStream(
        stream.toDF.toDF("doc_id", "text"), capacity = 64)
      .writeStream.format("memory").queryName("hh")
      .outputMode("complete").start()
    try {
      stream.addData(docsA: _*); q.processAllAvailable()
      stream.addData(docsB: _*); q.processAllAvailable()
      val streamed = sketchRows(spark.table("hh"))
      assert(streamed == batch)
      assert(streamed.nonEmpty && streamed.forall(_._3 == 0L))
    } finally q.stop()
  }

  test("heavyHittersStream: over-capacity stream keeps <= capacity " +
      "counters (algebraically bounded state), planted heavy item " +
      "retained with the MG bound") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 40 singleton bigrams + one bigram planted 60x: N=100, capacity 8
    // => frequency floor N/(cap+1) ~ 11.1; the planted item MUST survive
    val tail = (1 to 40).map(i => (100L + i, s"u$i v$i"))
    val hot = (1 to 60).map(i => (200L + i, "hot item"))
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.heavyHittersStream(
        stream.toDF.toDF("doc_id", "text"), capacity = 8)
      .writeStream.format("memory").queryName("hh_over")
      .outputMode("complete").start()
    try {
      stream.addData(tail ++ hot.take(30): _*); q.processAllAvailable()
      stream.addData(hot.drop(30): _*); q.processAllAvailable()
      val row = spark.table("hh_over")
        .select(col("sk.counts"), col("sk.maxError")).collect().head
      val counts = row.getMap[String, Long](0)
      val maxError = row.getLong(1)
      assert(counts.size <= 8, s"state ${counts.size} counters")
      assert(counts.contains("hot item"))
      val c = counts("hot item")
      assert(c <= 60L && c + maxError >= 60L,
        s"count $c + maxError $maxError vs true 60")
    } finally q.stop()
  }

  test("cardinalityKmvStream: forced multi-batch final sketch == " +
      "one-shot batch sketch in the APPROXIMATE regime (stronger than " +
      "the MG twin: min-k of a set ignores micro-batch boundaries)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val k = 16
    // 200 distinct users per type — deep past k, so the estimator path
    // (not the exact fallback) is what the equality exercises
    val all = (0 until 400).map { i =>
      (i.toLong, if (i % 2 == 0) "click" else "view", s"u${i / 2}")
    }
    def sketchRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"), col("n_events"),
        col("sk.hashes").as("h"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val batch = sketchRows(StreamOps.cardinalityKmvStream(
      all.toDF("event_id", "event_type", "user_id"), k))
    val stream = MemoryStream[(Long, String, String)]
    val q = StreamOps.cardinalityKmvStream(
        stream.toDF.toDF("event_id", "event_type", "user_id"), k)
      .writeStream.format("memory").queryName("kmv")
      .outputMode("complete").start()
    try {
      all.grouped(90).foreach { chunk =>
        stream.addData(chunk: _*); q.processAllAvailable()
      }
      val streamed = sketchRows(spark.table("kmv"))
      assert(streamed == batch)
      // state bound: k hashes per group at 200 distinct inputs
      assert(streamed.forall(_._3.length == k))
    } finally q.stop()
  }

  test("countMinStream: forced multi-batch counters == one-shot batch " +
      "sketch cell-for-cell (counter addition ignores micro-batch " +
      "boundaries); state bounded at d×w") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = (0 until 120).map { i =>
      (i.toLong, s"alpha beta ${if (i % 3 == 0) "gamma" else "delta"} " +
        s"tok${i % 7}")
    }
    val batch = graft.operators.CountMin.sketch(
        docs.toDF("doc_id", "text").select(explode(split(lower(col("text")),
          "[^\\p{L}\\p{N}]+")).as("term")).filter(length(col("term")) > 0),
        col("term"), depth = 4, width = 32)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.countMinStream(
        stream.toDF.toDF("doc_id", "text"), depth = 4, width = 32)
      .writeStream.format("memory").queryName("cms")
      .outputMode("complete").start()
    try {
      docs.grouped(35).foreach { chunk =>
        stream.addData(chunk: _*); q.processAllAvailable()
      }
      val streamed = spark.table("cms").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
      // the state/result bound: never more than d×w cells
      assert(streamed.size <= 4 * 32)
    } finally q.stop()
  }

  test("retentionStream: stream-static cohort join matches batch retention") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evRows = Seq(
      (1L, "signup", "2024-01-01 10:00:00", 1L),
      (2L, "click", "2024-01-01 12:00:00", 1L),
      (3L, "click", "2024-01-03 09:00:00", 1L),
      (4L, "signup", "2024-01-01 09:00:00", 2L),
      (5L, "click", "2024-01-01 10:00:00", 3L)) // user 3: no cohort → dropped
    def ev(df: DataFrame): DataFrame =
      df.toDF("event_id", "event_type", "ts_s", "user_id")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    // static cohort table = first signup per user (landed history)
    val cohorts = ev(evRows.toDF())
      .filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("cohort_ts"))

    val batchExact = graft.operators.Events.retention(ev(evRows.toDF()))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap

    val stream = MemoryStream[(Long, String, String, Long)]
    stream.addData(evRows: _*)
    val q = StreamOps.retentionStream(ev(stream.toDF), cohorts)
      .writeStream.format("memory").queryName("ret")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ret")
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      // HLL is exact at these cardinalities → identical to batch exact
      assert(streamed == batchExact)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("dedupStream: duplicate keys within the horizon are dropped") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(String, String)]
    val sdf = stream.toDF.toDF("k", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val q = StreamOps.dedupStream(sdf, Seq("k"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      stream.addData(("a", "2024-01-01 00:00:00"), ("a", "2024-01-01 00:00:10"),
        ("b", "2024-01-01 00:01:00"))
      q.processAllAvailable()
      // dup across batches, at a DIFFERENT timestamp: still one "a"
      stream.addData(("a", "2024-01-01 00:05:00"))
      q.processAllAvailable()
      val out = spark.table("dedup").collect().map(_.getString(0)).sorted
      assert(out.toSeq == Seq("a", "b"))
    } finally q.stop()
  }

  test("sessionizeStream: stateful sessionization matches batch across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val timeline = Seq(
      (1L, 7L, "2024-01-01 00:00:00"),
      (2L, 7L, "2024-01-01 00:10:00"), // same session
      (3L, 7L, "2024-01-01 00:50:00"), // +40min: new session
      (5L, 9L, "2024-01-01 00:05:00"),
      (4L, 7L, "2024-01-01 01:10:00"), // +20min: same session
      (6L, 9L, "2024-01-01 02:00:00")) // new session for user 9

    val batchDf = graft.operators.Events.sessionize(
      timeline.toDF("event_id", "user_id", "ts_s")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s"))
    val expected = batchDf.orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq

    val stream = MemoryStream[(Long, Long, String)]
    val sds = stream.toDS
      .map { case (id, u, t) =>
        SessionEvent(id, u, java.sql.Timestamp.valueOf(t)) }
    val q = StreamOps.sessionizeStream(sds)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // two micro-batches, event-time-ordered per user
      stream.addData(timeline.take(4): _*)
      q.processAllAvailable()
      stream.addData(timeline.drop(4): _*)
      q.processAllAvailable()
      val streamed = spark.table("sess").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
      assert(streamed == expected)
      assert(expected == Seq(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L,
        5L -> 1L, 6L -> 2L))
    } finally q.stop()
  }

  test("nearDedupStream: verified star-collapse drops match the batch " +
      "keep-min set in one batch; cross-batch keeper keeps first-arrived; " +
      "state is one keeper row per bucket (r13)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 10 base docs, each with 2 near-identical replicas (one appended
    // token) — replicas must collapse; the base docs are mutually far
    val base = (0L until 10L).map(i =>
      (i, s"alpha bravo charlie delta echo foxtrot golf hotel doc$i " +
        "india juliet kilo lima mike november oscar papa"))
    val replicated = base ++ base.flatMap { case (i, t) =>
      Seq((i + 100L, s"$t r1"), (i + 200L, s"$t r2")) }
    val docs = replicated.toDF("doc_id", "text")
    // batch ground truth: brute-force keep-min at the same threshold
    val rawDrops = graft.llm.Dedup
      .ngramJaccard(docs,
        docs.alias("a").join(docs.alias("b"),
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")))
      .filter(col("jaccard") >= 0.9)
      .select("id_b").distinct().collect().map(_.getLong(0)).toSet
    assert(rawDrops.size == 20, s"fixture drift: $rawDrops") // all replicas
    // ONE batch over everything: stream drop set == keep-min set
    val stream = MemoryStream[(Long, String)]
    val banded = graft.llm.Dedup.minhashBandedShingles(
        stream.toDS.toDF("doc_id", "text"))
      .as[BandedShingleRow]
    val q = StreamOps.nearDedupStream(banded, minJaccard = 0.9)
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    try {
      stream.addData(replicated: _*)
      q.processAllAvailable()
      val links = spark.table("neardup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // every link is a verified true pair, attributed to a smaller id
      links.foreach { case (d, kept, j) =>
        assert(kept < d && j >= 0.9)
      }
      assert(links.map(_._1).toSet == rawDrops,
        s"drop set diverges: ${links.map(_._1).toSet} vs $rawDrops")
    } finally q.stop()
    // cross-batch: the keeper persists, a batch-2 replica of a batch-1
    // doc is dropped against it; a batch-2 SMALLER near doc becomes
    // the new keeper but is NOT retroactively dropped (keep-first)
    val stream2 = MemoryStream[(Long, String)]
    val banded2 = graft.llm.Dedup.minhashBandedShingles(
        stream2.toDS.toDF("doc_id", "text"))
      .as[BandedShingleRow]
    val q2 = StreamOps.nearDedupStream(banded2, minJaccard = 0.9)
      .writeStream.format("memory").queryName("neardup2")
      .outputMode("append").start()
    try {
      val t = base.head._2 // identical text in every batch (j = 1.0)
      stream2.addData((50L, t))
      q2.processAllAvailable()
      stream2.addData((60L, t))
      q2.processAllAvailable()
      val links2 = spark.table("neardup2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // 60 drops against the keeper persisted from batch 1
      assert(links2.contains((60L, 50L)), s"got $links2")
      // a later-arriving SMALLER id survives (keep-first, not
      // retroactive keep-min) and takes over as keeper
      stream2.addData((40L, t))
      q2.processAllAvailable()
      val links3 = spark.table("neardup2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!links3.exists(_._1 == 40L), s"keep-first violated: $links3")
      stream2.addData((70L, t))
      q2.processAllAvailable()
      val links4 = spark.table("neardup2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(links4.exists(p => p._1 == 70L && p._2 == 40L), s"got $links4")
    } finally q2.stop()
  }

  test("nearDedupHashStream: drop set == brute-force keep-min BY " +
      "construction (exact at the hamming-7 pigeonhole bound, a " +
      "hamming-8 pair survives); cross-batch keep-first (r16)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def bits(bs: Int*): Long = bs.map(b => 1L << b).reduce(_ | _)
    // mutually-far bases, exact clones, hamming-2 near-dups, a
    // hamming-3 pair (must survive at maxHamming=2), a hamming-7 pair
    // split 2+2+2+1 over the blocks (the pigeonhole bound — MUST drop
    // at maxHamming=7), and a hamming-8 pair 2+2+2+2 (must survive:
    // no block with <= 1 differing bit, and verify rejects 8 anyway)
    val far = Seq(0L, 0x00FF00FF00FF00FFL, 0x0F0F0F0F0F0F0F0FL,
      java.lang.Long.parseUnsignedLong("AAAAAAAAAAAAAAAA", 16))
    val fps: Seq[(Long, Long)] = Seq(
      (0L, far(0)), (1L, far(1)), (2L, far(2)), (3L, far(3)),
      (100L, far(0)),                      // clone of 0
      (101L, far(1)),                      // clone of 1
      (200L, far(0) ^ bits(5, 40)),        // hamming 2 of 0 -> drops
      (201L, far(1) ^ bits(0, 1, 2)),      // hamming 3 of 1 -> survives
      (300L, far(2) ^ bits(0, 1, 16, 17, 32, 33, 48)), // ham 7 of 2
      (301L, far(3) ^ bits(0, 1, 16, 17, 32, 33, 48, 49))) // ham 8 of 3
    def bruteDrops(maxHam: Int): Set[Long] =
      (for {
        (ida, fa) <- fps; (idb, fb) <- fps
        if ida < idb && java.lang.Long.bitCount(fa ^ fb) <= maxHam
      } yield idb).toSet
    for ((maxHam, expect) <- Seq(
        (2, Set(100L, 101L, 200L)),
        (7, Set(100L, 101L, 200L, 201L, 300L)))) {
      assert(bruteDrops(maxHam) == expect, s"fixture drift at $maxHam")
      val stream = MemoryStream[(Long, Long)]
      val banded = graft.llm.Dedup.multiprobeProbeKeysFlagged(
          stream.toDS.toDF("doc_id", "simhash"), "doc_id")
        .as[BandedHashRow]
      val q = StreamOps.nearDedupHashStream(banded, maxHamming = maxHam)
        .writeStream.format("memory").queryName(s"hashdup$maxHam")
        .outputMode("append").start()
      try {
        stream.addData(fps: _*)
        q.processAllAvailable()
        val links = spark.table(s"hashdup$maxHam").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        links.foreach { case (d, kept, ham) =>
          assert(kept < d && ham <= maxHam, s"bad link ($d, $kept, $ham)")
        }
        assert(links.map(_._1).toSet == expect,
          s"maxHam=$maxHam drop set ${links.map(_._1).toSet} != $expect")
      } finally q.stop()
    }
    // cross-batch: entries persist (batch-2 clone drops against the
    // batch-1 keeper), keep-first (a later smaller id survives and
    // takes over the entry's min id for later arrivals)
    val stream2 = MemoryStream[(Long, Long)]
    val banded2 = graft.llm.Dedup.multiprobeProbeKeysFlagged(
        stream2.toDS.toDF("doc_id", "simhash"), "doc_id")
      .as[BandedHashRow]
    val q2 = StreamOps.nearDedupHashStream(banded2, maxHamming = 2)
      .writeStream.format("memory").queryName("hashdup_x")
      .outputMode("append").start()
    try {
      stream2.addData((50L, far(0)))
      q2.processAllAvailable()
      stream2.addData((60L, far(0)))
      q2.processAllAvailable()
      val links2 = spark.table("hashdup_x").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(links2.contains((60L, 50L)), s"got $links2")
      stream2.addData((40L, far(0)))
      q2.processAllAvailable()
      val links3 = spark.table("hashdup_x").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!links3.exists(_._1 == 40L), s"keep-first violated: $links3")
      stream2.addData((70L, far(0)))
      q2.processAllAvailable()
      val links4 = spark.table("hashdup_x").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(links4.exists(p => p._1 == 70L && p._2 == 40L), s"got $links4")
    } finally q2.stop()
  }

  test("nearDedupHashStream under the RocksDB state store provider: " +
      "the Map-typed entry state survives a cross-batch RocksDB " +
      "round-trip (r16)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[(Long, Long)]
      val banded = graft.llm.Dedup.multiprobeProbeKeysFlagged(
          stream.toDS.toDF("doc_id", "simhash"), "doc_id")
        .as[BandedHashRow]
      val q = StreamOps.nearDedupHashStream(banded, maxHamming = 2)
        .writeStream.format("memory").queryName("hashdup_rocks")
        .outputMode("append").start()
      try {
        stream.addData((10L, 0L))
        q.processAllAvailable()
        val op = q.lastProgress.stateOperators(0)
        assert(op.customMetrics.containsKey("rocksdbGetLatency"),
          s"RocksDB provider not engaged: ${op.customMetrics.keySet()}")
        // batch 2: a hamming-1 neighbor must drop against the entry
        // RELOADED from RocksDB
        stream.addData((20L, 1L))
        q.processAllAvailable()
        val links = spark.table("hashdup_rocks").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(links == Set((20L, 10L)),
          s"entry lost across RocksDB reload: $links")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("nearDedupStream: TTL horizon evicts idle bucket keepers — a late " +
      "near-dup of an evicted keeper re-emits as a NEW keeper, not a " +
      "drop (r14)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa"
    val stream = MemoryStream[(Long, String)]
    val banded = graft.llm.Dedup.minhashBandedShingles(
        stream.toDS.toDF("doc_id", "text"))
      .as[BandedShingleRow]
    // Two ProcessingTimeTimeout facts shape this test (both learned
    // the hard way when it first ran with a 1ms TTL + default trigger):
    // (1) the engine re-batches at EVERY trigger to check expiry, so
    // the default 0ms trigger busy-loops thousands of empty
    // micro-batches (enough to wedge checkpoint maintenance) — a real
    // trigger interval is load-bearing; (2) those timeout-check
    // batches mean `shouldRunAnotherBatch` is always true, `noNewData`
    // never latches, and processAllAvailable() NEVER RETURNS — so the
    // test awaits committed source offsets instead.
    val q = StreamOps.nearDedupStream(banded, minJaccard = 0.9,
      ttl = Some("2 seconds"))
      .writeStream.format("memory").queryName("neardup_ttl")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("200 milliseconds"))
      .start()
    def awaitOffset(target: String): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (System.currentTimeMillis < deadline &&
          !Option(q.lastProgress).exists(p =>
            p.sources.headOption.exists(s =>
              Option(s.endOffset).contains(target))))
        Thread.sleep(100)
      assert(Option(q.lastProgress).exists(p =>
          p.sources.headOption.exists(s =>
            Option(s.endOffset).contains(target))),
        s"timed out awaiting source offset $target; " +
          s"lastProgress=${Option(q.lastProgress).map(_.json)}")
    }
    try {
      // batch 1: doc 50 becomes keeper of t's buckets
      awaitOffset(stream.addData((50L, t)).json)
      // let the 2s horizon lapse; the paced timeout-check batches fire
      // the processing-time timeouts and evict t's idle bucket keepers
      Thread.sleep(3500)
      // one batch with doc 60 (identical to evicted 50) and doc 70:
      // 60 finds NO keeper — it re-enters as a fresh keeper, not a drop
      // — and 70 links to the NEW keeper 60 within the same batch
      awaitOffset(stream.addData((60L, t), (70L, t)).json)
      val links = spark.table("neardup_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!links.exists(_._1 == 60L),
        s"evicted keeper still dropping: $links")
      assert(links.exists(p => p._1 == 70L && p._2 == 60L), s"got $links")
      assert(!links.exists(_._2 == 50L), s"evicted keeper cited: $links")
      // inside the renewed horizon, the persisted keeper IS 60: doc 80
      // (next batch, no prev-candidate) links to it through state
      awaitOffset(stream.addData((80L, t)).json)
      val links2 = spark.table("neardup_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(links2.exists(p => p._1 == 80L && p._2 == 60L), s"got $links2")
    } finally q.stop()
  }

  test("nearDedupCosineStream: one-batch drop set == brute-force " +
      "keep-min at cosine 0.99; cross-batch keeper keeps first-arrived " +
      "(r16)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // four mutually-far unit-ish vectors; clones and a nudged near-dup
    // must collapse, a negation must survive
    val d = 8
    def unit(i: Int): Seq[Double] =
      Seq.tabulate(d)(j => if (j == i) 1.0 else 0.0)
    val vecs: Seq[(Long, Seq[Double])] = Seq(
      (0L, unit(0)), (1L, unit(1)), (2L, unit(2)), (3L, unit(3)),
      (100L, unit(0)),                                 // clone of 0
      (200L, unit(1).updated(0, 1e-4)),                // near-dup of 1
      (300L, unit(2).map(-_)))                         // negation: far
    def cosine(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expect = (for {
      (ida, va) <- vecs; (idb, vb) <- vecs
      if ida < idb && cosine(va, vb) >= 0.99
    } yield idb).toSet
    assert(expect == Set(100L, 200L), s"fixture drift: $expect")
    val stream = MemoryStream[(Long, Seq[Double])]
    val banded = graft.llm.Dedup.embeddingBandedVecs(
        stream.toDS.toDF("vec_id", "embedding"),
        numTables = 4, bitsPerTable = 12)
      .as[BandedVecRow]
    val q = StreamOps.nearDedupCosineStream(banded, minCosine = 0.99)
      .writeStream.format("memory").queryName("cosdup")
      .outputMode("append").start()
    try {
      stream.addData(vecs: _*)
      q.processAllAvailable()
      val links = spark.table("cosdup").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      links.foreach { case (v, kept) => assert(kept < v) }
      assert(links.map(_._1).toSet == expect,
        s"drop set ${links.map(_._1).toSet} != $expect")
    } finally q.stop()
    // cross-batch: keeper persists; keep-first (a later smaller id
    // survives and becomes the keeper for later arrivals)
    val stream2 = MemoryStream[(Long, Seq[Double])]
    val banded2 = graft.llm.Dedup.embeddingBandedVecs(
        stream2.toDS.toDF("vec_id", "embedding"),
        numTables = 4, bitsPerTable = 12)
      .as[BandedVecRow]
    val q2 = StreamOps.nearDedupCosineStream(banded2, minCosine = 0.99)
      .writeStream.format("memory").queryName("cosdup_x")
      .outputMode("append").start()
    try {
      stream2.addData((50L, unit(0)))
      q2.processAllAvailable()
      stream2.addData((60L, unit(0)))
      q2.processAllAvailable()
      val links2 = spark.table("cosdup_x").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(links2.contains((60L, 50L)), s"got $links2")
      stream2.addData((40L, unit(0)))
      q2.processAllAvailable()
      val links3 = spark.table("cosdup_x").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!links3.exists(_._1 == 40L), s"keep-first violated: $links3")
      stream2.addData((70L, unit(0)))
      q2.processAllAvailable()
      val links4 = spark.table("cosdup_x").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(links4.exists(p => p._1 == 70L && p._2 == 40L), s"got $links4")
    } finally q2.stop()
  }

  test("nearDedupHashStream: TTL horizon evicts idle bucket entries — " +
      "a late clone of an evicted fingerprint re-enters as a fresh " +
      "keeper, not a drop (r16)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // same two ProcessingTimeTimeout facts as the Jaccard twin's TTL
    // test: a real trigger interval is load-bearing, and
    // processAllAvailable() never returns on a TTL'd query — await
    // committed source offsets instead
    val stream = MemoryStream[(Long, Long)]
    val banded = graft.llm.Dedup.multiprobeProbeKeysFlagged(
        stream.toDS.toDF("doc_id", "simhash"), "doc_id")
      .as[BandedHashRow]
    val q = StreamOps.nearDedupHashStream(banded, maxHamming = 2,
        ttl = Some("2 seconds"))
      .writeStream.format("memory").queryName("hashdup_ttl")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("200 milliseconds"))
      .start()
    def awaitOffset(target: String): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (System.currentTimeMillis < deadline &&
          !Option(q.lastProgress).exists(p =>
            p.sources.headOption.exists(s =>
              Option(s.endOffset).contains(target))))
        Thread.sleep(100)
      assert(Option(q.lastProgress).exists(p =>
          p.sources.headOption.exists(s =>
            Option(s.endOffset).contains(target))),
        s"timed out awaiting source offset $target; " +
          s"lastProgress=${Option(q.lastProgress).map(_.json)}")
    }
    try {
      awaitOffset(stream.addData((50L, 0L)).json)
      Thread.sleep(3500) // horizon lapses; 50's bucket entries evict
      // 60 (clone of evicted 50) re-enters as a fresh keeper, not a
      // drop; 70 links to the NEW keeper 60 within the same batch
      awaitOffset(stream.addData((60L, 0L), (70L, 0L)).json)
      val links = spark.table("hashdup_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!links.exists(_._1 == 60L),
        s"evicted entry still dropping: $links")
      assert(links.exists(p => p._1 == 70L && p._2 == 60L), s"got $links")
      assert(!links.exists(_._2 == 50L), s"evicted entry cited: $links")
      // inside the renewed horizon, the persisted entry IS 60
      awaitOffset(stream.addData((80L, 0L)).json)
      val links2 = spark.table("hashdup_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(links2.exists(p => p._1 == 80L && p._2 == 60L), s"got $links2")
    } finally q.stop()
  }

  test("nearDedupStream under the RocksDB state store provider: the " +
      "documented at-scale provider runs the same keeper machine — " +
      "single-batch drops equal brute-force keep-min, and the " +
      "cross-batch keeper survives a RocksDB state round-trip (r14)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // nearDedupStream's scale contract names RocksDB as the
    // full-corpus-history path (StreamOps.scala) — this is the test
    // that keeps that sentence true: same fixture and assertions as
    // the in-memory-provider run, BucketKeeper state (case class with
    // a Seq[String] shingle set) serialized through RocksDB instead of
    // the HDFS-backed in-memory map, including a cross-batch reload.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val base = (0L until 10L).map(i =>
        (i, s"alpha bravo charlie delta echo foxtrot golf hotel doc$i " +
          "india juliet kilo lima mike november oscar papa"))
      val replicated = base ++ base.flatMap { case (i, t) =>
        Seq((i + 100L, s"$t r1"), (i + 200L, s"$t r2")) }
      val docs = replicated.toDF("doc_id", "text")
      val rawDrops = graft.llm.Dedup
        .ngramJaccard(docs,
          docs.alias("a").join(docs.alias("b"),
              col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")))
        .filter(col("jaccard") >= 0.9)
        .select("id_b").distinct().collect().map(_.getLong(0)).toSet
      val stream = MemoryStream[(Long, String)]
      val banded = graft.llm.Dedup.minhashBandedShingles(
          stream.toDS.toDF("doc_id", "text"))
        .as[BandedShingleRow]
      val q = StreamOps.nearDedupStream(banded, minJaccard = 0.9)
        .writeStream.format("memory").queryName("neardup_rocks")
        .outputMode("append").start()
      try {
        stream.addData(replicated: _*)
        q.processAllAvailable()
        // self-evidencing: the state operator must REPORT RocksDB
        // custom metrics — a silently-ignored provider conf would
        // still pass the semantic assertions below (both providers
        // run the same keeper machine), which is exactly why the
        // engagement itself is asserted
        assert(Option(q.lastProgress).exists(
            _.json.toLowerCase.contains("rocksdb")),
          s"RocksDB provider not engaged: " +
            s"${Option(q.lastProgress).map(_.json)}")
        val links = spark.table("neardup_rocks").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(links.map(_._1) == rawDrops,
          s"drop set diverges under RocksDB: ${links.map(_._1)} vs $rawDrops")
        // batch 2 exercises the RocksDB round-trip: a replica of a
        // batch-1 keeper must drop against state RELOADED from RocksDB
        stream.addData((500L, s"${base.head._2} r3"))
        q.processAllAvailable()
        val links2 = spark.table("neardup_rocks").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(links2.contains((500L, 0L)),
          s"keeper lost across RocksDB reload: $links2")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set(providerKey, p)
      case None    => spark.conf.unset(providerKey)
    }
  }

  test("curateStream: streaming curation matches batch Curate in arrival=id order") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // duplicate of doc 0 (normalize-equal), arriving in a later batch
    val dupOf0 = "  " + base.head._2.toUpperCase + "  "
    val all = base :+ (900000L, dupOf0)

    val batch = graft.llm.Curate(
      all.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF.toDF("doc_id", "text")
      .withColumn("ingest_ts", lit("2024-01-01 00:00:00").cast("timestamp"))
    val q = StreamOps.curateStream(sdf)
      .writeStream.format("memory").queryName("curate_stream")
      .outputMode("append").start()
    try {
      stream.addData(base: _*)
      q.processAllAvailable()
      stream.addData((900000L, dupOf0))
      q.processAllAvailable()
      val streamed = spark.table("curate_stream")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(batch.nonEmpty)
      // the late-arriving duplicate was dropped by hash state
      assert(!streamed.exists(_.head == 900000L))
    } finally q.stop()
  }

  test("decontaminateStream: stateless stream-static anti join matches batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq((1L, benchText)).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "prefix words " + benchText + " suffix words"), // contaminated
      (11L, "a clean document with enough of its own words to " +
        "shingle into several grams none of which echo the benchmark"),
      (12L, benchText), // identical (short-rule path) → contaminated
      (13L, "...!!!")   // zero tokens: not contaminable → must pass through
    )
    val batchKept = graft.llm.Curate.decontaminate(
        docs.toDF("doc_id", "text"), bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF.toDF("doc_id", "text")
    val q = StreamOps.decontaminateStream(sdf, bench)
      .writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      stream.addData(docs.take(2): _*)
      q.processAllAvailable()
      stream.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("decon_stream")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamed == batchKept)
      assert(streamed == Set(11L, 13L))
    } finally q.stop()
  }

  test("decontaminateStreamBloom: bloom prefilter matches the exact stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq((1L, benchText)).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "prefix words " + benchText + " suffix words"), // contaminated
      (11L, "a clean document with enough of its own words to " +
        "shingle into several grams none of which echo the benchmark"),
      (12L, benchText), // identical (short-rule path) → contaminated
      (13L, "...!!!")   // zero grams: never bloom-positive → clean branch
    )
    // sloppy fpp=0.5 forces clean docs through the exact branch too —
    // false positives must not change the output
    for (fpp <- Seq(0.01, 0.5)) {
      val stream = MemoryStream[(Long, String)]
      val sdf = stream.toDF.toDF("doc_id", "text")
      val q = StreamOps.decontaminateStreamBloom(sdf, bench, fpp = fpp)
        .writeStream.format("memory").queryName(s"decon_bloom")
        .outputMode("append").start()
      try {
        stream.addData(docs: _*)
        q.processAllAvailable()
        val streamed = spark.table("decon_bloom")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(streamed == Set(11L, 13L), s"fpp=$fpp")
      } finally q.stop()
    }
  }

  test("sessionizeStream: (user_id, session_start) unique across an eviction") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, Long, String)]
    val sds = stream.toDS
      .map { case (id, u, t) =>
        SessionEvent(id, u, java.sql.Timestamp.valueOf(t)) }
    val q = StreamOps.sessionizeStream(sds, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_evict")
      .outputMode("append").start()
    try {
      // user 7's session at 00:00; user 8 advances the watermark far
      // past 7's timeout, evicting 7's state
      stream.addData((1L, 7L, "2024-01-01 00:00:00"),
        (2L, 8L, "2024-01-01 00:00:00"))
      q.processAllAvailable()
      stream.addData((3L, 8L, "2024-01-01 03:00:00"))
      q.processAllAvailable()
      stream.addData((4L, 8L, "2024-01-01 03:01:00")) // timeout fires
      q.processAllAvailable()
      // user 7 returns post-eviction: session_idx restarts at 1...
      stream.addData((5L, 7L, "2024-01-01 05:00:00"))
      q.processAllAvailable()
      val u7 = spark.table("sess_evict")
        .filter(col("user_id") === 7L).orderBy("event_id")
        .collect()
        .map(r => (r.getLong(3), r.getTimestamp(4)))
      assert(u7.length == 2)
      assert(u7(0)._1 == 1L && u7(1)._1 == 1L) // ...so idx alone collides
      // ...but session_start disambiguates: the restart is a new session
      assert(u7(0)._2 != u7(1)._2)
      assert(u7.map(r => (7L, r._1, r._2)).distinct.length == 2)
    } finally q.stop()
  }

  test("mergeStream: keyed snapshot state matches batch Merge.upsert") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[MergeEvent]
    val q = StreamOps.mergeStream(stream.toDS())
      .writeStream.format("memory").queryName("merge_out")
      .outputMode("update").start()
    try {
      // batch 1: the initial snapshot arrives as seq-0 upserts
      stream.addData(
        MergeEvent(1L, "alpha", del = false, seq = 0L),
        MergeEvent(2L, "beta", del = false, seq = 0L),
        MergeEvent(3L, "gamma", del = false, seq = 0L))
      q.processAllAvailable()
      // batch 2: replace key 2, insert key 4, delete key 3
      stream.addData(
        MergeEvent(2L, "BETA-v2", del = false, seq = 1L),
        MergeEvent(4L, "delta", del = false, seq = 1L),
        MergeEvent(3L, "gamma", del = true, seq = 1L))
      q.processAllAvailable()

      val emissions = spark.table("merge_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      // every state change emitted exactly once
      assert(emissions.toSet === Set(
        (1L, "alpha", false), (2L, "beta", false), (3L, "gamma", false),
        (2L, "BETA-v2", false), (4L, "delta", false), (3L, "gamma", true)))
      assert(emissions.length === 6)

      // reconstructed snapshot (latest per key, tombstones dropped)
      // equals the batch operator on the same target + updates
      val snapshot = emissions.groupBy(_._1).map { case (k, rs) =>
        rs.last // within a key, memory-sink rows arrive in batch order
      }.filterNot(_._3).map(r => r._1 -> r._2).toMap
      val target = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
        .toDF("key", "payload")
      val updates = Seq((2L, "BETA-v2", false), (4L, "delta", false),
        (3L, "gamma", true)).toDF("key", "payload", "del")
      val batch = graft.operators.Merge
        .upsert(target, updates, "key", Some("del"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(snapshot === batch)
    } finally q.stop()
  }

  test("mergeStream: stale redeliveries ignored, in-batch seq order applied") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[MergeEvent]
    val q = StreamOps.mergeStream(stream.toDS())
      .writeStream.format("memory").queryName("merge_redeliver")
      .outputMode("update").start()
    try {
      // out-of-order WITHIN a batch: seq 3 listed before seq 2 — the
      // group sorts by seq, so only the seq-3 value is emitted, once
      stream.addData(
        MergeEvent(5L, "newer", del = false, seq = 3L),
        MergeEvent(5L, "older", del = false, seq = 2L))
      q.processAllAvailable()
      assert(spark.table("merge_redeliver").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((5L, "newer")))

      // at-least-once redelivery of seq ≤ applied: no output, no change
      stream.addData(MergeEvent(5L, "older", del = false, seq = 2L))
      q.processAllAvailable()
      assert(spark.table("merge_redeliver").count() === 1L)

      // a genuinely newer seq still applies after the stale one
      stream.addData(MergeEvent(5L, "newest", del = false, seq = 4L))
      q.processAllAvailable()
      assert(spark.table("merge_redeliver").collect()
        .map(r => (r.getLong(0), r.getString(1))).last ===
        ((5L, "newest")))
    } finally q.stop()
  }

  private def evDf(df: DataFrame): DataFrame =
    df.toDF("event_id", "user_id", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")

  test("attributionJoin: stream-stream interval join matches batch, " +
      "out-of-order arrivals included") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clickRows = Seq(
      (1L, 7L, "2024-01-01 00:00:00"),
      (2L, 7L, "2024-01-01 01:30:00"),
      (3L, 9L, "2024-01-01 00:10:00"))
    val purchaseRows = Seq(
      (10L, 7L, "2024-01-01 00:30:00"), // click 1 (+30m)
      (11L, 7L, "2024-01-01 01:45:00"), // click 2 (+15m); click 1 is +105m
      (12L, 9L, "2024-01-01 02:00:00")) // click 3 is +110m → no match

    val batch = StreamOps.attributionJoin(
      evDf(clickRows.toDF()), evDf(purchaseRows.toDF()))
      .orderBy("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(batch == Seq((1L, 10L, 7L), (2L, 11L, 7L)))

    val cs = MemoryStream[(Long, Long, String)]
    val ps = MemoryStream[(Long, Long, String)]
    val q = StreamOps.attributionJoin(
      evDf(cs.toDF), evDf(ps.toDF), watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      // purchases arrive BEFORE their clicks (batch 1 vs batch 2) —
      // the join must buffer the unmatched side in state
      ps.addData(purchaseRows: _*)
      q.processAllAvailable()
      cs.addData(clickRows: _*)
      q.processAllAvailable()
      val streamed = spark.table("attr")
        .orderBy("click_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("attributionJoin: a purchase behind the watermark is dropped, " +
      "not matched from evicted state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cs = MemoryStream[(Long, Long, String)]
    val ps = MemoryStream[(Long, Long, String)]
    val q = StreamOps.attributionJoin(
      evDf(cs.toDF), evDf(ps.toDF), watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("attr_late")
      .outputMode("append").start()
    try {
      // batch 1: a click at 00:00 on both timelines, plus head rows at
      // 06:00 that advance the watermark to 05:00 on both sides
      cs.addData((1L, 7L, "2024-01-01 00:00:00"),
        (2L, 8L, "2024-01-01 06:00:00"))
      ps.addData((20L, 8L, "2024-01-01 06:10:00"))
      q.processAllAvailable()
      // batch 2: a purchase at 00:20 that WOULD match click 1, but is
      // 4h40m behind the watermark — the join's state for that region
      // is evicted and the row must be dropped
      ps.addData((21L, 7L, "2024-01-01 00:20:00"))
      q.processAllAvailable()
      val out = spark.table("attr_late")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(out == Seq((2L, 20L)))
      assert(!out.exists(_._2 == 21L))
    } finally q.stop()
  }

  test("eventsStream file source + complete-mode foreachBatch equals the " +
      "batch twin (the stream_window_counts registered shape)") {
    val dir = sf0001
    val batch = StreamOps
      .windowedEventCounts(graft.sources.Sources.eventsTable(spark, dir))
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq

    val tmp = java.nio.file.Files.createTempDirectory("graft_sw_spec")
    try {
      val sink = s"$tmp/out"
      val writeBatch = (b: DataFrame, _: Long) =>
        b.coalesce(1).write.mode("overwrite").parquet(sink)
      val q = StreamOps
        .windowedEventCounts(graft.sources.Sources.eventsStream(spark, dir),
          watermark = Some("1 hour"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", s"$tmp/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(writeBatch)
        .start()
      q.awaitTermination()
      val streamed = spark.read.parquet(sink)
        .orderBy("window_start", "event_type")
        .collect().map(_.toSeq).toSeq
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  /** The state summary of the last stream a timed run of the
    * registered query `name` started, from the run's record. */
  private def streamState(name: String): JObject = {
    val run = graft.BenchHarness.timedRun(spark, sf0001, name,
      graft.SparkEntry.queries(name))
    run.result.get
    run.streams.lastOption.getOrElse(fail("no stream metrics recorded"))
  }

  /** A numeric field of a stream state summary. */
  private def streamMetric(js: JObject, k: String): Long = {
    js \ k match {
      case JInt(v) => v.toLong
      case _ => fail(s"field $k missing in $js")
    }
  }

  test("stream keeper state metrics ride the run harness into the bench " +
      "side-channel: state rows bounded by bands x docs, commit/update " +
      "times recorded (r16 verdict item 4)") {
    // Runs the REGISTERED stream_dedup_near query end-to-end and reads
    // the stream summary its timed run's record built from
    // StreamingQueryProgress — the same field Bench attaches to every
    // stream_* row. The hard
    // at-scale numbers live in the committed sf1 artifacts; this pins
    // the capture contract so the artifact can never silently go empty.
    val js = streamState("stream_dedup_near")
    val nDocs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id").distinct().count()
    assert(streamMetric(js, "batches") >= 1)
    assert(streamMetric(js, "batch_duration_ms") > 0)
    val stateRows = streamMetric(js, "state_rows_total")
    // one keeper per occupied band bucket: > 0, and never more than
    // bands (<= 64 by minhashKnobs' clamp) per distinct doc
    assert(stateRows > 0, js)
    assert(stateRows <= 64L * nDocs, js)
    assert(streamMetric(js, "state_rows_updated") >= stateRows, js)
    assert(streamMetric(js, "commit_ms") >= 0, js)
    assert(streamMetric(js, "updates_ms") >= 0, js)
    assert(streamMetric(js, "state_memory_bytes") > 0, js)
  }

  test("Hamming keeper state-growth LAW, exactly: state rows == distinct " +
      "band buckets holding an exact fingerprint key (r17 — the scaladoc " +
      "claim as a CI equality, via the captured metrics)") {
    // The keeper creates a state row per bucket GROUP, and only exact
    // rows create entries (probe rows only read) — so the state-store
    // row count must EQUAL the batch-side distinct count of exact band
    // keys. This is the "state linear in distinct fingerprints"
    // contract as an equality, not a bound.
    val stateRows =
      streamMetric(streamState("stream_phash_near"), "state_rows_total")
    import org.apache.spark.sql.functions.col
    val expected = graft.llm.Multimodal.dHashStreamBanded(
        graft.llm.Multimodal.bmpDHash(
          graft.SparkEntry.phashFixture(
            spark.read.parquet(s"$sf0001/documents.parquet")), "payload"))
      .filter(col("exact"))
      .select("bk").distinct().count()
    assert(stateRows === expected,
      s"keeper state rows $stateRows != distinct exact buckets $expected")
  }

  test("cosine keeper state-growth LAW, exactly: state rows == distinct " +
      "occupied LSH buckets (every bucket holds exactly one keeper)") {
    // Unlike the Hamming keeper (exact rows create entries, probes
    // only read), the cosine keeper installs a keeper in EVERY bucket
    // any row lands in — so state rows must equal the batch-side
    // distinct band-key count of the same fixture.
    val stateRows =
      streamMetric(streamState("stream_embed_near"), "state_rows_total")
    import org.apache.spark.sql.functions._
    // the registration's fixture, batch-side: corpus + the three
    // in-flight plants, banded under the same knobs
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val e0 = base.filter(col("vec_id") === 0L)
    val e5 = base.filter(col("vec_id") === 5L)
    val planted = base
      .unionByName(e0.select(lit(900001L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(1e-4)).otherwise(x))
          .as("embedding")))
      .unionByName(e5.select(lit(900002L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding")))
      .unionByName(e5.select(lit(900003L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, -x + lit(1e-4)).otherwise(-x))
          .as("embedding")))
    val expected = graft.llm.Dedup.embeddingBandedVecs(planted,
        numTables = 4, bitsPerTable = 12, dim = Some(64))
      .select("bk").distinct().count()
    assert(stateRows === expected,
      s"keeper state rows $stateRows != distinct occupied buckets $expected")
  }

  test("Jaccard keeper state-growth LAW, exactly: state rows == distinct " +
      "occupied band buckets (r17 verdict item 6 — the fourth-to-last " +
      "keeper bound promoted to an equality)") {
    // nearDedupStream installs exactly ONE BucketKeeper per bucket
    // GROUP: the first row of a bucket becomes its keeper, later rows
    // verify against it (and may replace it) but never add a second
    // state row, and no bucket loses its keeper inside a run without
    // TTL. So the state-store row count must EQUAL the batch-side
    // distinct band-key count of the same fixture under the same
    // banding knobs — the "state linear in distinct docs × bands"
    // scaladoc contract as a CI equality, matching the Hamming and
    // cosine keepers' law tests above.
    val stateRows =
      streamMetric(streamState("stream_dedup_near"), "state_rows_total")
    import org.apache.spark.sql.functions.col
    val expected = graft.llm.Dedup.minhashBandedShingles(
        spark.read.parquet(s"$sf0001/documents.parquet")
          .select(col("doc_id"), col("text")))
      .select("bk").distinct().count()
    assert(stateRows === expected,
      s"keeper state rows $stateRows != distinct occupied buckets $expected")
  }

  test("exact keeper state-growth LAW, exactly: state rows == distinct " +
      "dedup keys (dropDuplicatesWithinWatermark holds one entry per " +
      "first-seen key; fixture span < watermark horizon, so no eviction)") {
    // stream_dedup_keys keys state on (user_id, event_type); within one
    // run the store holds exactly one entry per distinct key seen. The
    // 30-day watermark delay equals the whole fixture span (max ts −
    // min ts < 30 d), so no entry can expire mid-run under ANY
    // micro-batch split and the final-batch state gauge must EQUAL the
    // batch-side distinct key count — the last of the four keepers'
    // state laws as an equality (r17 verdict item 6).
    val stateRows =
      streamMetric(streamState("stream_dedup_keys"), "state_rows_total")
    val expected = spark.read.parquet(s"$sf0001/events.parquet")
      .select("user_id", "event_type").distinct().count()
    assert(stateRows === expected,
      s"exact keeper state rows $stateRows != distinct keys $expected")
  }
}
