package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Invariant tests for the dedup family: planted duplicates must be
  * found, survivors must keep the minimum id, fuzzy paths must find a
  * planted near-duplicate without pairing unrelated docs. */
class DedupSpec extends SparkSpec {

  private lazy val docs: DataFrame =
    spark.read.parquet(s"$sf0001/documents.parquet")

  private lazy val vecs: DataFrame =
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))

  /** sf0.001 documents + a whitespace/case-mangled copy of doc 0 (id
    * 100000) and a one-word-edited copy of doc 1 (id 100001). */
  private lazy val planted: DataFrame = {
    val s = spark
    import s.implicits._
    val base = docs.select("doc_id", "text")
    val Seq(t0, t1) =
      base.filter(col("doc_id") < 2).orderBy("doc_id")
        .collect().map(_.getString(1)).toSeq
    val mangled = "  " + t0.toUpperCase.replace(" ", "\t \n") + "  "
    val words = t1.split(" ")
    val edited = (words.take(words.length - 1) :+ "zzzedit").mkString(" ")
    base.unionByName(Seq(
      (100000L, mangled), (100001L, edited)).toDF("doc_id", "text"))
  }

  test("editSimilarity: hand-computed distances; normalization folds in") {
    val s = spark
    import s.implicits._
    val frame = Seq(
      (1L, "kitten and the cat"),
      (2L, "sitting and the cat"),   // kitten→sitting = 3 edits
      (3L, "  SITTING   and\tthe cat "), // normalize-equal to 2
      (4L, ""),
      (5L, "")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.editSimilarity(frame, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(3))).toMap
    assert(out((1L, 2L))._1 == 3)
    assert(math.abs(out((1L, 2L))._2 - (1.0 - 3.0 / 19)) < 1e-6)
    assert(out((2L, 3L)) == ((0, 1.0))) // normalization makes them equal
    assert(out((4L, 5L)) == ((0, 1.0))) // two empties are identical
    // prefix truncation bounds the DP: long texts differ only past
    // maxChars → distance 0 at the default 100-char prefix
    val long1 = "x " * 60 + "alpha"
    val long2 = "x " * 60 + "omega"
    val trunc = Dedup.editSimilarity(
      Seq((1L, long1), (2L, long2)).toDF("doc_id", "text"),
      Seq((1L, 2L)).toDF("id_a", "id_b"))
      .head()
    assert(trunc.getInt(2) == 0 && trunc.getDouble(3) == 1.0)
  }

  test("exact: normalize-equal duplicate dropped, min id kept") {
    val out = Dedup.exact(planted)
    assert(out.count() == docs.count() + 1) // mangled copy collapsed
    assert(out.filter(col("doc_id") === 100000L).count() == 0)
    assert(out.filter(col("doc_id") === 0L).count() == 1)
  }

  test("exactKeepers: same result set as the window variant's keeper ids") {
    val fromWindow = Dedup.exact(planted).select("doc_id", "content_hash")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val fast = Dedup.exactKeepers(planted)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(fast == fromWindow)
  }

  test("connectedComponents: transitive chain A~B~C labels all three with A") {
    val s = spark
    import s.implicits._
    // edges A~B, B~C (A≁C directly) + an unrelated pair D~E
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
  }

  test("minhashConnected: keeps one doc per near-dup cluster through chains") {
    val s = spark
    import s.implicits._
    // B = A with one word edited, C = B with another word edited:
    // A~B and B~C are near-dups; A~C may fall below threshold. Greedy
    // suppression on pairs alone could keep C; components must not.
    val t0 = docs.filter(col("doc_id") === 0L).head().getAs[String]("text")
    val words = t0.split(" ")
    val b = (words.take(words.length - 1) :+ "zzz1").mkString(" ")
    val c = ("zzz2" +: words.tail.take(words.length - 2) :+ "zzz1").mkString(" ")
    val chain = docs.select("doc_id", "text").unionByName(
      Seq((200001L, b), (200002L, c)).toDF("doc_id", "text"))
    val kept = Dedup.minhashConnected(chain, minJaccard = 0.5)
    assert(kept.filter(col("doc_id") === 0L).count() == 1)
    assert(kept.filter(col("doc_id").isin(200001L, 200002L)).count() == 0)
  }

  test("minhashConnectedBest: the highest-scoring cluster member " +
      "survives instead of the smallest id") {
    val s = spark
    import s.implicits._
    val t0 = docs.filter(col("doc_id") === 0L).head().getAs[String]("text")
    val words = t0.split(" ")
    val b = (words.take(words.length - 1) :+ "zzz1").mkString(" ")
    val chain = docs.select("doc_id", "text").unionByName(
      Seq((200001L, b + " extra trailing words here")).toDF("doc_id", "text"))
      .withColumn("score", length(col("text")))
    // doc 200001 is LONGER than doc 0 → keep-best keeps the big id,
    // exactly where keep-min would keep doc 0
    val best = Dedup.minhashConnectedBest(chain, scoreCol = "score",
      minJaccard = 0.5)
    assert(best.filter(col("doc_id") === 200001L).count() == 1)
    assert(best.filter(col("doc_id") === 0L).count() == 0)
    val byMin = Dedup.minhashConnected(chain, minJaccard = 0.5)
    assert(byMin.filter(col("doc_id") === 0L).count() == 1)
    assert(byMin.filter(col("doc_id") === 200001L).count() == 0)
    // same survivor COUNT under either rule (one per cluster)
    assert(best.count() == byMin.count())
  }

  test("minhashClusterWeights: weight = floor6(1/cluster_size), one row " +
      "per doc, aggregate mass = cluster count, and the min member per " +
      "cluster is exactly the hard-dedup survivor set (r18)") {
    val s = spark
    import s.implicits._
    val t0 = docs.filter(col("doc_id") === 0L).head().getAs[String]("text")
    val words = t0.split(" ")
    val b = (words.take(words.length - 1) :+ "zzz1").mkString(" ")
    val c = ("zzz2" +: words.tail.take(words.length - 2) :+ "zzz1").mkString(" ")
    val chain = docs.select("doc_id", "text").unionByName(
      Seq((200001L, b), (200002L, c)).toDF("doc_id", "text"))
    val w = Dedup.minhashClusterWeights(chain, minJaccard = 0.5)
    // exactly one weight row per input doc
    assert(w.count() == chain.count())
    // the planted chain joins doc 0's cluster: same label, same size,
    // weight = the half-safe floor-6dp of 1/size (size may exceed 3 if
    // the corpus holds natural near-dups of doc 0 — assert consistency,
    // not a fixed size)
    val ch = w.filter(col("doc_id").isin(0L, 200001L, 200002L)).collect()
    assert(ch.length == 3)
    assert(ch.map(_.getAs[Long]("cluster")).toSet.size == 1)
    val sz = ch.head.getAs[Long]("cluster_size")
    assert(sz >= 3L)
    val expected = math.floor(1.0 / sz * 1000000.0 + 0.5) / 1000000.0
    assert(ch.forall(_.getAs[Double]("weight") == expected))
    // singletons weigh exactly 1 with themselves as cluster label
    val singles = w.filter(col("cluster_size") === 1)
    assert(singles.count() > 0)
    assert(singles.filter(col("weight") =!= 1.0).count() == 0)
    assert(singles.filter(col("cluster") =!= col("doc_id")).count() == 0)
    // soft-dedup mass invariant: total weight ≈ number of clusters
    // (each cluster sums to size·floor6(1/size) ∈ [1 − size·1e-6, 1])
    val totalW = w.agg(sum("weight")).head().getDouble(0)
    val nClusters = w.select("cluster").distinct().count()
    assert(math.abs(totalW - nClusters) < 0.01,
      s"mass $totalW vs clusters $nClusters")
    // consistency with the HARD dedup row: the min member of every
    // cluster is exactly minhashConnectedStarFirst's survivor set
    val survivors = Dedup.minhashConnectedStarFirst(chain, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val minPerCluster = w.groupBy("cluster")
      .agg(org.apache.spark.sql.functions.min("doc_id").as("m"))
      .collect().map(_.getAs[Long]("m")).toSet
    assert(minPerCluster == survivors)
  }

  test("exactGroups: duplicate group has size 2 and keeps min id") {
    val g = Dedup.exactGroups(planted).filter(col("group_size") > 1)
    assert(g.count() == 1)
    val r = g.head()
    assert(r.getAs[Long]("keep_id") == 0L)
    assert(r.getAs[Long]("group_size") == 2L)
  }

  test("minhashPairs: finds the planted near-dup with exact jaccard, id_a < id_b") {
    val pairs = Dedup.minhashPairs(planted, minJaccard = 0.5)
    val hit = pairs.filter(col("id_a") === 1L && col("id_b") === 100001L)
      .collect()
    assert(hit.length == 1)
    assert(hit(0).getAs[Double]("jaccard") > 0.5 &&
      hit(0).getAs[Double]("jaccard") < 1.0)
    assert(pairs.filter(col("id_a") >= col("id_b")).count() == 0)
  }

  test("minhashPairs agrees with the MLlib LSH cross-check on the planted pair") {
    val banded = Dedup.minhashPairs(planted, minJaccard = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val mllib = Dedup.minhashPairsLsh(planted, jaccardDist = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(banded.contains((1L, 100001L)))
    assert(mllib.contains((1L, 100001L)))
  }

  test("minhash: suppresses the larger-id member of a near-dup pair") {
    val out = Dedup.minhash(planted, minJaccard = 0.5)
    assert(out.filter(col("doc_id") === 1L).count() == 1)
    assert(out.filter(col("doc_id") === 100001L).count() == 0)
  }

  test("simhash: one-word edit keeps Hamming distance small") {
    val fps = Dedup.simhash(planted)
      .filter(col("doc_id").isin(1L, 100001L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ham = java.lang.Long.bitCount(fps(1L) ^ fps(100001L))
    assert(ham <= 8, s"hamming=$ham")
    // and the mangled doc normalizes identically only under exact;
    // simhash of a token-identical doc is equal (distance 0)
    val fp0 = Dedup.simhash(planted).filter(col("doc_id").isin(0L, 100000L))
      .collect().map(_.getLong(1))
    assert(fp0(0) == fp0(1))
  }

  test("simhash expression: bit-identical to the explode+65-agg SQL formulation") {
    // the shape simhashFingerprints replaced (explode every token, 64
    // conditional bit sums per doc) — kept here as the semantic oracle
    // for the codegen'd SimhashSignature narrow-projection path
    val tokens = planted
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^\\p{L}\\p{N}]+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$i")
    }
    val fpCol = (0 until 64).map { i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce[org.apache.spark.sql.Column]((a, b) => a.bitwiseOR(b))
    val oldFps = tokens.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fpCol.as("simhash"))
    val newFps = Dedup.simhash(planted)
    assert(newFps.count() == oldFps.count())
    assert(newFps.join(oldFps, Seq("doc_id", "simhash"), "left_anti")
      .count() == 0)
  }

  test("simhashPairs: banded candidates contain the planted pair") {
    val pairs = Dedup.simhashPairs(planted, maxHamming = 8, bands = 16)
    assert(pairs.filter(
      col("id_a") === 1L && col("id_b") === 100001L).count() == 1)
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(planted, maxHamming = 4, bands = 4)
    }
  }

  test("simhashVerified: finds planted near-dups with exact jaccard, " +
      "no unrelated pairs") {
    val out = Dedup.simhashVerified(planted, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // mangled copy normalizes token-identical → jaccard 1.0; one-word
    // edit lands strictly inside (0.5, 1.0)
    assert(out((0L, 100000L)) == 1.0)
    assert(out((1L, 100001L)) > 0.5 && out((1L, 100001L)) < 1.0)
    // verification is exact: nothing below the threshold survives
    assert(out.values.forall(_ >= 0.5))
  }

  test("ngramJaccard: identical pair scores 1.0, edited pair in (0,1)") {
    val s = spark
    import s.implicits._
    val pairs = Seq((0L, 100000L), (1L, 100001L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(
      planted.withColumn("text", lower(col("text"))), pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 100001L)) > 0.5 && j((1L, 100001L)) < 1.0)
  }

  test("simhash salted banding: bounds bucket fan-out on 16-bit collisions") {
    val s = spark
    import s.implicits._
    // 200 docs that all COINCIDENTALLY share band 0's 16-bit block but
    // are otherwise far apart (random upper 48 bits ⇒ no true near-dups)
    // with lengths spread over 10 log2 buckets — the 100 TB cliff shape.
    val rng = new scala.util.Random(7)
    val fps = (0 until 200).map { i =>
      (i.toLong, (rng.nextLong() << 16) | 0xABCDL, i % 10)
    }.toDF("doc_id", "simhash", "len_bucket")
    def distinctPairs(saltCol: Option[String]): Long = Dedup
      .simhashCandidates(fps, "doc_id", bands = 4, saltCol)
      .select("id_a", "id_b").distinct().count()
    val unsalted = distinctPairs(None)
    val salted = distinctPairs(Some("len_bucket"))
    // every pair collides unsalted (all 19 900); salted only same/adjacent
    // buckets pair (~5 500). The bound scales with corpus spread, not n².
    assert(unsalted >= 19900L, s"unsalted=$unsalted")
    assert(salted < unsalted / 3, s"salted=$salted unsalted=$unsalted")
    // the default path flows the salt end-to-end and still verifies by
    // exact Hamming: no false pairs survive
    assert(Dedup.simhashPairs(
      planted.filter(col("doc_id").isin(0L, 1L)), maxHamming = 3).count() == 0)
  }

  test("simhash salted banding: adjacent length buckets still pair (±1 overlap)") {
    val s = spark
    import s.implicits._
    // identical fingerprints, len buckets 5 and 6 (e.g. 50 vs 70 tokens:
    // under 2× apart but straddling a bucket edge) — must still collide
    val fps = Seq((1L, 12345L, 5), (2L, 12345L, 6), (3L, 12345L, 8))
      .toDF("doc_id", "simhash", "len_bucket")
    val pairs = Dedup.simhashPairsFromFingerprints(
      fps, saltCol = Some("len_bucket"))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))        // adjacent buckets: kept
    assert(!pairs.exists(_._2 == 3L))       // >1 bucket apart: pruned
  }

  test("exactIncremental: dedups the batch within itself and against history") {
    val s = spark
    import s.implicits._
    val hist = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "  ALPHA beta   gamma "), // dup of history (normalized)
      (11L, "zeta eta"),              // novel
      (12L, "zeta  eta"),             // dup within batch (normalized)
      (13L, "theta iota")             // novel
    ).toDF("doc_id", "text")
    val kept = Dedup.exactIncremental(batch, Dedup.exactKeepers(hist))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 13L))
  }

  test("exactIncremental vs bucketed keeper table: history side shuffle-free") {
    val keepers = Dedup.exactKeepers(docs)
    graft.sources.Sources.writeBucketed(
      keepers, "graft_keeper_hashes", "content_hash", numBuckets = 4)
    try {
      val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val batch = docs.filter(col("doc_id") % 10 >= 8)
        val out = Dedup.exactIncremental(batch,
          spark.table("graft_keeper_hashes"))
        out.count()
        val plan = out.queryExecution.executedPlan.toString
        // exactly ONE exchange: the batch's own pre-agg. The keeper
        // scan reuses its ingest-time bucketing (no Exchange above it).
        val exchanges = "Exchange".r.findAllIn(
          plan.replace("ReusedExchange", "")).length
        assert(exchanges == 1, s"want 1 exchange, plan:\n${plan.take(1500)}")
      } finally saved match {
        case Some(v) =>
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_keeper_hashes")
  }

  test("minhashIncremental: drops batch docs near history, keeps novel ones") {
    val s = spark
    import s.implicits._
    val hist = docs.select("doc_id", "text") // ids 0..n
    val t0 = hist.filter(col("doc_id") === 0L).head().getString(1)
    val words = t0.split(" ")
    val nearHist = (words.take(words.length - 1) :+ "zzzinc").mkString(" ")
    val novel = "a genuinely novel document about nothing seen before " +
      "with plenty of fresh tokens to shingle"
    // 500000 is a cross loser AND the smaller id of the within pair
    // (500000, 500003): the within rule still drops 500003
    val nearBoth = ("zzzhead" +: words.drop(1)).mkString(" ")
    val batch = Seq(
      (500000L, nearHist),          // near-dup of hist doc 0 → dropped
      (500001L, novel),             // novel → kept
      (500002L, novel + " tail"),   // near-dup of 500001 within batch → dropped
      (500003L, nearBoth)           // near 500000 within batch → dropped
    ).toDF("doc_id", "text")
    val kept = Dedup.minhashIncremental(batch, hist, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(500001L))
    // the persisted-history path (band keys from a bucketed table) is
    // the same computation with the history subtree swapped for a scan
    // — identical survivors by construction
    graft.sources.Sources.writeBucketed(
      Dedup.minhashBandKeys(hist), "graft_mh_bands_spec", "bk",
      numBuckets = 4)
    try {
      val keptPersisted = Dedup.minhashIncremental(batch, hist,
        minJaccard = 0.5,
        histBands = Some(spark.table("graft_mh_bands_spec")))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(keptPersisted == kept)
    } finally spark.sql("DROP TABLE IF EXISTS graft_mh_bands_spec")
  }

  test("minhashKnobs: explicit passthrough; derived knobs scale with corpus") {
    // both knobs explicit → passthrough, count never evaluated
    assert(Dedup.minhashKnobs(
      sys.error("count must not be evaluated"), 0.5, 64, 16) == (64, 16))
    // derived (either knob 0): a larger corpus needs a sharper S-curve
    // (more rows per band) to bound spurious candidates, and more bands
    // to hold recall at the threshold — pinned at two corpus sizes
    val small = Dedup.minhashKnobs(100L, 0.7, 0, 0)
    val large = Dedup.minhashKnobs(1000000L, 0.7, 0, 0)
    assert(small == (40, 10), s"small: $small")   // r=4, b=10
    assert(large == (522, 58), s"large: $large")  // sharpest feasible r=9, b=58
    val (nhS, nbS) = small
    val (nhL, nbL) = large
    assert(nhS % nbS == 0 && nhL % nbL == 0) // minhashBandKeys contract
    assert(nhL / nbL > nhS / nbS && nbL > nbS)
    // recall at the minJaccard boundary >= 0.9 for the derived pairs
    def recall(s: Double, r: Int, b: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    assert(recall(0.7, nhS / nbS, nbS) >= 0.9)
    assert(recall(0.7, nhL / nbL, nbL) >= 0.9)
    // a mixed spec (one explicit, one 0) still derives both
    assert(Dedup.minhashKnobs(100L, 0.7, 64, 0) == small)
  }

  test("connectedComponentsStar: adversarial 65-node chain converges in O(log n)") {
    val s = spark
    import s.implicits._
    // diameter-64 path: label propagation needs 64 rounds; star needs ~7
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponentsStar(chain, maxIter = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 65)
    assert(labels.values.forall(_ == 0L))
  }

  test("connectedComponents and star variant agree on self-pairs") {
    val s = spark
    import s.implicits._
    // node 7 only ever appears as a self-pair; both variants must keep
    // it (labeled with itself) rather than silently dropping it
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 7L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L)
    val prop = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.connectedComponentsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prop == expected)
    assert(star == expected)
  }

  test("connectedComponents: falls back to star contraction past maxIter") {
    val s = spark
    import s.implicits._
    val chain = (0L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // maxIter 3 << diameter 20: propagation can't converge; the default
    // falls back to star and still labels the whole chain with 0
    val labels = Dedup.connectedComponents(chain, maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 21 && labels.values.forall(_ == 0L))
  }

  test("connectedComponents loops leave the session conf alone") {
    val s = spark
    import s.implicits._
    val chain = (0L until 19L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val key = "spark.sql.shuffle.partitions"
    val session = spark.conf.get(key)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    // a second query on the same session reads the conf meanwhile
    val reader = new Thread(() =>
      while (running) { seen.add(spark.conf.get(key)); Thread.sleep(1) })
    reader.start()
    val (prop, star) = try (
      Dedup.connectedComponents(chain).collect(),
      Dedup.connectedComponentsStar(chain).collect())
    finally { running = false; reader.join() }
    val expected = (0L until 20L).map(_ -> 0L).toMap
    assert(prop.map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
    assert(star.map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
    assert(seen.size == 1 && seen.contains(session), seen)
  }

  test("connectedComponents: reliable-checkpoint mode gives the same labels") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 7L), (10L, 11L), (11L, 4L))
      .toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("cc-checkpoint")
    def labels(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      val ckpt = Some(dir.toString)
      assert(labels(Dedup.connectedComponents(pairs, checkpointDir = ckpt)) ==
        labels(Dedup.connectedComponents(pairs)))
      assert(labels(Dedup.connectedComponentsStar(pairs,
        checkpointDir = ckpt)) == labels(Dedup.connectedComponentsStar(pairs)))
    } finally {
      scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    }
  }

  test("embeddingIncremental: drops batch vecs near history, keeps novel ones") {
    val s = spark
    import s.implicits._
    val hist = vecs
    val v0 = hist.filter(col("vec_id") === 0L)
      .head().getSeq[Double](1).toArray
    val nearHist = v0.clone(); nearHist(0) += 1e-4
    val rng = new scala.util.Random(11)
    val novel = Array.fill(v0.length)(rng.nextGaussian())
    val nearNovel = novel.clone(); nearNovel(1) += 1e-4
    // 800000 is a cross loser AND the smaller id of the within pair
    // (800000, 800003): the within rule still drops 800003
    val nearBoth = nearHist.clone(); nearBoth(2) += 1e-4
    val batch = Seq(
      (800000L, nearHist.toSeq),  // near hist vec 0 → dropped
      (800001L, novel.toSeq),     // novel → kept
      (800002L, nearNovel.toSeq), // near 800001 within batch → dropped
      (800003L, nearBoth.toSeq)   // near 800000 within batch → dropped
    ).toDF("vec_id", "embedding")
    val kept = Dedup.embeddingIncremental(batch, hist, minCosine = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(800001L))
    // persisted-history path: same survivors; knobs must be explicit
    graft.sources.Sources.writeBucketed(
      Dedup.embeddingBandKeys(hist, numTables = 4, bitsPerTable = 12),
      "graft_emb_bands_spec", "bk", numBuckets = 4)
    try {
      val keptPersisted = Dedup.embeddingIncremental(batch, hist,
        minCosine = 0.99, numHashTables = 4, bitsPerTable = 12,
        histBands = Some(spark.table("graft_emb_bands_spec")))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(keptPersisted == Set(800001L))
      intercept[IllegalArgumentException] {
        Dedup.embeddingIncremental(batch, hist, minCosine = 0.99,
          histBands = Some(spark.table("graft_emb_bands_spec")))
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_emb_bands_spec")
  }

  test("minhash/embeddingIncremental degenerate batches, in-query and " +
      "persisted histBands: empty → empty, no candidate pair → every " +
      "row kept, copy groups → the smallest id of each") {
    val s = spark
    import s.implicits._
    val hist = docs.select("doc_id", "text")
    val dim = vecs.where(col("embedding").isNotNull)
      .head().getSeq[Double](1).length
    // 2 tables × 32 bits: unrelated vectors share no bucket, exact
    // copies share every one
    val (tables, bits) = (2, 32)
    graft.sources.Sources.writeBucketed(Dedup.minhashBandKeys(hist),
      "graft_mh_bands_degen", "bk", numBuckets = 4)
    graft.sources.Sources.writeBucketed(Dedup.embeddingBandKeys(
        vecs, numTables = tables, bitsPerTable = bits),
      "graft_emb_bands_degen", "bk", numBuckets = 4)
    graft.sources.Sources.writeBucketed(Dedup.simhashBandKeysExact(hist),
      "graft_sh_bands_degen", "bk", numBuckets = 4)
    graft.sources.Sources.writeBucketed(Dedup.passageChunkKeys(hist),
      "graft_psg_chunks_degen", "chunk", numBuckets = 4)
    def ids(df: DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    // survivors of minhash's in-query and persisted-history legs, then
    // of the simhash and passage incrementals (persisted history only)
    def textLegs(batch: Seq[(Long, String)]): Seq[Set[Long]] = {
      val b = batch.toDF("doc_id", "text")
      Seq(None, Some(spark.table("graft_mh_bands_degen"))).map(hb =>
        ids(Dedup.minhashIncremental(b, hist, histBands = hb)
          .select("doc_id"))) ++ Seq(
        ids(Dedup.simhashIncremental(b,
          spark.table("graft_sh_bands_degen")).select("doc_id")),
        ids(Dedup.passageIncremental(b,
          spark.table("graft_psg_chunks_degen")).select("doc_id")))
    }
    def embeddingLegs(batch: Seq[(Long, Seq[Double])]): Seq[Set[Long]] =
      Seq(None, Some(spark.table("graft_emb_bands_degen"))).map(hb =>
        ids(Dedup.embeddingIncremental(batch.toDF("vec_id", "embedding"),
          vecs, minCosine = 0.99, numHashTables = tables,
          bitsPerTable = bits, histBands = hb).select("vec_id")))
    // tokens no history doc has, disjoint across i; long enough for
    // several CDC chunks (passageIncremental drops on >= 2 shared)
    def novelText(i: Int) = (0 until 60).map(j => s"zzq${i}w$j").mkString(" ")
    val rng = new scala.util.Random(5)
    def novelVec() = Seq.fill(dim)(rng.nextGaussian())
    try {
      assert(textLegs(Nil).forall(_.isEmpty))
      assert(embeddingLegs(Nil).forall(_.isEmpty))

      val freshIds = (0 until 5).map(600000L + _)
      assert(textLegs(freshIds.map(i => (i, novelText(i.toInt))))
        .forall(_ == freshIds.toSet))
      assert(embeddingLegs(freshIds.map(i => (i, novelVec())))
        .forall(_ == freshIds.toSet))

      // groups {600010, 600011, 600012} and {600020, 600021}, listed
      // out of id order
      val (ta, tb) = (novelText(10), novelText(11))
      val (va, vb) = (novelVec(), novelVec())
      val groups = Seq(600012L -> 0, 600010L -> 0, 600021L -> 1,
        600011L -> 0, 600020L -> 1)
      val mins = Set(600010L, 600020L)
      assert(textLegs(groups.map { case (i, g) =>
        (i, if (g == 0) ta else tb) }).forall(_ == mins))
      assert(embeddingLegs(groups.map { case (i, g) =>
        (i, if (g == 0) va else vb) }).forall(_ == mins))
    } finally Seq("graft_mh_bands_degen", "graft_emb_bands_degen",
        "graft_sh_bands_degen", "graft_psg_chunks_degen")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("multiprobe Hamming budget: every multiprobe entry point rejects " +
      "-1 and 8 and names itself; a negative budget is not an empty " +
      "\"no duplicates\" result") {
    val s = spark
    import s.implicits._
    val text = docs.select("doc_id", "text")
    val fps = Dedup.simhashFingerprints(text).select("doc_id", "simhash")
    val hashes = Multimodal.bmpDHash(
      Seq((1L, Array[Byte](1, 2))).toDF("doc_id", "payload"), "payload")
    val stream = Seq.empty[graft.streaming.BandedHashRow].toDS()
    val entryPoints = Seq[(String, Int => Any)](
      "simhashIncremental" -> (h => Dedup.simhashIncremental(text,
        Dedup.simhashBandKeysExact(text), maxHamming = h)),
      "simhashStarFromFingerprintsMultiprobe" -> (h =>
        Dedup.simhashStarFromFingerprintsMultiprobe(fps, maxHamming = h)),
      "dHashPairs" -> (h => Multimodal.dHashPairs(hashes, maxHamming = h)),
      "dHashIncremental" -> (h => Multimodal.dHashIncremental(hashes,
        Multimodal.dHashBandKeys(hashes), maxHamming = h)),
      "nearDedupHashStream" -> (h => graft.streaming.StreamOps
        .nearDedupHashStream(stream, maxHamming = h)),
      // the production composition over the multiprobe star
      "simhashStarFromFingerprintsMultiprobe" -> (h =>
        Dedup.simhashVerifiedStarFirst(text, maxHamming = h)))
    for ((op, call) <- entryPoints; h <- Seq(-1, 8)) {
      val e = intercept[IllegalArgumentException](call(h))
      assert(e.getMessage.contains(op), e.getMessage)
    }
  }

  test("plain-banded Hamming budget: every plain simhash entry point " +
      "rejects -1 and `bands` and names itself; a negative budget is " +
      "not an empty \"no duplicates\" result") {
    val text = docs.select("doc_id", "text")
    val fps = Dedup.simhashFingerprints(text).select("doc_id", "simhash")
    val entryPoints = Seq[(String, Int => Any)](
      "simhashPairs" -> (h => Dedup.simhashPairs(text, maxHamming = h,
        bands = 4)),
      "simhashStar" -> (h => Dedup.simhashStar(text, maxHamming = h,
        bands = 4)),
      "simhashPairsFromFingerprints" -> (h =>
        Dedup.simhashPairsFromFingerprints(fps, maxHamming = h, bands = 4)),
      "simhashStarFromFingerprints" -> (h =>
        Dedup.simhashStarFromFingerprints(fps, maxHamming = h, bands = 4)))
    for ((op, call) <- entryPoints; h <- Seq(-1, 4)) {
      val e = intercept[IllegalArgumentException](call(h))
      assert(e.getMessage.contains(op), e.getMessage)
    }
  }

  test("minhash/embeddingIncremental: the final plan reads the candidate " +
      "pairs from one cut — no batch signature derivation left in it") {
    // the candidate pairs are a lazy localCheckpoint, so the plan that
    // runs holds them as one RDD-scan leaf; re-deriving the batch band
    // keys per consumer (one tokenize + signature scan each) is the
    // regression this pins
    def assertCut(out: DataFrame, kernels: String*): Unit = {
      out.write.format("noop").mode("overwrite").save()
      val p = out.queryExecution.executedPlan.toString
      kernels.foreach(k =>
        assert(!p.contains(k), s"$k derived in the final plan:\n$p"))
      assert(p.contains("Scan ExistingRDD[id_a"), s"no pair cut:\n$p")
    }
    val text = docs.select("doc_id", "text")
    graft.sources.Sources.writeBucketed(
      Dedup.minhashBandKeys(text.filter(col("doc_id") % 10 < 8)),
      "graft_mh_bands_cut", "bk", numBuckets = 4)
    graft.sources.Sources.writeBucketed(Dedup.embeddingBandKeys(
        vecs.filter(col("vec_id") % 10 < 8), numTables = 4,
        bitsPerTable = 12),
      "graft_emb_bands_cut", "bk", numBuckets = 4)
    try {
      assertCut(Dedup.minhashIncremental(
          text.filter(col("doc_id") % 10 >= 8),
          text.filter(col("doc_id") % 10 < 8),
          histBands = Some(spark.table("graft_mh_bands_cut"))),
        "minhash_signature", "word_ngrams")
      assertCut(Dedup.embeddingIncremental(
          vecs.filter(col("vec_id") % 10 >= 8),
          vecs.filter(col("vec_id") % 10 < 8), minCosine = 0.99,
          numHashTables = 4, bitsPerTable = 12,
          histBands = Some(spark.table("graft_emb_bands_cut"))),
        "hyperplane_signature")
    } finally Seq("graft_mh_bands_cut", "graft_emb_bands_cut")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("embeddingPairs: planted near-identical embedding pair found") {
    val s = spark
    import s.implicits._
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val v = base.filter(col("vec_id") === 0L)
      .head().getSeq[Double](1).toArray
    val nearCopy = v.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + 1e-4 else x }
    val planted = base.unionByName(
      Seq((90000L, nearCopy.toSeq)).toDF("vec_id", "embedding"))
    val pairs = Dedup.embeddingPairs(planted, minCosine = 0.99)
    assert(pairs.filter(
      col("id_a") === 0L && col("id_b") === 90000L).count() == 1)
  }

  test("embeddingPairsStarFirst: subset of the raw pair relation, " +
      "keep-min drop set identical on a 5x-replicated corpus, and the " +
      "planted-pair registration shape is exact (r14)") {
    val s = spark
    import s.implicits._
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .filter(col("vec_id") < 30)
    // 5×-replicated high-duplication fixture (the sf1 rehearsal shape):
    // replica k nudges the first coordinate by k·1e-4 — within-group
    // cosine ~1.0, cross-group cosine stays at the natural ≤ 0.51
    val replicated = (0 until 5).map { k =>
      if (k == 0) base
      else base.select(
        (col("vec_id") + lit(k * 1000000L)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(k * 1e-4)).otherwise(x))
          .as("embedding"))
    }.reduce(_ unionByName _)
    // explicit knobs: auto-derivation counts rows per call and the two
    // paths must band identically
    val starFirst = Dedup.embeddingPairsStarFirst(replicated,
        minCosine = 0.95, numHashTables = 4, bitsPerTable = 12,
        collapseCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = Dedup.embeddingPairs(replicated,
        minCosine = 0.95, numHashTables = 4, bitsPerTable = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // never a false pair
    assert((starFirst -- raw).isEmpty,
      s"star-first emitted pairs outside the raw relation: ${starFirst -- raw}")
    // keep-min drop sets identical: every non-min replica is attributed
    val dropsOf = (ps: Set[(Long, Long)]) => ps.map(_._2)
    assert(dropsOf(starFirst) == dropsOf(raw),
      s"drop sets diverge: star-only=${dropsOf(starFirst) -- dropsOf(raw)} " +
        s"raw-only=${dropsOf(raw) -- dropsOf(starFirst)}")
    assert(raw.nonEmpty, "fixture degenerate: no replica pairs at all")
    // the dedup_embedding_pairs registration shape (minCosine ==
    // collapseCosine == 0.99, one planted near-copy) returns exactly
    // the raw relation on the planted fixture
    val v = base.filter(col("vec_id") === 0L)
      .head().getSeq[Double](1).toArray
    val nearCopy = v.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + 1e-4 else x }
    val planted = base.unionByName(
      Seq((90000L, nearCopy.toSeq)).toDF("vec_id", "embedding"))
    val sf = Dedup.embeddingPairsStarFirst(planted, minCosine = 0.99,
        collapseCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sf == Set((0L, 90000L)), s"got $sf")
  }

  test("lineDedup: keep-first semantics — cross-doc, within-doc, blanks, " +
      "all-repeat docs") {
    val s = spark
    import s.implicits._
    val fixture = Seq(
      (0L, "alpha\nshared\n\nbeta"),
      // 'shared' twice more (cross-doc) — both removed; blank survives
      (1L, "shared\ngamma\n\nshared"),
      // within-doc repeat where THIS doc holds the first occurrence
      (2L, "echo\necho"),
      // every line a later repeat → empty text, doc still present
      (3L, "alpha\nbeta")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(fixture).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((0L, "alpha\nshared\n\nbeta", 4L, 0L)))
    assert(out(1) == ((1L, "gamma\n", 4L, 2L)))
    assert(out(2) == ((2L, "echo", 2L, 1L)))
    assert(out(3) == ((3L, "", 2L, 2L)))
  }

  test("substringDedup: cross-doc span removal, within-doc self-repeat, " +
      "short docs untouched") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog today" // 10 toks
    val fixture = Seq(
      (0L, base),
      // lifts doc 0's full 10-token span after a 3-token intro — the
      // span's 3 interior windows repeat doc 0's, tiling pos 3..12
      (1L, s"intro words then $base"),
      // byte-identical to doc 0 → every window a loser → empty text
      (2L, base),
      // within-doc repeat: the 8-gram at pos 9 repeats pos 0
      (3L, "a b c d e f g h x a b c d e f g h"),
      // < k tokens → no windows, passes through
      (4L, "too short to window")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(fixture, k = 8).orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((0L, base, 10L, 0L)))
    assert(out(1) == ((1L, "intro words then", 13L, 10L)))
    assert(out(2) == ((2L, "", 10L, 10L)))
    assert(out(3) == ((3L, "a b c d e f g h x", 17L, 8L)))
    assert(out(4) == ((4L, "too short to window", 4L, 0L)))
  }

  test("substringDedup: xxhash64 gram keys reproduce the string-keyed " +
      "output on the corpus fixture") {
    val in = docs.select("doc_id", "text")
    def rows(hashKeys: Boolean) =
      Dedup.substringDedup(in, k = 8, hashKeys = hashKeys)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(hashKeys = true) == rows(hashKeys = false))
  }

  test("lineDedup plan: map-side WindowGroupLimit bounds hot lines; " +
      "two corpus shuffles (line window + reassembly)") {
    val out = Dedup.lineDedup(docs.select("doc_id", "text"))
    val plan = out.queryExecution.executedPlan.toString
    // the rank-1 filter must rewrite to a WindowGroupLimit with a
    // Partial pass before the exchange — each map task forwards at
    // most one occurrence per distinct line, so the 10^9-copy banner
    // reaches its reducer as ≤ one row per task
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
    assert(plan.contains("Partial"), plan.take(800))
    // corpus-sided shuffles: line-keyed window, groupBy(doc)
    // reassembly, and the final per-doc stats join (broadcast at this
    // SF; ≤ 3 hash exchanges even when it can't broadcast)
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n <= 3, s"expected <= 3 hash exchanges, got $n:\n${plan.take(1200)}")
  }

  test("simhashStar: replica groups collapse to keep-min links, drop set " +
      "== pair-based keep-min, and the plan has NO self-join") {
    val s = spark
    import s.implicits._
    // 10×-replicated corpus slice — the sf1 rehearsal shape that sent
    // the pair self-join quadratic (each replica differs by one
    // trailing token, hamming ~0-2 from its original). Deterministic
    // subset (an unordered limit() could pick different rows for the
    // star and pair jobs).
    val base = docs.select("doc_id", "text").filter(col("doc_id") < 30)
    val replicated = (0 until 5).map { k =>
      if (k == 0) base
      else base.select(
        (col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" r$k")).as("text"))
    }.reduce(_ unionByName _)
    val star = Dedup.simhashStar(replicated, maxHamming = 3)
    val starDrops = star.select("id_b").distinct()
      .collect().map(_.getLong(0)).toSet
    // pair-based keep-min ground truth at the same knobs
    val pairs = Dedup.simhashPairs(replicated, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairDrops = pairs.map(_._2).toSet // id_b is always the larger id
    // zero FALSE links: star is a subset of the pair relation's drop set
    assert((starDrops -- pairDrops).isEmpty,
      s"star flagged ids the pair path does not: ${starDrops -- pairDrops}")
    // coverage: the duplicate mass is caught. Measured on this fixture:
    // 103 of the pair path's 104 — the one escape is a replica whose
    // every group member is beyond maxHamming and whose single near
    // link is shadowed by coincidental bucket minima/predecessors in
    // all of its buckets (the documented probabilistic residual).
    assert((pairDrops -- starDrops).size <= 1,
      s"more than the known residual escaped: ${pairDrops -- starDrops}")
    assert(starDrops.size >= 100,
      s"expected the bulk of 120 replicas dropped, got ${starDrops.size}")
    // links are star-shaped: every id_a is smaller than its id_b
    star.collect().foreach(r => assert(r.getLong(0) < r.getLong(1)))
    // and the plan is join-free — one window over banded rows, no
    // quadratic self-join anywhere
    val plan = star.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(800))
  }

  test("star-first production composition: collapse survivors, pairs == " +
      "raw pair relation restricted to them, verified pairs candidate-" +
      "exact (r12, the benched shape behind dedup_simhash_pairs/_verified)") {
    val s = spark
    import s.implicits._
    // same 5×-replicated high-duplication fixture as the star test
    val base = docs.select("doc_id", "text").filter(col("doc_id") < 30)
    val replicated = (0 until 5).map { k =>
      if (k == 0) base
      else base.select(
        (col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" r$k")).as("text"))
    }.reduce(_ unionByName _)
    val survivors = Dedup.simhashStarCollapse(replicated, maxHamming = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val starDrops = Dedup.simhashStar(replicated, maxHamming = 3)
      .select("id_b").distinct().collect().map(_.getLong(0)).toSet
    // collapse = corpus minus the star drop set, nothing else
    assert(survivors ==
      replicated.select("doc_id").collect().map(_.getLong(0)).toSet
        -- starDrops)
    // the production pair relation IS the raw (quadratic, un-benched
    // ground truth) relation restricted to survivor×survivor — the
    // banding/knob paths cannot drift apart without failing here
    val starFirst = Dedup.simhashPairsStarFirst(replicated, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rawPairs = Dedup.simhashPairs(replicated, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(starFirst ==
      rawPairs.filter(p => survivors(p._1) && survivors(p._2)))
    // after the collapse the replica mass is gone: the survivor pair
    // relation is a sliver of the raw one (the quadratic cost the
    // registered shape no longer pays)
    assert(rawPairs.size > 100 && starFirst.size < rawPairs.size / 5,
      s"raw=${rawPairs.size} starFirst=${starFirst.size}")
    // the registered pairs row collapses TIGHTER (Hamming ≤ 2) than it
    // enumerates (≤ 3) — the same restriction property must hold with
    // the thresholds split
    val surv2 = Dedup.simhashStarCollapse(replicated, maxHamming = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val starFirst2 = Dedup.simhashPairsStarFirst(replicated,
      maxHamming = 3, collapseHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(starFirst2 == rawPairs.filter(p => surv2(p._1) && surv2(p._2)))
    // verified composition (r13 shape): MULTIPROBE star links at the
    // full enumeration threshold (Hamming ≤ 6) with every link
    // Jaccard-verified before it can drop anyone — so the result must
    // be the raw brute-force verified relation restricted to the
    // Jaccard-verified star survivors, with no qualifying pair among
    // them lost
    val fps = Dedup.simhashFingerprints(replicated)
    val vDrops = Dedup.ngramJaccard(replicated,
        Dedup.simhashStarFromFingerprintsMultiprobe(fps, "doc_id", 6,
          Some("len_bucket")).select("id_a", "id_b"))
      .filter(col("jaccard") >= 0.5)
      .select("id_b").distinct().collect().map(_.getLong(0)).toSet
    val vSurv = allIdsOf(replicated) -- vDrops
    val verified = Dedup.simhashVerifiedStarFirst(replicated,
      minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    verified.foreach { case (a, b, j) =>
      assert(a < b)
      assert(j >= 0.5)
    }
    val verifiedPairs = verified.map(p => (p._1, p._2)).toSet
    val rawVerified = Dedup.simhashVerified(replicated, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision: every output row — link or survivor pair — is a true
    // pair of the raw (un-benched ground truth) verified relation
    assert(verifiedPairs.subsetOf(rawVerified),
      s"false pairs: ${verifiedPairs -- rawVerified}")
    // the survivor×survivor part is EXACTLY the raw relation
    // restricted to the collapse survivors — nothing missed
    assert(verifiedPairs.filter(p => vSurv(p._1) && vSurv(p._2)) ==
      rawVerified.filter(p => vSurv(p._1) && vSurv(p._2)))
    // the link part is exactly the Jaccard-verified star links, so the
    // output's keep-min drop set equals the raw relation's (keep-min
    // sufficiency — the output is a compressed but equivalent relation)
    assert(verifiedPairs.map(_._2) == rawVerified.map(_._2),
      "keep-min drop sets diverge")
    // on the replicated fixture the Jaccard-verified collapse removes
    // the replica mass outright — the quadratic cost the r12 tighter
    // collapse only half-removed (its Hamming-4..6 replicas survived);
    // the output carries that mass as ~linear star links, not C(m,2)
    assert(vDrops.size >= 100, s"collapse too weak: ${vDrops.size}")
    // link-vs-clique compression is C(m,2)/~2(m−1) ≈ m/4 — modest at
    // this fixture's m=5 (10 pairs vs ~8 links per group), dominant at
    // crawl replica depths; strictly smaller already proves the clique
    // expansion is gone
    assert(verifiedPairs.size < rawVerified.size,
      s"no compression: ${verifiedPairs.size} vs ${rawVerified.size}")
  }

  private def allIdsOf(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("minhashStar: replica groups collapse to keep-min links, drop set " +
      "== pair-based keep-min, and the link plan has NO self-join") {
    val s = spark
    import s.implicits._
    // the same 5×-replicated high-duplication fixture as the simhash
    // star test — each replica appends one trailing token, Jaccard
    // ~0.9+ against its original
    val base = docs.select("doc_id", "text").filter(col("doc_id") < 30)
    val replicated = (0 until 5).map { k =>
      if (k == 0) base
      else base.select(
        (col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" r$k")).as("text"))
    }.reduce(_ unionByName _)
    val star = Dedup.minhashStar(replicated, minJaccard = 0.5)
    val starDrops = star.select("id_b").distinct()
      .collect().map(_.getLong(0)).toSet
    // pair-based keep-min ground truth at the same knobs
    val pairs = Dedup.minhashPairs(replicated, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairDrops = pairs.map(_._2).toSet // id_b is always the larger id
    // measured on this fixture: the star drop set IS the pair keep-min
    // drop set — zero false links (every link passes exact Jaccard)
    // and zero escapes (every replica group sits contiguously in its
    // shared buckets, so prefix-min + predecessor links cover it)
    assert(starDrops == pairDrops,
      s"false=${starDrops -- pairDrops} missed=${pairDrops -- starDrops}")
    assert(starDrops.size >= 100,
      s"expected the bulk of 120 replicas dropped, got ${starDrops.size}")
    // links are star-shaped: every id_a is smaller than its id_b, and
    // every link is VERIFIED (exact n-gram Jaccard >= the bar — the
    // sketch never decides alone)
    star.collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.5)
    }
    // the link GENERATION is join-free — one window pass over banded
    // rows (verification joins text afterward, linear in links)
    val links = Dedup.minhashStarFromBandKeys(
      Dedup.minhashBandKeys(replicated))
    val plan = links.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(800))
  }

  test("minhash star-first production composition: collapse survivors, " +
      "pairs == raw relation restricted to them, clusters/best/" +
      "incremental refine raw (r13, the benched shapes behind " +
      "dedup_minhash_pairs/_clusters/_clusters_best/_incremental)") {
    val s = spark
    import s.implicits._
    val base = docs.select("doc_id", "text").filter(col("doc_id") < 30)
    val replicated = (0 until 5).map { k =>
      if (k == 0) base
      else base.select(
        (col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" r$k")).as("text"))
    }.reduce(_ unionByName _)
    val allIds = replicated.select("doc_id").collect().map(_.getLong(0)).toSet
    val starDrops = Dedup.minhashStar(replicated, minJaccard = 0.5)
      .select("id_b").distinct().collect().map(_.getLong(0)).toSet
    val survivors = Dedup.minhashStarCollapse(replicated, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // collapse = corpus minus the star drop set, nothing else
    assert(survivors == allIds -- starDrops)
    // the production pair relation IS the raw (quadratic, un-benched
    // ground truth) relation restricted to survivor×survivor
    val rawPairs = Dedup.minhashPairs(replicated, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val starFirst = Dedup.minhashPairsStarFirst(replicated,
      minJaccard = 0.5, collapseJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(starFirst ==
      rawPairs.filter(p => survivors(p._1) && survivors(p._2)))
    // after the collapse the replica mass is gone — the survivor pair
    // relation is a sliver of the raw one (the C(m,2) cost the
    // registered shape no longer pays)
    assert(rawPairs.size > 300 && starFirst.size < rawPairs.size / 5,
      s"raw=${rawPairs.size} starFirst=${starFirst.size}")
    // the registered pairs row collapses TIGHTER (0.95) than it
    // enumerates (0.2) — the restriction property must hold with the
    // thresholds split too
    val surv9 = Dedup.minhashStarCollapse(replicated, minJaccard = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val starFirst9 = Dedup.minhashPairsStarFirst(replicated,
      minJaccard = 0.5, collapseJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(starFirst9 ==
      rawPairs.filter(p => surv9(p._1) && surv9(p._2)))
    // cluster dedup: star-first components can only REFINE the raw
    // relation's (every edge is a true pair — extra keepers on an
    // escape, never a wrong merge); on this fixture the keep sets are
    // IDENTICAL, which is what lets the registered rows keep the
    // brute-force closure oracle
    val rawKeep = Dedup.minhashConnected(replicated, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sfKeep = Dedup.minhashConnectedStarFirst(replicated, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rawKeep.subsetOf(sfKeep), "star-first lost a raw keeper")
    assert(sfKeep == rawKeep, s"extra keepers: ${sfKeep -- rawKeep}")
    val rawBest = Dedup.minhashConnectedBest(replicated,
      scoreCol = "text", minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sfBest = Dedup.minhashConnectedBestStarFirst(replicated,
      scoreCol = "text", minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sfBest == rawBest)
    // incremental: the within-batch star replaces the batch self-join;
    // survivors match the raw path on this fixture
    val batch = replicated.filter(col("doc_id") % 10 >= 8)
    val hist = replicated.filter(col("doc_id") % 10 < 8)
    val rawInc = Dedup.minhashIncremental(batch, hist, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sfInc = Dedup.minhashIncrementalStarFirst(batch, hist,
      minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rawInc.subsetOf(sfInc), "star-first dropped a raw survivor")
    assert(sfInc == rawInc, s"extra survivors: ${sfInc -- rawInc}")
  }

  test("semantic: planted near-identical vectors flagged, keeper and " +
      "dissimilar rows kept, null embeddings unindexed") {
    val s = spark
    import s.implicits._
    val base = Seq(
      (0L, Some(Seq(1.0, 0.0, 0.0, 0.0))),
      (1L, Some(Seq(0.0, 1.0, 0.0, 0.0))),
      (2L, Some(Seq(0.0, 0.0, 1.0, 0.0))),
      (3L, Some(Seq(0.6, 0.8, 0.0, 0.0))), // cos ≤ 0.8 vs any base row
      (10L, Some(Seq(1.0, 1e-5, 0.0, 0.0))), // near-copy of id 0
      (99L, Option.empty[Seq[Double]])) // null → unindexed
      .toDF("vec_id", "embedding")
    val out = Dedup.semantic(base, nCells = 2, minCosine = 0.95)
      .collect()
      .map(r => r.getLong(0) -> (Option(r.get(2)), r.getInt(3)))
      .toMap
    assert(out.size === 5, "null-embedding row must not be indexed")
    assert(out(10L)._2 === 1, "planted near-copy must be flagged")
    assert(out(10L)._1.exists(_.asInstanceOf[Double] > 0.99))
    // the SMALLER id of the duplicate relation is the keeper
    assert(out(0L)._2 === 0)
    assert(Seq(1L, 2L, 3L).forall(out(_)._2 === 0),
      "dissimilar rows must not be flagged at τ = 0.95")
    // dim guard: a wrong-dimension vector is EXCLUDED when dim is
    // given (it would otherwise be cell-assigned and compared by
    // truncated min-length cosine — a silent false-dup risk)
    val short = Seq((50L, Some(Seq(1.0, 1e-5)))).toDF("vec_id", "embedding")
    val guarded = Dedup.semantic(base.unionByName(short), nCells = 2,
      minCosine = 0.95, dim = Some(4))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!guarded.contains(50L), "wrong-dim row must not be indexed")
    assert(guarded == Set(0L, 1L, 2L, 3L, 10L))
  }

  test("semanticKnobs: explicit passthrough; derived nCells holds the " +
      "target cell size so within-cell pair work stays linear (r12)") {
    // explicit knobs pass through, count never evaluated
    var evaluated = false
    assert(Dedup.semanticKnobs({ evaluated = true; 5L }, 16) == 16)
    assert(!evaluated)
    // the registered fixture lands on the same 16 cells the previous
    // fixed registration used (501 well-formed rows, target 32)
    assert(Dedup.semanticKnobs(501L, 0) == 16)
    // derivation = exact ceil(n/target) — the DuckDB twin's CEIL —
    // and expected cell size never exceeds the target, which bounds
    // expected within-cell pairs by n·target/2 (linear in n)
    Seq(1L, 31L, 32L, 33L, 501L, 2001L, 20001L, 1000000L).foreach { n =>
      val nc = Dedup.semanticKnobs(n, 0)
      assert(nc == math.max(1, math.ceil(n / 32.0).toInt), s"n=$n")
      assert(n.toDouble / nc <= 32.0, s"n=$n cell size ${n.toDouble / nc}")
    }
    // end-to-end: the derived path clusters into ⌈n/target⌉ cells
    val s = spark
    import s.implicits._
    val base = (0L until 64L)
      .map(i => (i, Seq.tabulate(4)(d => math.sin(i * 4.0 + d))))
      .toDF("vec_id", "embedding")
    val cells = Dedup.semantic(base, nCells = 0, minCosine = 0.9)
      .select("cell").distinct().count()
    assert(cells <= 2 && cells >= 1) // ⌈64/32⌉ = 2 drawn cells
  }

  test("semantic plan: pair stage is an equi-join on cell — no " +
      "cartesian, bounded exchanges") {
    val s = spark
    import s.implicits._
    val base = (0L until 32L)
      .map(i => (i, Seq.tabulate(4)(d => math.sin(i * 4.0 + d))))
      .toDF("vec_id", "embedding")
    val plan = Dedup.semantic(base, nCells = 4, minCosine = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("semanticIncremental: batch row near a history row flags cross " +
      "(id order irrelevant — history is prior), within-batch pairs " +
      "flag their larger id, novel rows unflagged, null rows unindexed") {
    val s = spark
    import s.implicits._
    val hist = Seq(
      (5L, Seq(1.0, 0.0, 0.0, 0.0)),
      (6L, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val index = Similarity.ivfIndexHashInit(hist, nCells = 2)
    val histCells = Dedup.semanticHistCells(index)
    val batch = Seq(
      // near-copy of history 5 with a SMALLER id: must still flag —
      // history is prior by arrival, not by id
      (2L, Some(Seq(1.0, 1e-5, 0.0, 0.0))),
      // 10/11: near-identical pair, both orthogonal to BOTH centroids
      // so the tie-break (larger cell id) deterministically co-locates
      // them whatever the hash draw ordered the centroids
      (10L, Some(Seq(0.0, 0.0, 1.0, 0.0))), // novel — unflagged
      (11L, Some(Seq(0.0, 0.0, 1.0, 1e-5))), // near 10, larger id — flags
      (99L, Option.empty[Seq[Double]])) // null → unindexed
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticIncremental(batch, index, histCells,
        minCosine = 0.95, dim = Some(4))
      .collect()
      .map(r => r.getLong(0) -> r.getInt(3))
      .toMap
    assert(out.keySet == Set(2L, 10L, 11L),
      "history rows never re-emitted; null batch rows unindexed")
    assert(out(2L) === 1, "cross near-dup must flag despite smaller id")
    assert(out(10L) === 0, "novel batch row must not flag")
    assert(out(11L) === 1, "within-batch near-dup flags its larger id")
  }

  test("embeddingBandedVecs dim screen: a ragged vector fails the batch " +
      "deterministically at ingest (not collision-dependently in-state)") {
    val s = spark
    import s.implicits._
    val base = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0))) // ragged — 2-dim in a 3-dim corpus
      .toDF("vec_id", "embedding")
    // without dim: both rows band (the permissive legacy behavior)
    assert(Dedup.embeddingBandedVecs(base,
      numTables = 2, bitsPerTable = 4).count() === 4)
    // with dim: the ragged row throws regardless of bucket geometry
    intercept[Exception] {
      Dedup.embeddingBandedVecs(base,
        numTables = 2, bitsPerTable = 4, dim = Some(3)).count()
    }
    // and a well-formed frame passes through unchanged
    assert(Dedup.embeddingBandedVecs(base.filter($"vec_id" === 1L),
      numTables = 2, bitsPerTable = 4, dim = Some(3)).count() === 2)
  }

  test("passageIncremental: lifted passage from history drops cross, " +
      "within-batch copy drops its larger id, novel and chunkless " +
      "docs survive") {
    val s = spark
    import s.implicits._
    val histText = ("the archival record describes a long winter voyage " +
      "across the frozen straits where the crew rationed lamp oil and " +
      "counted the days by the turning of the tide tables while the " +
      "navigator kept a meticulous log of soundings bearings and the " +
      "slow drift of the pack ice under a pale and sunless sky")
    val novelText = ("completely different subject matter entirely about " +
      "the cultivation of terraced mountain orchards where growers " +
      "graft heritage apple varieties onto hardy rootstock and haul " +
      "the autumn harvest down switchback trails by mule to the " +
      "cooperative press that bottles the valley's sharp dry cider")
    val hist = Seq((1L, histText)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, histText.take(200) + " and then the text turns entirely new"),
      (11L, novelText), // novel — survives
      (12L, novelText), // exact copy of 11 within the batch — drops
      (13L, "x")) // too short to share chunks — survives
      .toDF("doc_id", "text")
    val histChunks = Dedup.passageChunkKeys(hist,
      avgChunkBits = 4, window = 8)
    val kept = Dedup.passageIncremental(batch, histChunks,
        avgChunkBits = 4, window = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 13L),
      s"want lifted 10 and within-copy 12 dropped, got $kept")
  }

  test("simhashIncremental: history near-dups drop cross (verified " +
      "from carried fingerprints, text never re-tokenized), " +
      "within-batch pairs drop their larger id, novel docs survive") {
    val s = spark
    import s.implicits._
    val hist = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // token-identical to history 1 — hamming 0, cross loser
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // novel — survives
      (11L, "the quick brown fox jumps over the lazy dog tonight"),
      // token-identical to 11 WITHIN the batch — within loser
      (12L, "the quick brown fox jumps over the lazy dog tonight"),
      // tokenless: no fingerprint, emits no row
      (13L, "   ")).toDF("doc_id", "text")
    graft.sources.Sources.writeBucketed(
      Dedup.simhashBandKeysExact(hist), "graft_test_sh_hist", "bk",
      numBuckets = 4)
    try {
      val surv = Dedup.simhashIncremental(
          batch, spark.table("graft_test_sh_hist"), maxHamming = 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(surv == Set(11L))
    } finally spark.sql("DROP TABLE IF EXISTS graft_test_sh_hist")
  }
}
