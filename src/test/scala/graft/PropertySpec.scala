package graft

import graft.features.{RobustScaling, SplitColumn}
import graft.llm.{Similarity, TextAnalysis}
import graft.operators.Events
import org.apache.spark.sql.functions._
import scala.util.Random

/** Property-style tests over seeded random inputs: each case checks an
  * algebraic invariant against a brute-force reference computation
  * rather than a hand-picked expectation. */
class PropertySpec extends SparkSpec {

  private val rng = new Random(42)

  test("property: robust scaling is invariant under affine input transforms") {
    val s = spark
    import s.implicits._
    (1 to 3).foreach { _ =>
      val data = Seq.fill(200)(rng.nextDouble() * 100 - 50)
      val shift = rng.nextDouble() * 10 - 5
      val scale = rng.nextDouble() * 4 + 0.5
      val base = data.toDF("x")
      val transformed = data.map(v => v * scale + shift).toDF("x")
      val a = RobustScaling(base, Seq("x"), exact = true)
        .select("x_scaled").collect().map(_.getDouble(0)).sorted
      val b = RobustScaling(transformed, Seq("x"), exact = true)
        .select("x_scaled").collect().map(_.getDouble(0)).sorted
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
  }

  test("property: split column is 0/1 and train+test partitions the frame") {
    val s = spark
    import s.implicits._
    (1 to 3).foreach { _ =>
      val df = Seq.fill(100)((rng.nextInt(5), rng.nextDouble())).toDF("g", "v")
      val excluded = rng.nextInt(5)
      val split = SplitColumn.customByLabel(df, "g", excluded)
      val flags = split.select("is_train").distinct()
        .collect().map(_.getInt(0)).toSet
      assert(flags.subsetOf(Set(0, 1)))
      assert(SplitColumn.trainSplit(split).count() +
        SplitColumn.testSplit(split).count() == 100)
    }
  }

  test("property: normalize is idempotent on whitespace-mangled text") {
    val s = spark
    import s.implicits._
    val words = Seq("alpha", "Beta", "GAMMA", "delta42", "x")
    val texts = (1 to 20).map { _ =>
      (1 to rng.nextInt(10) + 1).map { _ =>
        val pad = Seq(" ", "  ", "\t", "\n").apply(rng.nextInt(4))
        pad + words(rng.nextInt(words.size))
      }.mkString
    }
    val df = texts.toDF("text")
    val once = df.select(TextAnalysis.normalize(col("text")).as("n"))
    val twice = once.select(TextAnalysis.normalize(col("n")).as("n"))
    assert(once.collect().map(_.getString(0)).toSeq ==
      twice.collect().map(_.getString(0)).toSeq)
  }

  test("property: cosine bounded in [-1,1], self-similarity 1") {
    val s = spark
    import s.implicits._
    val vecs = (0L until 20L).map(i =>
      (i, Seq.fill(8)(rng.nextDouble() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.selfTopK(df, k = 19, embCol = "embedding")
    out.collect().foreach { r =>
      val c = r.getDouble(3)
      assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12)
    }
    val self = df.select(
      Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    self.collect().foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("property: charEntropy matches a local reference on random strings") {
    val s = spark
    import s.implicits._
    val alphabet = "abcdefg 123.,\n"
    val texts = (1 to 25).map { _ =>
      Array.fill(rng.nextInt(400) + 1)(alphabet(rng.nextInt(alphabet.length)))
        .mkString
    }
    def local(t: String): Double = {
      val n = t.length.toDouble
      -t.groupBy(identity).values
        .map(g => g.length / n * (math.log(g.length / n) / math.log(2.0)))
        .sum
    }
    val got = TextAnalysis.charEntropy(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val e = got(i.toLong)
      assert(math.abs(e - local(t)) < 1e-9, s"doc $i")
      // Shannon bound: entropy never exceeds log2(#distinct chars)
      assert(e >= 0.0 &&
        e <= math.log(t.distinct.length.toDouble) / math.log(2.0) + 1e-9)
    }
  }

  test("property: connectedComponents matches brute-force union-find") {
    val s = spark
    import s.implicits._
    (1 to 2).foreach { _ =>
      val edges = Seq.fill(15)(
        (rng.nextInt(18).toLong, rng.nextInt(18).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      // brute-force union-find with min-label roots
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val lo = math.min(ra, rb)
          parent(math.max(ra, rb)) = lo }
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      // both algorithms over the same graph
      Seq(graft.llm.Dedup.connectedComponents(edges.toDF("id_a", "id_b")),
          graft.llm.Dedup.connectedComponentsStar(edges.toDF("id_a", "id_b")))
        .foreach { labels =>
          val got =
            labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got == expected.filterKeys(got.contains).toMap)
          assert(got.keySet == expected.keySet)
        }
    }
  }

  test("property: sessionize matches a brute-force reference on random timelines") {
    val s = spark
    import s.implicits._
    (1 to 3).foreach { _ =>
      val events = (1L to 60L).map { id =>
        val user = rng.nextInt(4).toLong
        val t = 1704067200L + rng.nextInt(6 * 3600) // 6h span, second-aligned
        (id, user, new java.sql.Timestamp(t * 1000L))
      }
      val df = events.toDF("event_id", "user_id", "ts")
      val got = Events.sessionize(df, gapMinutes = 30)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      // brute force: per user, order by (ts, id), count gaps > 1800s
      val expected = events.groupBy(_._2).flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e._3.getTime, e._1))
        var idx = 0L
        var last = Long.MinValue
        sorted.map { case (id, _, ts) =>
          val sec = ts.getTime / 1000
          if (last == Long.MinValue || sec - last > 1800) idx += 1
          last = sec
          id -> idx
        }
      }.toMap
      assert(got == expected)
    }
  }

  test("property: word_ngrams gram arithmetic on random token sequences") {
    val s = spark
    import s.implicits._
    import graft.functions.WordNgrams
    val words = Vector("alpha", "beta", "Gamma42", "delta", "EPS", "zeta7")
    (1 to 3).foreach { _ =>
      val docs = Seq.fill(50) {
        val n = rng.nextInt(12)
        (0 until n).map(_ => words(rng.nextInt(words.length)))
          .mkString(Seq(" ", ", ", " -- ", "\t")(rng.nextInt(4)))
      }.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val n = 2 + rng.nextInt(3)
      docs.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          WordNgrams(col("text"), n, strictFallback = false).as("g"))
        .collect().foreach { r =>
          val toks = r.getString(1).toLowerCase
            .split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
          val grams = r.getSeq[String](2)
          if (toks.length >= n) {
            // sliding-window count, and every gram has exactly n tokens
            assert(grams.length == toks.length - n + 1)
            assert(grams.forall(_.split(' ').length == n))
            assert(grams == toks.sliding(n).map(_.mkString(" ")).toSeq)
          } else assert(grams == toks.toSeq)
        }
    }
  }

  test("property: minhash signature containment tracks Jaccard direction") {
    val s = spark
    import s.implicits._
    import graft.functions.MinhashSignature
    // signature of a SUPERSET is elementwise <= (more candidates for
    // each min); identical sets give identical signatures
    (1 to 3).foreach { _ =>
      val base = Seq.fill(20)(rng.alphanumeric.take(8).mkString).distinct
      val superset = base ++ Seq.fill(10)(rng.alphanumeric.take(8).mkString)
      val rows = Seq((1L, base), (2L, superset), (3L, rng.shuffle(base)))
        .toDF("id", "sh")
        .select(col("id"), MinhashSignature(col("sh"), 32, 7L).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      rows(1L).zip(rows(2L)).foreach { case (a, b) => assert(b <= a) }
      assert(rows(1L) == rows(3L)) // order-insensitive: same SET, same sig
    }
  }

  test("property: packBins is a per-group prefix sum — offsets bounded, " +
      "totals reconcile, assignment independent of row order") {
    val s = spark
    import s.implicits._
    (1 to 3).foreach { _ =>
      val rows = (1 to 60).map { i =>
        (i.toLong, s"src${rng.nextInt(3)}",
          Seq.fill(rng.nextInt(12))("w").mkString(" "))
      }
      val binTokens = rng.nextInt(20) + 5
      val out = TextAnalysis.packBins(rows.toDF("doc_id", "source", "text"),
        binTokens).collect()
      out.foreach { r =>
        val (before, bin, off) = (r.getAs[Long]("tokens_before"),
          r.getAs[Long]("bin_id"), r.getAs[Long]("bin_offset"))
        assert(off >= 0 && off < binTokens)
        assert(bin == before / binTokens && off == before % binTokens)
      }
      // per group: tokens_before of each doc == sum of earlier docs'
      // n_tokens (the prefix-sum contract, checked by brute force)
      out.groupBy(_.getAs[String]("source")).foreach { case (_, gs) =>
        val sorted = gs.sortBy(_.getAs[Long]("doc_id"))
        var acc = 0L
        sorted.foreach { r =>
          assert(r.getAs[Long]("tokens_before") == acc)
          acc += r.getAs[Int]("n_tokens")
        }
      }
      // physical row order must not matter
      val shuffled = TextAnalysis.packBins(
        rng.shuffle(rows).toDF("doc_id", "source", "text"), binTokens)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Long]("bin_id")).toMap
      out.foreach(r => assert(
        shuffled(r.getAs[Long]("doc_id")) == r.getAs[Long]("bin_id")))
    }
  }

  test("property: hashSplit covers every row exactly once and is subset-stable") {
    val s = spark
    import s.implicits._
    import graft.llm.Curate
    (1 to 3).foreach { _ =>
      val n = 200 + rng.nextInt(200)
      val ids = (1 to n).map(_ => rng.nextLong().abs).distinct
      val df = ids.toDF("doc_id")
      val weights = Seq("a" -> (rng.nextDouble() + 0.1),
        "b" -> (rng.nextDouble() + 0.1), "c" -> (rng.nextDouble() + 0.1))
      val out = Curate.hashSplit(df, weights)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out.size == ids.size) // exactly one label per row
      assert(out.values.toSet.subsetOf(Set("a", "b", "c")))
      // subset stability: removing rows never relabels the rest
      val half = ids.filter(_ % 2 == 0)
      Curate.hashSplit(half.toDF("doc_id"), weights)
        .collect().foreach(r => assert(out(r.getLong(0)) == r.getString(1)))
    }
  }

  test("property: funnel and retention agree with brute-force references " +
      "on random event streams") {
    val s = spark
    import s.implicits._
    (1 to 3).foreach { _ =>
      val types = Seq("click", "purchase", "signup", "view")
      val events = (1 to 300).map { i =>
        (i.toLong, types(rng.nextInt(types.size)),
          java.sql.Timestamp.valueOf(
            s"2024-01-0${rng.nextInt(9) + 1} 0${rng.nextInt(10)}:${rng.nextInt(6)}0:00"),
          rng.nextInt(20).toLong)
      }
      val df = events.toDF("event_id", "event_type", "ts", "user_id")

      // funnel vs brute force
      val got = Events.funnel(df).collect()
        .map(r => r.getLong(0) ->
          (Option(r.getTimestamp(1)), Option(r.getTimestamp(2)), r.getInt(3)))
        .toMap
      val byUser = events.groupBy(_._4)
      val expected = byUser.flatMap { case (u, evs) =>
        val clicks = evs.filter(_._2 == "click").map(_._3)
        if (clicks.isEmpty) None
        else {
          val t1 = clicks.minBy(_.getTime)
          val purch = evs.filter(e => e._2 == "purchase" &&
            !e._3.before(t1)).map(_._3)
          val t2 = if (purch.isEmpty) None else Some(purch.minBy(_.getTime))
          val conv = t2.exists(t => t.getTime - t1.getTime <= 3600000L)
          Some(u -> ((Some(t1), t2, if (conv) 1 else 0)))
        }
      }
      assert(got == expected)

      // retention vs brute force
      val gotRet = Events.retention(df).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
      def day(t: java.sql.Timestamp): String = fmt.format(t)
      val expRet = byUser.toSeq.flatMap { case (u, evs) =>
        val signups = evs.filter(_._2 == "signup").map(_._3)
        if (signups.isEmpty) Nil
        else {
          val c = signups.minBy(_.getTime)
          val cohortDay = day(c)
          val cd = java.time.LocalDate.parse(cohortDay)
          evs.map(e => java.time.LocalDate.parse(day(e._3)))
            .filter(!_.isBefore(cd))
            .map(d => (cohortDay,
              java.time.temporal.ChronoUnit.DAYS.between(cd, d).toInt, u))
        }
      }.distinct.groupBy(t => (t._1, t._2)).view.mapValues(_.size.toLong).toMap
      assert(gotRet == expRet)
    }
  }

  test("property: hyperplane signature is invariant to positive scaling only") {
    val s = spark
    import s.implicits._
    import graft.functions.HyperplaneSignature
    (1 to 3).foreach { _ =>
      val v = Seq.fill(32)(rng.nextGaussian())
      val lambda = rng.nextDouble() * 9 + 0.1
      val rows = Seq(
        (1L, v), (2L, v.map(_ * lambda)), (3L, v.map(-_)))
        .toDF("id", "e")
        .select(col("id"), HyperplaneSignature(col("e"), 4, 16, 42L).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(rows(1L) == rows(2L)) // cos(v, λv) = 1: keys identical
      // negation flips every sign bit: no table may collide (cos = -1)
      assert(rows(1L).intersect(rows(3L)).isEmpty)
    }
  }

  test("property: simhash is token-order invariant and edit-locality holds") {
    val s = spark
    import s.implicits._
    import graft.functions.SimhashSignature
    (1 to 3).foreach { _ =>
      val vocab = Seq.fill(40)(rng.alphanumeric.take(6).mkString)
      val toks = Seq.fill(120)(vocab(rng.nextInt(vocab.size)))
      val shuffled = rng.shuffle(toks)
      val edited = toks.updated(rng.nextInt(toks.size), "zzznovel")
      val fps = Seq((1L, toks), (2L, shuffled), (3L, edited))
        .toDF("id", "toks")
        .select(col("id"), SimhashSignature(col("toks")).as("fp"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the bit-counter fold sums over the multiset: order cannot matter
      assert(fps(1L) == fps(2L))
      // a one-token edit moves each counter by at most 2: Hamming stays
      // far from the 32-bit expectation of independent fingerprints
      val ham = java.lang.Long.bitCount(fps(1L) ^ fps(3L))
      assert(ham <= 16, s"hamming=$ham")
    }
  }

  test("property: pq ADC score equals the codebook-reconstruction dot") {
    val s = spark
    import s.implicits._
    import graft.functions.{PqAdcScore, PqEncode, PqLut}
    val m = 4; val k = 8; val subDim = 4
    (1 to 3).foreach { _ =>
      val flat = Array.fill(m * k * subDim)(rng.nextGaussian())
      val bcast = spark.sparkContext.broadcast(flat)
      val vec = Seq.fill(m * subDim)(rng.nextGaussian())
      val query = Seq.fill(m * subDim)(rng.nextGaussian())
      val row = Seq((vec, query)).toDF("v", "q")
        .select(
          PqEncode(col("v"), bcast, m, k, subDim).as("codes"),
          PqLut(col("q"), bcast, m, k, subDim).as("lut"))
        .withColumn("adc", PqAdcScore(col("lut"), col("codes"), k))
        .head()
      val codes = row.getSeq[Int](0)
      // reference: dot(query, reconstruction-from-codebook(v))
      val expected = (0 until m).map { j =>
        (0 until subDim).map { t =>
          query(j * subDim + t) * flat((j * k + codes(j)) * subDim + t)
        }.sum
      }.sum
      assert(math.abs(row.getDouble(2) - expected) < 1e-9)
      // and each code is the true argmin of subvector L2 distance
      (0 until m).foreach { j =>
        val dists = (0 until k).map { c =>
          (0 until subDim).map { t =>
            val d = vec(j * subDim + t) - flat((j * k + c) * subDim + t)
            d * d
          }.sum
        }
        assert(dists(codes(j)) == dists.min)
      }
    }
  }

  test("property: BottomK state is a pure function of the input SET — " +
      "random inputs, random splits, random merge trees all agree " +
      "with the brute-force min-k") {
    import graft.functions.{BkState, BottomK}
    def oneShot(k: Int, items: Seq[(Long, Double)]): BkState =
      items.foldLeft(new BottomK(k).zero)(
        (b, x) => new BottomK(k).reduce(b, x))
    (1 to 5).foreach { _ =>
      val k = 2 + rng.nextInt(20)
      val n = 1 + rng.nextInt(300)
      // duplicate-heavy hash domain forces the dedupe/tiebreak paths
      val items = Seq.fill(n)(
        (rng.nextInt(60).toLong, (rng.nextInt(9) + 1).toDouble))
      // brute force: per distinct hash keep the min payload, then the
      // k smallest hashes ascending
      val truth = items.groupBy(_._1).view
        .mapValues(_.map(_._2).min).toSeq.sortBy(_._1).take(k)
      val ref = oneShot(k, items)
      assert(ref.hashes.toSeq == truth.map(_._1), s"k=$k n=$n")
      assert(ref.values.toSeq == truth.map(_._2), s"k=$k n=$n")
      // random binary merge tree over random-sized chunks
      def mergeTree(chunks: Seq[BkState]): BkState = chunks match {
        case Seq(one) => one
        case _ =>
          val (l, r) = chunks.splitAt(1 + rng.nextInt(chunks.length - 1))
          new graft.functions.BottomKMerge(k)
            .merge(mergeTree(l), mergeTree(r))
      }
      val nChunks = 1 + rng.nextInt(8)
      val chunks = (0 until nChunks).map(i =>
        oneShot(k, items.zipWithIndex.collect {
          case (x, j) if j % nChunks == i => x
        }))
      val merged = mergeTree(chunks)
      assert(merged.hashes.toSeq == ref.hashes.toSeq, s"k=$k n=$n")
      assert(merged.values.toSeq == ref.values.toSeq, s"k=$k n=$n")
    }
  }

  test("property: wavDHash single-sample locality — editing one sample " +
      "moves at most 3 of the 64 bits for 33..64-frame clips (each frame " +
      "is read by <= 2 of the 65 positions, touching <= 3 adjacent " +
      "comparisons), and a byte-identical clone moves none (r18)") {
    // direct static-helper calls — no Spark session in the loop
    def le(v: Long, n: Int): Seq[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte)
    def wav(samples: Seq[Int], ch: Int): Array[Byte] = {
      val junk = 4
      val data = samples.flatMap(v => le(v & 0xffffL, 2))
      ("RIFF".getBytes("US-ASCII") ++
        le(4 + 24 + 8 + junk + 8 + data.size, 4) ++
        "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le(16, 4) ++ le(1, 2) ++ le(ch, 2) ++
        le(8000, 4) ++ le(8000L * ch * 2, 4) ++ le(ch * 2, 2) ++ le(16, 2) ++
        "LIST".getBytes("US-ASCII") ++ le(junk, 4) ++
        Array.fill(junk)(0.toByte) ++
        "data".getBytes("US-ASCII") ++ le(data.size, 4) ++ data).toArray
    }
    def bits(row: org.apache.spark.sql.catalyst.InternalRow): Seq[Int] =
      (0 until 8).map(y => row.getInt(4 + y))
    for (trial <- 1 to 40) {
      val nf = 33 + rng.nextInt(32) // 33..64: every frame read <= 2x
      val base = Array.fill(nf)(rng.nextInt(65536) - 32768)
      val aB = bits(graft.functions.WavDHash.parse(wav(base.toSeq, 1)))
      assert(bits(graft.functions.WavDHash.parse(wav(base.toSeq, 1))) == aB)
      val idx = rng.nextInt(nf)
      val edited = base.clone(); edited(idx) = rng.nextInt(65536) - 32768
      val bB = bits(graft.functions.WavDHash.parse(wav(edited.toSeq, 1)))
      val ham = (0 until 8).map(y => Integer.bitCount(aB(y) ^ bB(y))).sum
      assert(ham <= 3, s"trial $trial nf=$nf idx=$idx ham=$ham")
    }
  }
}
