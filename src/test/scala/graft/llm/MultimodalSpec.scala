package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("profile: one row per joined id, real stats, 64-dim embeddings") {
    val out = Multimodal.profile(docs, embs)
    assert(out.count() == 500)
    val r = out.filter(col("doc_id") === 0L).head()
    assert(r.getAs[Int]("emb_dim") == 64)
    assert(r.getAs[Double]("emb_norm") > 0.0)
    assert(r.getAs[Int]("ws_token_count") > 0)
  }

  test("binaryStats: md5 and byte length of a known payload") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "abc")).toDF("doc_id", "t")
      .select(col("doc_id"), col("t").cast("binary").as("payload"))
    val r = Multimodal.binaryStats(df, "payload").head()
    assert(r.getAs[Int]("byte_len") == 3)
    assert(r.getAs[String]("content_md5") ==
      "900150983cd24fb0d6963f7d28e17f72")
  }

  test("payloadMeta: PNG magic sniffed; unknown bytes fall back") {
    val s = spark
    import s.implicits._
    val png = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A)
    val raw = Array[Byte](1, 2, 3, 4, 5)
    val df = Seq((1L, png), (2L, raw)).toDF("id", "payload")
    val out = df.select(col("id"),
      Multimodal.payloadMeta(col("payload")).as("meta"))
      .orderBy("id").collect()
    assert(out(0).getStruct(1).getString(0) == "image/png")
    assert(out(1).getStruct(1).getString(0) == "application/octet-stream")
    assert(out(0).getStruct(1).getInt(1) == 6)
  }

  test("decodePartitions: iterator-shaped stub decoder, deterministic") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "t")
      .select(col("doc_id"), col("t").cast("binary").as("payload"))
    val a = Multimodal.decodePartitions(df, "payload")
      .orderBy("doc_id").collect().map(_.getSeq[Double](1))
    val b = Multimodal.decodePartitions(df, "payload")
      .orderBy("doc_id").collect().map(_.getSeq[Double](1))
    assert(a.toSeq.map(_.toSeq) == b.toSeq.map(_.toSeq))
    assert(a.forall(_.size == 8))
    assert(a(0) != a(1)) // different payloads decode differently
    assert(a.forall(_.forall(v => v >= -1.0 && v < 1.0)))
  }

  test("frameSample: n byte slices at even strides") {
    val s = spark
    import s.implicits._
    val payload = ("0123456789" * 10).getBytes("UTF-8") // 100 bytes
    val df = Seq((1L, payload)).toDF("doc_id", "payload")
    val frames = Multimodal.frameSample(df, "payload", n = 4, frameBytes = 16)
      .head().getSeq[Array[Byte]](2)
    assert(frames.size == 4)
    assert(frames.forall(_.length == 16))
    assert(new String(frames.head, "UTF-8") == "0123456789012345")
    assert(new String(frames(1), "UTF-8").startsWith("5678")) // offset 25
  }

  test("fakeDecodeFeatures: deterministic, right arity, bounded values") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "payload-bytes")).toDF("doc_id", "t")
      .select(col("doc_id"), col("t").cast("binary").as("payload"))
    val a = Multimodal.fakeDecodeFeatures(df, "payload", dim = 8)
      .head().getSeq[Double](2)
    val b = Multimodal.fakeDecodeFeatures(df, "payload", dim = 8)
      .head().getSeq[Double](2)
    assert(a == b)
    assert(a.size == 8)
    assert(a.forall(v => v >= -1.0 && v < 1.0))
    assert(a.distinct.size > 1) // not a constant vector
  }

  test("resizeRaster: identity is a no-op, 2x downscale picks every " +
      "other pixel, zero shuffles in the plan") {
    val s = spark
    import s.implicits._
    // 4x2 raster, row-major: rows "abcd" / "efgh"
    val df = Seq(("abcdefgh")).toDF("raster")
    val same = Multimodal.resizeRaster(df, "raster", w = 4, h = 2,
      newW = 4, newH = 2).head().getString(1)
    assert(same == "abcdefgh")
    // 2x1 output: (x,y)=(0,0)->src(0,0)='a', (1,0)->src(2,0)='c'
    val down = Multimodal.resizeRaster(df, "raster", w = 4, h = 2,
      newW = 2, newH = 1).head().getString(1)
    assert(down == "ac")
    // 2x upscale replicates neighbors: each source pixel appears twice
    val up = Multimodal.resizeRaster(df, "raster", w = 4, h = 2,
      newW = 8, newH = 2).head().getString(1)
    assert(up == "aabbccddeeffgghh")
    val plan = Multimodal.resizeRaster(df, "raster", 4, 2, 2, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(400))
    // short raster: padded to the declared geometry, never a silently
    // truncated / pixel-shifted output
    val short = Seq(("abcde")).toDF("raster") // 5 chars for a 4x2 grid
    val padded = Multimodal.resizeRaster(short, "raster", w = 4, h = 2,
      newW = 4, newH = 2, fill = "_").head().getString(1)
    assert(padded == "abcde___")
  }

  test("bmpChannelStats: real 24-bpp BMP decode — LE header fields, data " +
      "offset, 4-byte stride, bottom-up rows, BGR swap; non-BMP and " +
      "truncated rasters null, never wrong (r13)") {
    val s = spark
    import s.implicits._
    // hand-assemble a 2×2 24-bpp BMP. w=2 ⇒ row bytes 6, stride 8
    // (2 pad bytes per row). Image pixels (x,y), TOP-down logical:
    //   (0,0)=RGB(1,2,3)   (1,0)=RGB(4,5,6)
    //   (0,1)=RGB(7,8,9)   (1,1)=RGB(10,11,12)
    // File stores BOTTOM row first, channels as B,G,R.
    def le(v: Long, n: Int): Seq[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte)
    def bmp(rasterRows: Seq[Seq[Int]], w: Int, h: Int): Array[Byte] = {
      val stride = ((w * 3 + 3) / 4) * 4
      val header =
        Seq('B'.toByte, 'M'.toByte) ++ le(54 + stride * h, 4) ++
          le(0, 4) ++ le(54, 4) ++ // reserved, data offset
          le(40, 4) ++ le(w, 4) ++ le(h, 4) ++ le(1, 2) ++ le(24, 2) ++
          le(0, 4) ++ le(stride * h, 4) ++ le(0, 4) ++ le(0, 4) ++
          le(0, 4) ++ le(0, 4)
      (header ++ rasterRows.flatten.map(_.toByte)).toArray
    }
    // file rows bottom-up: image row 1 first; B,G,R per pixel; 2 pad
    val fileRows = Seq(
      Seq(9, 8, 7, 12, 11, 10, 0, 0), // image row y=1
      Seq(3, 2, 1, 6, 5, 4, 0, 0)) // image row y=0
    val good = bmp(fileRows, 2, 2)
    val df = Seq(
      (1L, good),
      (2L, "BM but not really a bitmap......................................"
        .getBytes("US-ASCII")),
      (3L, good.take(54 + 8 + 3))) // bottom row + 3 bytes: truncated
      .toDF("doc_id", "payload")
    // 1×1 thumbnail reads exactly image pixel (0,0) = RGB(1,2,3) —
    // proves the flip (it lives in the SECOND file row) and the BGR
    // swap in one read
    val one = Multimodal.bmpChannelStats(df.filter(col("doc_id") === 1),
      "payload", newW = 1, newH = 1).head()
    assert(one.getInt(1) == 1 && one.getInt(2) == 2 && one.getInt(3) == 2)
    assert(one.getDouble(4) == 1.0 && one.getDouble(7) == 2.0 &&
      one.getDouble(10) == 3.0)
    // 2×2 identity thumbnail aggregates every pixel — proves the
    // stride walk skips the pad bytes
    val idm = Multimodal.bmpChannelStats(df.filter(col("doc_id") === 1),
      "payload", newW = 2, newH = 2).head()
    assert(idm.getDouble(4) == 5.5 && idm.getInt(5) == 1 &&
      idm.getInt(6) == 10) // r: mean(1,4,7,10)
    assert(idm.getDouble(7) == 6.5 && idm.getDouble(10) == 7.5)
    // malformed header: is_bmp=0 all-null; truncated raster: header
    // geometry kept, stats all-null (no silent partial aggregate)
    val rows = Multimodal.bmpChannelStats(df, "payload")
      .orderBy("doc_id").collect()
    assert(rows(1).getInt(1) == 0 && rows(1).isNullAt(2) &&
      rows(1).isNullAt(4))
    assert(rows(2).getInt(1) == 1 && rows(2).getInt(2) == 2 &&
      rows(2).isNullAt(4) && rows(2).isNullAt(5) && rows(2).isNullAt(6))
    // zero shuffles: the decode is a scan-fused projection
    val plan = Multimodal.bmpChannelStats(df, "payload")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(400))
  }

  test("bmpChannelStats: a crafted 2³¹-dim header cannot overflow the " +
      "raster guard into the pixel loop (r14 advice)") {
    val s = spark
    import s.implicits._
    def le(v: Long, n: Int): Seq[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte)
    // w = h = Int.MaxValue passes the per-dimension checks; stride·h
    // ≈ 1.38e19 wraps Long negative, so a product-form guard would
    // admit the raster and the loop would index garbage. The
    // division-form guard must return header-true geometry, null stats.
    val dim = Int.MaxValue.toLong
    val evil = (Seq('B'.toByte, 'M'.toByte) ++ le(1024, 4) ++ le(0, 4) ++
      le(54, 4) ++ le(40, 4) ++ le(dim, 4) ++ le(dim, 4) ++ le(1, 2) ++
      le(24, 2) ++ le(0, 4) ++ le(0, 4) ++ le(0, 4) ++ le(0, 4) ++
      le(0, 4) ++ le(0, 4) ++ Seq.fill(970)(7.toByte)).toArray
    val r = Multimodal.bmpChannelStats(
      Seq((1L, evil)).toDF("doc_id", "payload"), "payload").head()
    assert(r.getInt(1) == 1 && r.getInt(2) == Int.MaxValue &&
      r.getInt(3) == Int.MaxValue)
    assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(7) && r.isNullAt(10))
  }

  test("wavSampleStats: real PCM chunk walk — LE fmt fields behind a " +
      "junk chunk, signed int16 samples, channel interleave; non-WAV " +
      "and truncated data null, never wrong (r13)") {
    val s = spark
    import s.implicits._
    def le(v: Long, n: Int): Seq[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte)
    // hand-assembled stereo PCM: 3 frames, samples incl. a NEGATIVE
    // one; a junk LIST chunk sits between fmt and data so the decode
    // must actually chunk-walk
    def wav(samples: Seq[Int], ch: Int, sr: Int, junk: Int): Array[Byte] = {
      val data = samples.flatMap(v => le(v & 0xffffL, 2))
      ("RIFF".getBytes("US-ASCII") ++ le(4 + 24 + 8 + junk + 8 + data.size, 4) ++
        "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le(16, 4) ++ le(1, 2) ++ le(ch, 2) ++
        le(sr, 4) ++ le(sr.toLong * ch * 2, 4) ++ le(ch * 2, 2) ++ le(16, 2) ++
        "LIST".getBytes("US-ASCII") ++ le(junk, 4) ++ Array.fill(junk)(0.toByte) ++
        "data".getBytes("US-ASCII") ++ le(data.size, 4) ++ data).toArray
    }
    // stereo frames: (100,-200) (300,400) (-500,600)
    val stereo = wav(Seq(100, -200, 300, 400, -500, 600), 2, 44100, 6)
    val mono = wav(Seq(7, 8, 9), 1, 8000, 2)
    val df = Seq(
      (1L, stereo), (2L, mono),
      (3L, "RIFFxxxxWAVEnot really".getBytes("US-ASCII")),
      (4L, stereo.take(stereo.length - 4))) // data chunk truncated
      .toDF("doc_id", "payload")
    // k=3 on 3 frames samples each frame exactly once
    val r1 = Multimodal.wavSampleStats(df.filter(col("doc_id") === 1),
      "payload", k = 3).head()
    assert(r1.getInt(1) == 1 && r1.getInt(2) == 2 &&
      r1.getInt(3) == 44100 && r1.getLong(4) == 3L)
    assert(r1.getDouble(5) == -33.333333 && r1.getInt(6) == -500 &&
      r1.getInt(7) == 300) // c1: mean(100,300,-500) rounded 6dp
    assert(r1.getDouble(8) == 266.666667 && r1.getInt(9) == -200 &&
      r1.getInt(10) == 600) // c2
    // mono: channel-2 stats null; different junk length still parses
    val r2 = Multimodal.wavSampleStats(df.filter(col("doc_id") === 2),
      "payload", k = 3).head()
    assert(r2.getInt(2) == 1 && r2.getDouble(5) == 8.0 &&
      r2.isNullAt(8) && r2.isNullAt(9))
    // short clip + larger k: frames repeat (nearest-neighbor), mean
    // still over k samples
    val r2b = Multimodal.wavSampleStats(df.filter(col("doc_id") === 2),
      "payload", k = 6).head()
    assert(r2b.getDouble(5) == (7 + 7 + 8 + 8 + 9 + 9) / 6.0)
    // non-WAV: is_wav=0 all null; truncated data: header kept, stats null
    val rows = Multimodal.wavSampleStats(df, "payload").orderBy("doc_id")
      .collect()
    assert(rows(2).getInt(1) == 0 && rows(2).isNullAt(2) && rows(2).isNullAt(5))
    assert(rows(3).getInt(1) == 1 && rows(3).getInt(2) == 2 &&
      rows(3).getLong(4) == 3L && rows(3).isNullAt(5))
    // zero shuffles: scan-fused projection
    val plan = Multimodal.wavSampleStats(df, "payload")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(400))
  }

  test("ppmChannelStats: real P6 parse — geometry from header bytes, " +
      "pixels from byte offsets; resize picks the right sources; " +
      "non-PPM and truncated payloads are null, never wrong (r12)") {
    val s = spark
    import s.implicits._
    def ppm(w: Int, h: Int, px: Seq[Int]): Array[Byte] =
      (s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++
        px.map(_.toByte)).toArray
    // 2×2 RGB, known channel bytes per pixel
    val px22 = Seq(10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val df = Seq(
      (1L, ppm(2, 2, px22)),
      (2L, "hello not a ppm".getBytes("US-ASCII")),
      (3L, ppm(2, 2, px22.take(5)))) // header lies: pixels truncated
      .toDF("doc_id", "payload")
    // 1×1 thumbnail reads exactly source pixel (0,0)
    val one = Multimodal.ppmChannelStats(df.filter(col("doc_id") === 1),
      "payload", newW = 1, newH = 1).head()
    assert(one.getInt(1) == 1 && one.getInt(2) == 2 && one.getInt(3) == 2)
    assert(one.getDouble(4) == 10.0 && one.getInt(5) == 10 &&
      one.getInt(6) == 10) // r
    assert(one.getDouble(7) == 20.0 && one.getDouble(10) == 30.0) // g, b
    // 2×2 identity thumbnail aggregates every pixel
    val idm = Multimodal.ppmChannelStats(df.filter(col("doc_id") === 1),
      "payload", newW = 2, newH = 2).head()
    assert(idm.getDouble(4) == 55.0 && idm.getInt(5) == 10 &&
      idm.getInt(6) == 100) // r: mean(10,40,70,100), min, max
    assert(idm.getDouble(7) == 65.0 && idm.getDouble(10) == 75.0)
    // multi-digit dims parse from the actual header, not field widths
    val wide = Seq((9L, ppm(12, 3, Seq.fill(12 * 3 * 3)(7))))
      .toDF("doc_id", "payload")
    val wr = Multimodal.ppmChannelStats(wide, "payload").head()
    assert(wr.getInt(2) == 12 && wr.getInt(3) == 3 &&
      wr.getDouble(4) == 7.0)
    // non-PPM: flagged 0, everything null; truncated: parsed but
    // all-null stats (no silent partial aggregate)
    val rows = Multimodal.ppmChannelStats(df, "payload")
      .orderBy("doc_id").collect()
    assert(rows(1).getInt(1) == 0 && rows(1).isNullAt(2) &&
      rows(1).isNullAt(4))
    assert(rows(2).getInt(1) == 1 && rows(2).getInt(2) == 2 &&
      rows(2).isNullAt(4) && rows(2).isNullAt(5) && rows(2).isNullAt(6))
    // crafted near-2³¹ dims: (srcY·w + …)·3 wraps Long negative for the
    // deep thumbnail rows — overflowed indices are missing samples
    // (all-null channels, header-true geometry), never an AIOOBE
    val big = 2147483646L
    val evil = Seq((8L,
      (s"P6\n$big $big\n255\n".getBytes("US-ASCII") ++
        Seq.fill(64)(7.toByte)).toArray)).toDF("doc_id", "payload")
    val er = Multimodal.ppmChannelStats(evil, "payload",
      newW = 1, newH = 4).head()
    assert(er.getInt(1) == 1 && er.getInt(2) == big.toInt &&
      er.getInt(3) == big.toInt)
    assert(er.isNullAt(4) && er.isNullAt(7) && er.isNullAt(10))
    // zero-area raster: header-true geometry, null stats — the bytes
    // after the header are payload junk, not pixels to aggregate
    val zero = Seq((9L,
      ("P6\n0 0\n255\n".getBytes("US-ASCII") ++
        Seq.fill(16)(5.toByte)).toArray)).toDF("doc_id", "payload")
    val zr = Multimodal.ppmChannelStats(zero, "payload").head()
    assert(zr.getInt(1) == 1 && zr.getInt(2) == 0 && zr.getInt(3) == 0)
    assert(zr.isNullAt(4) && zr.isNullAt(7) && zr.isNullAt(10))
  }

  test("bmpDHash: gradient rows read all-ones bytes, constants all " +
      "zeros; a one-pixel bump flips exactly one bit; clone pairs " +
      "verify at hamming 0 and survive banding") {
    val s = spark
    import s.implicits._
    def le(v: Long, n: Int): Seq[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte)
    def bmp(fileRows: Seq[Seq[Int]], w: Int, h: Int): Array[Byte] = {
      val stride = ((w * 3 + 3) / 4) * 4
      val header =
        Seq('B'.toByte, 'M'.toByte) ++ le(54 + stride * h, 4) ++
          le(0, 4) ++ le(54, 4) ++
          le(40, 4) ++ le(w, 4) ++ le(h, 4) ++ le(1, 2) ++ le(24, 2) ++
          le(0, 4) ++ le(stride * h, 4) ++ le(0, 4) ++ le(0, 4) ++
          le(0, 4) ++ le(0, 4)
      (header ++ fileRows.flatten.map(_.toByte)).toArray
    }
    // 9×8, pixel x = RGB(x,x,x): gray strictly increases along x —
    // every comparison bit set. stride 28 ⇒ one pad byte per row.
    val gradRow = (0 until 9).flatMap(x => Seq(x, x, x)) :+ 0
    val grad = bmp(Seq.fill(8)(gradRow), 9, 8)
    // same, but image row 0 (the LAST file row — bottom-up) gets a
    // bright pixel at x=4: bit 4 of d0 flips off, nothing else moves
    val bumpRow = (0 until 9).flatMap(x =>
      if (x == 4) Seq(200, 200, 200) else Seq(x, x, x)) :+ 0
    val bumped = bmp(Seq.fill(7)(gradRow) :+ bumpRow, 9, 8)
    val const = bmp(Seq.fill(8)((0 until 9).flatMap(_ =>
      Seq(7, 7, 7)) :+ 0), 9, 8)
    val df = Seq(
      (1L, grad), (2L, grad), (3L, bumped), (4L, const),
      (5L, "not a bitmap at all, just bytes......................"
        .getBytes("US-ASCII"))).toDF("doc_id", "payload")
    val hashes = Multimodal.bmpDHash(df, "payload")
    val h = hashes.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    (0 until 8).foreach { y =>
      assert(h(1L).getAs[Int](s"d$y") == 255, s"grad d$y")
      assert(h(4L).getAs[Int](s"d$y") == 0, s"const d$y")
    }
    assert(h(3L).getAs[Int]("d0") == 255 - 16) // bit 4 cleared
    (1 until 8).foreach(y => assert(h(3L).getAs[Int](s"d$y") == 255))
    assert(h(5L).getAs[Int]("is_bmp") == 0 && h(5L).isNullAt(4))
    val pairs = Multimodal.dHashPairs(hashes, maxHamming = 6)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Int]("hamming")).toMap
    // star-first: the clone (2) stars to its keeper (1) at hamming 0;
    // cross-clique nearness is keeper-to-keeper only (2-3 is reached
    // transitively through the star edge, never materialized)
    assert(pairs == Map((1L, 2L) -> 0, (1L, 3L) -> 1))
  }

  test("dHash clusters: star + near edges merge into one component " +
      "with the min id as label; isolated images emit no row") {
    val s = spark
    import s.implicits._
    def le(v: Long, n: Int): Seq[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte)
    def bmp(fileRows: Seq[Seq[Int]], w: Int, h: Int): Array[Byte] = {
      val stride = ((w * 3 + 3) / 4) * 4
      val header =
        Seq('B'.toByte, 'M'.toByte) ++ le(54 + stride * h, 4) ++
          le(0, 4) ++ le(54, 4) ++
          le(40, 4) ++ le(w, 4) ++ le(h, 4) ++ le(1, 2) ++ le(24, 2) ++
          le(0, 4) ++ le(stride * h, 4) ++ le(0, 4) ++ le(0, 4) ++
          le(0, 4) ++ le(0, 4)
      (header ++ fileRows.flatten.map(_.toByte)).toArray
    }
    val gradRow = (0 until 9).flatMap(x => Seq(x, x, x)) :+ 0
    val grad = bmp(Seq.fill(8)(gradRow), 9, 8)
    val bumpRow = (0 until 9).flatMap(x =>
      if (x == 4) Seq(200, 200, 200) else Seq(x, x, x)) :+ 0
    val bumped = bmp(Seq.fill(7)(gradRow) :+ bumpRow, 9, 8)
    val const = bmp(Seq.fill(8)((0 until 9).flatMap(_ =>
      Seq(7, 7, 7)) :+ 0), 9, 8)
    val df = Seq((1L, grad), (2L, grad), (3L, bumped), (4L, const))
      .toDF("doc_id", "payload")
    val comps = graft.llm.Dedup.connectedComponents(
        Multimodal.dHashPairs(Multimodal.bmpDHash(df, "payload"),
          maxHamming = 6))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // 4 isolated
  }

  test("dHashIncremental: history clones drop cross, within-batch " +
      "near pairs drop their larger id, novel and non-BMP rows " +
      "survive; bucketed history join verifies from carried hashes") {
    val s = spark
    import s.implicits._
    def le(v: Long, n: Int): Seq[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte)
    def bmp(fileRows: Seq[Seq[Int]], w: Int, h: Int): Array[Byte] = {
      val stride = ((w * 3 + 3) / 4) * 4
      val header =
        Seq('B'.toByte, 'M'.toByte) ++ le(54 + stride * h, 4) ++
          le(0, 4) ++ le(54, 4) ++
          le(40, 4) ++ le(w, 4) ++ le(h, 4) ++ le(1, 2) ++ le(24, 2) ++
          le(0, 4) ++ le(stride * h, 4) ++ le(0, 4) ++ le(0, 4) ++
          le(0, 4) ++ le(0, 4)
      (header ++ fileRows.flatten.map(_.toByte)).toArray
    }
    val gradRow = (0 until 9).flatMap(x => Seq(x, x, x)) :+ 0
    val grad = bmp(Seq.fill(8)(gradRow), 9, 8)
    // one flipped bit vs grad (the pairs-test construction)
    val bumpRow = (0 until 9).flatMap(x =>
      if (x == 4) Seq(200, 200, 200) else Seq(x, x, x)) :+ 0
    val bumped = bmp(Seq.fill(7)(gradRow) :+ bumpRow, 9, 8)
    val const = bmp(Seq.fill(8)((0 until 9).flatMap(_ =>
      Seq(7, 7, 7)) :+ 0), 9, 8)
    val nonBmp = "not a bitmap, just bytes.........................."
      .getBytes("US-ASCII")
    // random gray levels: random dHash bits, far from every other image
    val rng = new scala.util.Random(11)
    def noise() = bmp(Seq.fill(8)((0 until 9).flatMap { _ =>
      val v = rng.nextInt(256); Seq(v, v, v) } :+ 0), 9, 8)
    val hist = Multimodal.bmpDHash(
      Seq((1L, grad)).toDF("doc_id", "payload"), "payload")
    graft.sources.Sources.writeBucketed(
      Multimodal.dHashBandKeys(hist), "graft_test_ph_hist", "bk",
      numBuckets = 4)
    def survivors(batch: Seq[(Long, Array[Byte])]): Set[Long] =
      Multimodal.dHashIncremental(
          Multimodal.bmpDHash(batch.toDF("doc_id", "payload"), "payload"),
          spark.table("graft_test_ph_hist"), maxHamming = 2)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    try {
      assert(survivors(Seq(
        10L -> grad,    // clone of history 1 — cross loser at hamming 0
        11L -> bumped,  // hamming 1 from history 1 — cross loser
        12L -> const,   // novel — survives
        13L -> const,   // clone of 12 WITHIN the batch — within loser
        14L -> nonBmp)) // non-BMP: no signature, survives
        == Set(12L, 14L))
      // degenerate batches: empty → empty; no candidate pair → every
      // row kept; copy groups listed out of id order → the smallest id
      // of each; the non-BMP row survives each
      assert(survivors(Nil).isEmpty)
      assert(survivors((20L to 24L).map(_ -> noise()) :+ (25L -> nonBmp))
        == (20L to 25L).toSet)
      val (a, b) = (noise(), noise())
      assert(survivors(Seq(32L -> a, 30L -> a, 41L -> b, 31L -> a,
        40L -> b, 50L -> nonBmp)) == Set(30L, 40L, 50L))
    } finally spark.sql("DROP TABLE IF EXISTS graft_test_ph_hist")
  }

  test("wavDHash: monotone clips saturate/zero the bits, a one-sample " +
      "dip flips exactly one bit, stereo mixes down by channel SUM; " +
      "clones star at hamming 0 through the image banding machinery " +
      "unchanged; non-WAV and truncated are null, never wrong (r18)") {
    val s = spark
    import s.implicits._
    def le(v: Long, n: Int): Seq[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte)
    def wav(samples: Seq[Int], ch: Int, sr: Int, junk: Int): Array[Byte] = {
      val data = samples.flatMap(v => le(v & 0xffffL, 2))
      ("RIFF".getBytes("US-ASCII") ++ le(4 + 24 + 8 + junk + 8 + data.size, 4) ++
        "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le(16, 4) ++ le(1, 2) ++ le(ch, 2) ++
        le(sr, 4) ++ le(sr.toLong * ch * 2, 4) ++ le(ch * 2, 2) ++ le(16, 2) ++
        "LIST".getBytes("US-ASCII") ++ le(junk, 4) ++ Array.fill(junk)(0.toByte) ++
        "data".getBytes("US-ASCII") ++ le(data.size, 4) ++ data).toArray
    }
    // 65 frames ⇒ sample position i reads frame i exactly
    val up = wav((0 until 65).map(_ * 10), 1, 8000, 2)
    val const = wav(Seq.fill(65)(42), 1, 8000, 4)
    // one dip at frame 32 (below frame 31's value): comparison j=31
    // (v31 < v32) flips off — bit 7 of d3 — and j=32 (v32 < v33)
    // stays on; everything else is untouched
    val dipped = wav((0 until 65).map(i =>
      if (i == 32) 5 else i * 10), 1, 8000, 2)
    // stereo whose MIXDOWN strictly decreases while channel 1 strictly
    // increases — all-zero bits proves the hash sums channels (a
    // c1-only read would saturate to 255)
    val downMix = wav((0 until 65).flatMap(i => Seq(i, -3 * i)), 2, 44100, 6)
    val df = Seq(
      (1L, up), (2L, up), (3L, dipped), (4L, const), (5L, downMix),
      (6L, "RIFFxxxxWAVEnot audio at all".getBytes("US-ASCII")),
      (7L, up.take(up.length - 8))) // data chunk truncated
      .toDF("doc_id", "payload")
    val hashes = Multimodal.wavDHash(df, "payload")
    val h = hashes.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    (0 until 8).foreach { y =>
      assert(h(1L).getAs[Int](s"d$y") == 255, s"up d$y")
      assert(h(4L).getAs[Int](s"d$y") == 0, s"const d$y")
      assert(h(5L).getAs[Int](s"d$y") == 0, s"downMix d$y")
    }
    assert(h(3L).getAs[Int]("d3") == 255 - 128) // bit 7 cleared
    (0 until 8).filter(_ != 3).foreach(y =>
      assert(h(3L).getAs[Int](s"d$y") == 255))
    assert(h(1L).getAs[Int]("channels") == 1 &&
      h(1L).getAs[Long]("n_frames") == 65L &&
      h(5L).getAs[Int]("channels") == 2)
    assert(h(6L).getAs[Int]("is_wav") == 0 && h(6L).isNullAt(5))
    // truncated: header-true geometry, null hash bytes
    assert(h(7L).getAs[Int]("is_wav") == 1 &&
      h(7L).getAs[Int]("channels") == 1 && h(7L).isNullAt(5))
    // the IMAGE pairing machinery runs on the audio frame unchanged:
    // the clone (2) stars to its keeper (1) at hamming 0, the dip is
    // keeper-near at hamming 1, and the const/downMix clips (4, 5) —
    // identical all-zero hashes despite different geometry — star
    // together (signature identity is the star criterion, as on the
    // image side); null-hash rows never enter
    val pairs = Multimodal.dHashPairs(hashes, maxHamming = 2)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(pairs == Map((1L, 2L) -> 0, (1L, 3L) -> 1, (4L, 5L) -> 0))
    // zero shuffles: scan-fused projection
    val plan = hashes.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(400))
  }
}
