package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.features._
import graft.llm._
import graft.operators.{Events, Profile, RangeJoin, Relational, Sketches, Skew}
import graft.sources.Sources
import graft.streaming.StreamOps
import org.json4s.{JInt, JObject}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (and the §7 LLM-pipeline extensions)
  * registers a named query here; SQL-expressible ones also register a
  * DuckDB oracle in [[oracleSql]] with IDENTICAL column names/aliases.
  *
  * Output-shape rule (round-2 fix): registered queries emit ONLY scalar
  * columns — the driver's pandas diff cannot sort/hash array columns, so
  * every ML `Vector` output is projected element-wise to `col_0..col_n`
  * via [[vecToScalars]]. Float-derived columns that an oracle recomputes
  * (z-scores, cosines, aggregated sums) are rounded to 6 decimals on BOTH
  * sides so cross-engine ulp noise cannot break the hash compare.
  *
  * Queries with no `oracleSql` entry (iterative ML fits: KMeans/PCA/LR/CV
  * and the LSH sketch paths) are adjudicated by ScalaTest invariants
  * instead — see README.md for the per-query verification map.
  */
object SparkEntry {

  private[graft] def lineitem(spark: SparkSession, dir: String): DataFrame =
    Sources.parquetTable(spark, dir, "lineitem")
  private[graft] def customer(spark: SparkSession, dir: String): DataFrame =
    Sources.parquetTable(spark, dir, "customer")
  private[graft] def documents(spark: SparkSession, dir: String): DataFrame =
    Sources.parquetTable(spark, dir, "documents")
  private[graft] def embeddings(spark: SparkSession, dir: String): DataFrame =
    Sources.parquetTable(spark, dir, "embeddings")
  private[graft] def events(spark: SparkSession, dir: String): DataFrame =
    Sources.eventsTable(spark, dir)

  /** Spread a freshly-scanned narrow frame across the session's full
    * parallelism BEFORE expensive per-row compute (optimization guide
    * §2.5 "input skew — one huge unsplittable file": the testdata
    * parquet files are single-row-group, so a scan yields 1-2 tasks no
    * matter the split config, and tokenize/shingle/fingerprint/fixture
    * work measured 0.5-3.4 s on ONE of 32 cores in the r18 profiles).
    * Scale-adaptive, not a local-tuned constant: when the scan already
    * yields >= defaultParallelism partitions — the 100 TB case, where
    * the corpus arrives as many files/row groups — this is a no-op, so
    * no corpus-wide shuffle is ever added at scale. The repartition key
    * is the row id (deterministic hash — rand-keyed repartition can
    * duplicate/lose rows under task retry, SPARK-38388; guide §2.5).
    * Applied at the REGISTRATION layer only: operator internals keep
    * their PlanAuditSpec-pinned shapes, and the Exchange this adds
    * carries the narrow scan projection, never a derived wide row. */
  private[graft] def spreadScan(df: DataFrame, key: String = "doc_id")
      : DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p, col(key))
  }

  /** [[documents]] spread to full parallelism — used by the
    * registrations whose first stage is expensive per-row compute
    * (tokenize / shingle / minhash / fixture assembly). Cheap
    * aggregate-only rows keep the plain scan: the extra Exchange costs
    * more than their single-task scan stage. */
  private[graft] def documentsSpread(s: SparkSession, dir: String): DataFrame =
    spreadScan(documents(s, dir))

  /** One (term) row per token of the corpus — the repo-standard
    * tokenization (lowercase, split on non-alphanumeric, drop
    * empties; the text_tfidf_exact recipe) shared by the Count-Min
    * rows and their oracles. */
  private[graft] def tokenTerms(docs: DataFrame): DataFrame =
    docs.select(explode(
      filter(split(lower(col("text")), "[^\\p{L}\\p{N}]+"),
        w => length(w) > 0)).as("term"))

  /** documents plus three in-flight planted PII rows (the corpus has
    * none naturally — same planting trick as llm_decontaminate). The
    * appended sentence and id offset are mirrored literally in the
    * text_pii / text_redact oracles. */
  private[graft] def piiFixture(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base.unionByName(base.filter(col("doc_id") < 3).select(
      (col("doc_id") + lit(2000000L)).as("doc_id"),
      concat(col("text"), lit(" mail alice.smith@example.com call " +
        "+49-151-1234-5678 host 192.168.10.42 ssn 123-45-6789"))
        .as("text")))
  }

  /** documents with a synthetic media `payload` column carrying REAL
    * container-format headers — PNG / JPEG / WAV by `doc_id % 4` (a
    * fourth of the corpus stays raw text = the unknown-format branch) —
    * built byte-for-byte from hex literals, with planted dimensions /
    * channel counts derived arithmetically from (doc_id, n_chars).
    * The decode query must recover the planted values by actually
    * parsing the bytes (big-endian IHDR ints, a JPEG marker scan whose
    * APP0 length VARIES with doc_id so SOF sits at a doc-dependent
    * offset — a fixed-offset cheat cannot pass — and a little-endian
    * RIFF chunk walk), while the DuckDB oracle recomputes the same
    * values from the source columns: two independent paths to one
    * answer. */
  private[graft] def mediaFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val kind = pmod(id, lit(4L))
    val w = (pmod(id, lit(797L)) + 1).cast("int")
    val h = (pmod(col("n_chars"), lit(613L)) + 1).cast("int")
    val textBin = col("text").cast("binary")
    // PNG: magic, IHDR length 13, "IHDR", w, h, bit depth 8, color type
    // from {0,2,3,4,6} by doc_id % 5, compression/filter/interlace 0,
    // dummy CRC (the decoder reads structure, not integrity)
    val m5 = pmod(id, lit(5L))
    val colorTypeHex = when(m5 === 0, "00").when(m5 === 1, "02")
      .when(m5 === 2, "03").when(m5 === 3, "04").otherwise("06")
    val png = concat(unhex(concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
      lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
      lit("08"), colorTypeHex, lit("000000" + "00000000"))), textBin)
    // JPEG: SOI, APP0 whose segment length varies with the doc, SOF0
    // (precision 8, h, w, 1 or 3 components), SOS marker, text as scan
    val nc = when(pmod(id, lit(8L)) === 1, lit(1)).otherwise(lit(3))
    val appLen = (pmod(id, lit(9L)) + 4).cast("int") // incl. 2 len bytes
    val zeros = lit("0" * 24).substr(lit(1), (appLen - 2) * 2)
    val jpeg = concat(unhex(concat(
      lit("FFD8" + "FFE0"), lpad(hex(appLen), 4, "0"), zeros,
      lit("FFC0"), lpad(hex(lit(8) + nc * 3), 4, "0"),
      lit("08"), lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"),
      lpad(hex(nc), 2, "0"),
      when(nc === 1, "011100").otherwise("011100021100031100"),
      lit("FFDA"))), textBin)
    // WAV: RIFF/WAVE, PCM fmt chunk (planted channels, 16-bit), data
    val wch = when(pmod(id, lit(16L)) === 2, lit(1)).otherwise(lit(2))
    val wav = concat(unhex(concat(
      lit("52494646" + "00000000" + "57415645" + "666D7420" +
        "10000000" + "0100"),
      lpad(hex(wch), 2, "0"), lit("00"),
      lit("44AC0000" + "10B10200" + "0400" + "1000" +
        "64617461" + "00000000"))), textBin)
    docs.select(id, col("n_chars"),
      when(kind === 0, png).when(kind === 1, jpeg).when(kind === 2, wav)
        .otherwise(textBin).as("payload"))
  }

  /** Planted binary-PPM (P6) fixture over documents (round 12): a real
    * canonical PPM header (`P6\n<w> <h>\n255\n`, geometry derived from
    * (doc_id, n_chars)) followed by raw interleaved RGB bytes — the
    * doc's ASCII-pinned text padded with 'x' to w·h·3. The payload is
    * a VALID P6 image; [[graft.llm.Multimodal.ppmChannelStats]] must
    * recover the geometry from the actual header bytes and the pixels
    * from the actual byte offsets for its oracle row to hash. */
  private[graft] def ppmFixture(docs: DataFrame): DataFrame = {
    val w = (pmod(col("doc_id"), lit(7L)) + 2).cast("int")  // 2..8
    val h = (pmod(col("n_chars"), lit(5L)) + 2).cast("int") // 2..6
    val n = (w * h * lit(3)).cast("int")
    // rpad to the 8·6·3 geometry maximum then cut to n reads the same
    // bytes as rpad(substr(text,1,n), n) for every text length
    val px = rpad(col("text"), 8 * 6 * 3, "x").substr(lit(1), n)
    val header = concat(lit("P6\n"), w.cast("string"), lit(" "),
      h.cast("string"), lit("\n255\n"))
    docs.select(col("doc_id"),
      concat(header, px).cast("binary").as("payload"))
  }

  /** Planted uncompressed-BMP fixture over documents (round 13, the
    * second real-pixel codec): a byte-correct `BM` file — 14-byte file
    * header with little-endian size/offset fields, 40-byte
    * BITMAPINFOHEADER (24 bpp, BI_RGB), pixel rows written BOTTOM-UP
    * with 4-byte stride padding — whose raster bytes are the doc's
    * ASCII-pinned text padded with 'x', laid into file rows in file
    * order. Geometry derives from (n_chars, doc_id) — deliberately the
    * PPM fixture's sources swapped — and spans widths whose 3w is not
    * a multiple of 4, so the stride padding is nonzero for most rows;
    * [[graft.llm.Multimodal.bmpChannelStats]] must honor the LE header
    * fields, the data offset, the stride, the vertical flip and the
    * BGR interleave for its oracle row to hash. */
  /** Little-endian hex of an int column, `nBytes` wide — the header
    * field builder shared by the BMP and WAV fixtures. */
  private[graft] def leHex(c: Column, nBytes: Int): Column = {
    val be = lpad(hex(c.cast("long")), nBytes * 2, "0")
    concat((0 until nBytes).reverse.map(i => be.substr(i * 2 + 1, 2)): _*)
  }

  /** [[bmpFixture]] plus payload-identical clones at +3M for every
    * 29th doc (the decontaminate planting recipe) — shared by the
    * phash pairs and clusters rows, whose oracles restate the same
    * union. */
  private[graft] def phashFixture(docs: DataFrame): DataFrame = {
    val base = bmpFixture(docs)
    base.unionByName(
      base.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + lit(3000000L)).as("doc_id"),
          col("payload")))
  }

  private[graft] def bmpFixture(docs: DataFrame): DataFrame = {
    // r18 optimization: (w, h, padded) are STAGED as their own Project
    // instead of inlined at every use site — the single-Project form
    // repeated the pmod/rpad chains ~50× and its fused
    // fixture+bmp_dhash span generated a processNext() past the JVM's
    // 64 KB method limit: Janino failed (~0.4 s per attempt, on EVERY
    // execution — compile failures are not cached) and the stage ran
    // interpreted. CollapseProject keeps non-cheap multi-referenced
    // aliases staged, so the fused span now evaluates each shared term
    // once into a local and compiles. Same expressions, same bytes.
    val staged = docs.select(col("doc_id"),
      (pmod(col("n_chars"), lit(7L)) + 2).cast("int").as("w"), // 2..8
      (pmod(col("doc_id"), lit(5L)) + 2).cast("int").as("h"),  // 2..6
      rpad(col("text"), 8 * 6 * 3, "x").as("padded"))
    val w = col("w")
    val h = col("h")
    val pad = pmod(lit(4) - pmod(w * lit(3), lit(4)), lit(4))
    val stride = w * lit(3) + pad
    def le(c: Column, nBytes: Int): Column = leHex(c, nBytes)
    val padded = col("padded")
    val padHex = lit("000000").substr(lit(1), pad * lit(2))
    // file row r carries text bytes [r·3w, (r+1)·3w) + stride padding
    val raster = concat((0 until 6).map { r =>
      when(lit(r) < h,
        concat(hex(padded.substr(lit(r) * w * lit(3) + lit(1), w * lit(3))
          .cast("binary")), padHex))
        .otherwise(lit(""))
    }: _*)
    val header = concat(
      lit("424D"), le(stride * h + lit(54), 4), lit("00000000"),
      lit("36000000"), // pixel data at byte 54
      lit("28000000"), le(w, 4), le(h, 4), lit("0100"), lit("1800"),
      lit("00000000"), le(stride * h, 4),
      lit("00000000" * 4)) // ppm×2, clrUsed, clrImportant
    staged.select(col("doc_id"), unhex(concat(header, raster)).as("payload"))
  }

  /** Planted 16-bit PCM WAV fixture over documents (round 13, the
    * third real-decode codec — audio): a byte-correct RIFF/WAVE file
    * with an LE `fmt ` chunk (PCM, planted channels / sample rate), a
    * VARIABLE-LENGTH junk `LIST` chunk between fmt and data (so the
    * data chunk sits at a doc-dependent offset — a fixed-offset cheat
    * cannot pass; the mediaFixture JPEG APP0 trick, chunk-walk
    * flavor), and a `data` chunk whose samples are the doc's
    * ASCII-pinned text padded with 'x', interleaved LE int16 by
    * channel. [[graft.llm.Multimodal.wavSampleStats]] must chunk-walk
    * the ACTUAL bytes for geometry and sample values for its oracle
    * row to hash. */
  private[graft] def wavFixture(docs: DataFrame): DataFrame = {
    // planted fields staged as their own Project (the bmpFixture
    // codegen-size treatment): the RIFF assembly references each one
    // several times, and inlining the pmod chains at every site blew
    // the fused span past the 64 KB codegen method limit
    val staged = docs.select(col("doc_id"), col("text"),
      (pmod(col("doc_id"), lit(2L)) + 1).cast("int").as("ch"),    // 1..2
      (pmod(col("n_chars"), lit(9L)) + 4).cast("int").as("nf"),   // 4..12
      (pmod(col("doc_id"), lit(1000L)) + 8000).cast("int").as("sr"),
      (pmod(col("doc_id"), lit(5L)) * 2 + 2).cast("int").as("junk")) // 2..10
    staged.select(col("doc_id"),
      unhex(wavPayloadHex(col("ch"), col("nf"), col("sr"), col("junk"),
        padLen = 12 * 2 * 2)).as("payload"))
  }

  /** The byte-correct RIFF/WAVE hex assembly shared by [[wavFixture]]
    * and [[audioFixture]] (r18 review: it had been copied with three
    * constants changed — a fix to the shared layout must apply to both
    * or the stale copy's oracle breaks): PCM `fmt ` chunk from the
    * planted (ch, sr), a variable-length `LIST` junk chunk (so the
    * data offset is doc-dependent and a fixed-offset cheat cannot
    * pass), and a `data` chunk whose samples are the doc's text padded
    * with 'x' to `padLen` then cut to nf·ch·2 bytes, interleaved LE
    * int16 by channel. Callers must keep nf·ch·2 ≤ padLen and
    * junk ≤ 14. */
  private[graft] def wavPayloadHex(ch: Column, nf: Column, sr: Column,
      junk: Column, padLen: Int): Column = {
    val dataBytes = nf * ch * lit(2)
    val padded = rpad(col("text"), padLen, "x")
    concat(
      lit("52494646"), // RIFF
      leHex(lit(4 + 24) + lit(8) + junk + lit(8) + dataBytes, 4),
      lit("57415645"), // WAVE
      lit("666D7420"), leHex(lit(16), 4), // fmt , size 16
      leHex(lit(1), 2), leHex(ch, 2), leHex(sr, 4),
      leHex(sr * ch * lit(2), 4), leHex(ch * lit(2), 2), leHex(lit(16), 2),
      lit("4C495354"), leHex(junk, 4), // LIST junk chunk
      lit("00" * 14).substr(lit(1), junk * lit(2)),
      lit("64617461"), leHex(dataBytes, 4), // data
      hex(padded.substr(lit(1), dataBytes).cast("binary")))
  }

  /** The audio-FINGERPRINT fixture (round 18): [[wavFixture]]'s
    * byte-correct RIFF assembly with LONGER clips — 32..64 frames (the
    * stats fixture's 4..12 frames leave a 65-position dHash nearly
    * constant; at 32..64 the signature carries ~32 comparison bits, the
    * image row's bit density) and a wider junk-chunk range so the data
    * offset still varies per doc. Samples are the doc's ASCII-pinned
    * text padded with 'x' to 256 bytes, interleaved LE int16 by
    * channel — near-dup TEXTS become near-dup CLIPS, so the corpus's
    * planted text replicas surface as natural audio near-dups. */
  private[graft] def audioFixture(docs: DataFrame): DataFrame = {
    // staged like [[wavFixture]] — same codegen-size rationale
    val staged = docs.select(col("doc_id"), col("text"),
      (pmod(col("doc_id"), lit(2L)) + 1).cast("int").as("ch"),     // 1..2
      (pmod(col("n_chars"), lit(33L)) + 32).cast("int").as("nf"),  // 32..64
      (pmod(col("doc_id"), lit(1000L)) + 8000).cast("int").as("sr"),
      (pmod(col("doc_id"), lit(7L)) * 2 + 2).cast("int").as("junk")) // 2..14
    staged.select(col("doc_id"),
      unhex(wavPayloadHex(col("ch"), col("nf"), col("sr"), col("junk"),
        padLen = 64 * 2 * 2)).as("payload"))
  }

  /** [[audioFixture]] plus two plants — payload-identical clones at
    * +3M for every 29th doc (the [[phashFixture]] recipe: the
    * hamming-0 star channel), and NEAR-VARIANTS at +6M for every 41st
    * doc: the same clip re-rendered from a text whose 10th character
    * is substituted ('Q', length-preserving, always inside the sampled
    * data region), so exactly one int16 sample byte moves and the
    * fingerprint differs by ≤ 3 bits — the hamming-1..4 NEAR channel
    * of the pairs row is driver-gated, not spec-only (a text
    * insertion would shift every later sample and land far). +6M
    * preserves doc_id mod 2 / mod 1000 (the variant's planted
    * channels/sample_rate equal the original's), and the 3M gap
    * between the two plant offsets keeps them collision-free for any
    * natural id < 3M — the SAME tolerance the +3M convention already
    * imposes on every planted fixture (a +4M offset would have
    * silently tightened it to 1M; r18 review finding). Shared by the
    * audio pairs and incremental rows, whose oracles restate the same
    * union. */
  private[graft] def audioCloneFixture(docs: DataFrame): DataFrame = {
    val base = audioFixture(docs)
    val varDocs = docs.filter(col("doc_id") % 41 === 0)
      .select((col("doc_id") + lit(6000000L)).as("doc_id"),
        col("n_chars"),
        concat(substring(col("text"), 1, 9), lit("Q"),
          expr("substring(text, 11)")).as("text"))
    base.unionByName(
      base.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + lit(3000000L)).as("doc_id"),
          col("payload")))
      .unionByName(audioFixture(varDocs))
  }

  /** customer with `(features, label)` — the ML-pipeline input frame
    * (label = c_mktsegment indexed, features = numeric customer cols). */
  private[graft] def customerFeatures(s: SparkSession, dir: String): DataFrame =
    PrepareFeatures(customer(s, dir),
      Seq("c_acctbal", "c_nationkey", "c_custkey"), "c_mktsegment")

  /** [[customerFeatures]] + a deterministic 3-fold assignment
    * (fold = custkey mod 3, custkey read back out of the assembled
    * vector — the evaluator_accuracy recipe). The CV fit trains on
    * exactly this frame via foldCol; validation_curves_folds pins the
    * assignment against the oracle. */
  private[graft] def foldedCustomerFeatures(s: SparkSession, dir: String): DataFrame = {
    val custkey = org.apache.spark.ml.functions
      .vector_to_array(col("features")).getItem(2).cast("long")
    ValidationCurves.foldAssignments(customerFeatures(s, dir), custkey, 3)
  }

  /** Best-effort recursive delete of a [[Scratch]] dir or table location. */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** What a registry run writes and reads back, owned in one place: a
    * temp dir (created on first use), uniquely named tables with their
    * warehouse locations, and eagerly checkpointed frames. [[release]]
    * drops the tables (deletes their locations instead once the owning
    * session is stopped), deletes the dir and unpersists the frames.
    *
    * Lifecycle contract. A row that writes and reads back runs in
    * [[scratch]]: its result is materialized once with
    * `localCheckpoint(true)` BEFORE the scope is released, so the
    * returned frame never references a dropped table or a deleted dir
    * lazily. A steady-state artifact (an index or table pair built once
    * and probed by many queries) is built in [[steady]]'s scope, which
    * lives as long as the application that built it. */
  private[graft] final class Scratch(val session: SparkSession) {
    private var tmp: Option[java.io.File] = None
    private val tables =
      scala.collection.mutable.ArrayBuffer.empty[(String, java.io.File)]
    private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    def dir: String = synchronized {
      if (tmp.isEmpty) tmp = Some(
        java.nio.file.Files.createTempDirectory("graft_scratch").toFile)
      tmp.get.toString
    }

    /** A fresh `<prefix>_<uuid>` table name, dropped on release. */
    def table(prefix: String): String = synchronized {
      val n = prefix + "_" + java.util.UUID.randomUUID.toString.replace("-", "_")
      val catalog = session.sessionState.catalog
      tables += n -> new java.io.File(catalog.defaultTablePath(
        session.sessionState.sqlParser.parseTableIdentifier(n)))
      n
    }

    /** `df` written as a fresh table bucketed by `key`; its name. */
    def bucketed(prefix: String, df: DataFrame, key: String): String = {
      val n = table(prefix)
      Sources.writeBucketed(df, n, key)
      n
    }

    /** `df` eagerly checkpointed; its blocks go with the scope. */
    def checkpoint(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      synchronized(frames += c)
      c
    }

    def release(): Unit = synchronized {
      val live = !session.sparkContext.isStopped
      tables.foreach { case (t, loc) =>
        try if (live) session.sql(s"DROP TABLE IF EXISTS `$t`")
        catch { case _: Throwable => () }
        if (loc.exists()) deleteRecursively(loc)
      }
      tmp.foreach(deleteRecursively)
      if (live) frames.foreach(_.queryExecution.logical match {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.unpersist(blocking = false): Unit
        case _ => ()
      })
      tables.clear(); frames.clear(); tmp = None
    }
  }

  /** Run `body` in a fresh [[Scratch]], materialize its result, then
    * release the scope, also when `body` throws. */
  private[graft] def scratch(s: SparkSession)(body: Scratch => DataFrame)
      : DataFrame = {
    val sc = new Scratch(s)
    try body(sc).localCheckpoint(true) finally sc.release()
  }

  // Steady-state artifacts (the hash-init ANN indexes, the BM25
  // postings dir, the bucketed join tables) are deterministic functions
  // of the corpus dir, so a session builds each once and its later
  // queries probe it; the `*_build`/`_write`/`_ingest` rows price the
  // build. Checkpointed index frames survive Bench's per-query
  // `catalog.clearCache()`, which drains only the CacheManager. Keyed by
  // application id as well: checkpoint blocks and catalog tables die
  // with the context that made them, so a second SparkContext in one
  // JVM builds its own.
  private[graft] case class SteadyKey(app: String, kind: String, dir: String)
  private[graft] val steadyCache =
    new scala.collection.concurrent.TrieMap[SteadyKey, (Scratch, Any)]
  private lazy val steadyExitHook: Unit = {
    sys.addShutdownHook(steadyCache.keys.foreach(k =>
      steadyCache.remove(k).foreach(_._1.release())))
    ()
  }

  /** The per-session cache: `build` runs in its own [[Scratch]] at most
    * once per (application, kind, dir) that wins. Entries of stopped
    * applications are released on the next access; when two first
    * calls race, the `putIfAbsent` winner is kept and the loser's scope
    * released; one JVM-exit hook releases what is left. */
  private[graft] def steady[T](s: SparkSession, kind: String, dir: String)(
      build: Scratch => T): T = {
    steadyExitHook
    val app = s.sparkContext.applicationId
    steadyCache.keys.filter(_.app != app).foreach(k =>
      steadyCache.remove(k).foreach(_._1.release()))
    val key = SteadyKey(app, kind, dir)
    steadyCache.getOrElse(key, {
      val sc = new Scratch(s)
      val built = try (sc, build(sc)) catch {
        case e: Throwable => sc.release(); throw e
      }
      steadyCache.putIfAbsent(key, built) match {
        case Some(winner) => sc.release(); winner
        case None => built
      }
    })._2.asInstanceOf[T]
  }

  private[graft] def cachedIvfHashInit(s: SparkSession, dir: String) =
    steady(s, "ivf", dir) { sc =>
      val idx = Similarity.ivfIndexHashInit(embeddings(s, dir))
      idx.copy(cells = sc.checkpoint(idx.cells))
    }
  private[graft] def cachedIvfPqHashInit(s: SparkSession, dir: String) =
    steady(s, "ivfpq", dir) { sc =>
      val idx = Similarity.ivfPqIndexHashInit(embeddings(s, dir))
      idx.copy(cellCodes = sc.checkpoint(idx.cellCodes))
    }
  private[graft] def cachedBm25IndexDir(s: SparkSession, dir: String): String =
    steady(s, "bm25", dir) { sc =>
      TextFeatures.writeBm25Index(TextFeatures.bm25Index(documents(s, dir)),
        sc.dir)
      sc.dir
    }
  /** The bucketed (lineitem, orders) pair of the steady co-located join. */
  private[graft] def cachedBucketedJoinTables(
      s: SparkSession, dir: String): (String, String) =
    steady(s, "bucketed_join", dir) { sc =>
      (sc.bucketed("graft_bjs_l", lineitem(s, dir)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount"),
        "l_orderkey"),
      sc.bucketed("graft_bjs_o", Sources.parquetTable(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority"), "o_orderkey"))
    }

  /** Train the bigram LM on the English slice, persist it under the
    * scope's dir and reload it: the (model, vocabSize) pair shared by
    * text_perplexity_persisted and its streaming leg (one copy, so the
    * vocab tokenizer and artifact layout cannot desynchronize between
    * the two rows that share an oracle). */
  private[graft] def reloadedLm(sc: Scratch, dir: String): (DataFrame, Long) = {
    val train = documents(sc.session, dir).filter(col("lang") === "en")
    val model = LanguageModel.bigramModel(train)
    val v = train
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[\\p{L}]+"), lit(0))).as("w"))
      .agg(countDistinct(col("w"))).head().getLong(0)
    LanguageModel.writeModel(model, v, sc.dir)
    LanguageModel.readModel(sc.session, sc.dir)
  }

  /** Project ML Vector columns to scalar element columns `name_0..name_{n-1}`
    * so the verify dump contains no array-typed columns (driver pandas
    * diff requirement). Sizes are static per query — the assembled
    * feature lists are fixed at registration. */
  private[graft] def vecToScalars(df: DataFrame, cols: (String, Int)*): DataFrame = {
    val names = cols.map(_._1).toSet
    val keep = df.columns.filterNot(names).toSeq.map(col)
    val elems = cols.flatMap { case (c, n) =>
      val arr = org.apache.spark.ml.functions.vector_to_array(col(c))
      (0 until n).map(i => arr.getItem(i).as(s"${c}_$i"))
    }
    df.select(keep ++ elems: _*)
  }

  /** Frozen scoring artifacts for the round-11 oracle rows (VERDICT
    * items 2/4): NOT fitted values — `oracleSql` is a static map, so a
    * fit's coefficients cannot appear in both engines — but fixed
    * model-shaped literals. The DuckDB twins are string-interpolated
    * from THESE constants (via `Double.toString`, whose shortest-
    * round-trip decimal parses back to the bit-identical double in any
    * IEEE engine), so Scala and SQL evaluate the same arithmetic on the
    * same numbers. FeaturesSpec separately ties `score`/`pcaProject`
    * applied to REAL fitted artifacts to the MLlib transforms, closing
    * the loop: scoring arithmetic hash-proven here, fit→scoring
    * equivalence spec-proven there. Feature order everywhere:
    * (c_acctbal, c_nationkey, c_custkey) — the customerFeatures
    * assembly order. Coefficient scale keeps |margin| small enough
    * (≲ tens) that the no-max-subtraction softmax stays far inside
    * exp's range even at sf10 custkey magnitudes. */
  private[graft] val ScoringCoefficients: Seq[Seq[Double]] = Seq(
    Seq(2.0e-4, -3.0e-2, 1.0e-6),
    Seq(-1.0e-4, 2.0e-2, -2.0e-6),
    Seq(1.5e-4, 1.0e-2, 5.0e-7),
    Seq(-2.5e-4, -2.0e-2, 1.5e-6))
  private[graft] val ScoringIntercepts: Seq[Double] =
    Seq(0.01, -0.02, 0.03, -0.04)
  private[graft] val PcaScoringLoadings: Seq[Seq[Double]] = Seq(
    Seq(0.6, 0.8, 1.0e-5),
    Seq(-0.8, 0.6, 2.0e-5))

  /** Flagship `demo_all_features` analog (reference
    * spark_ml_features.py:268-315): chains ALL reference stages —
    * robust scaling → feature prep → validation curves → feature union
    * → KMeans reduction → probability prediction → split column →
    * predefined split — on sf0.001 customer. The row-shaped stages form
    * one plan; the fixed-size artifacts (CV curve winner, test-side
    * split accuracy) ride along as broadcast metadata columns so every
    * stage is observable in the output schema. Driver smoke-checks
    * rows>0.
    *
    * Data dir: `GRAFT_ENTRY_DIR` env var when set, else the sf0.001
    * smoke fixture — so the flagship chain can be pointed at any SF
    * (or any dir with a `customer.parquet`) without an edit. */
  def entry(spark: SparkSession): DataFrame =
    entry(spark, sys.env.getOrElse("GRAFT_ENTRY_DIR", "/root/testdata/sf0.001"))

  def entry(spark: SparkSession, dir: String): DataFrame = {
    val base = customer(spark, dir)
      .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    val scaled = RobustScaling(base, Seq("c_acctbal")) // approx (at-scale) path
    val feats = PrepareFeatures(scaled,
      Seq("c_acctbal_scaled", "c_nationkey", "c_custkey"), "c_mktsegment")
    val unioned = FeatureUnion(feats)
    val clustered = DimReduction(unioned, "kmeans", k = 3)
      .withColumnRenamed("prediction", "cluster")
    val probed = ProbabilityPrediction(clustered)
    // §2.1 #4-5 validation curves (small grid at smoke scale); the
    // curve's winning point is the stage's fixed-size artifact
    val curve = ValidationCurves(spark, feats,
      paramRange = Seq(0.01, 0.1), numFolds = 2)
    val best = curve
      .orderBy(col("avg_metric").desc, col("param_value")).limit(1)
      .select(col("param_value").as("cv_best_param"),
        col("avg_metric").as("cv_best_metric"))
    // §2.1 #10-11 split column + predefined split: grid-fit on the
    // train flag, score the held-out test side. Seeded RANDOM split,
    // not the by-label branch: excluding a label would make the test
    // fold exactly the class the model never saw, pinning the
    // observable accuracy at ~0 regardless of model quality
    val split = PredefinedSplit(SplitColumn.random(clustered))
    val splitScore = split.model.transform(split.test)
      .agg(count(lit(1)).as("split_test_rows"),
        avg((col("prediction") === col("label")).cast("double"))
          .as("split_test_accuracy"))
    probed.crossJoin(broadcast(best)).crossJoin(broadcast(splitScore))
  }

  /** State-operator metrics of the LAST [[availableNow]] stream in
    * this JVM, as one JSON object — the r16 verdict item 4
    * side-channel: Bench attaches it to each stream_* row so the
    * committed artifact itself shows whether a keeper is
    * state-store-bound (state rows ≈ distinct docs, commit + update
    * time vs wall time) instead of that claim living in prose.
    * A registered query that runs several streams (e.g. the CDC
    * snapshot's two-phase ingest) reports its LAST stream's run.
    * None when no stream has run, or the last run had no progress. */
  @volatile private[graft] var lastStreamMetrics: Option[JObject] = None
  private[graft] def recordStreamMetrics(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ps = q.recentProgress.toSeq
    lastStreamMetrics =
      if (ps.isEmpty) None
      else {
        val ops = ps.flatMap(_.stateOperators.toSeq)
        val base = List("batches" -> JInt(ps.size),
          "batch_duration_ms" -> JInt(ps.map(_.batchDuration).sum))
        Some(JObject(if (ops.isEmpty) base else base ++ List(
          // rows-total from the FINAL batch (it is a gauge, not a
          // counter); the time fields are per-batch costs, summed
          "state_rows_total" ->
            JInt(ps.last.stateOperators.map(_.numRowsTotal).sum),
          "state_rows_updated" -> JInt(ops.map(_.numRowsUpdated).sum),
          "commit_ms" -> JInt(ops.map(_.commitTimeMs).sum),
          "updates_ms" -> JInt(ops.map(_.allUpdatesTimeMs).sum),
          "removals_ms" -> JInt(ops.map(_.allRemovalsTimeMs).sum),
          "state_memory_bytes" -> JInt(ops.map(_.memoryUsedBytes).max))))
      }
  }

  /** The streaming-oracle harness: run `stream` to completion under
    * Trigger.AvailableNow with foreachBatch writing each micro-batch to
    * a parquet sink under the scope's dir, and return the sink read
    * back (lazily: the enclosing [[scratch]] materializes it).
    * `tagBatchId` appends the micro-batch id column the CDC snapshot
    * row resolves last-writer-wins with.
    * r19 measured-and-rejected: moving the sink and checkpoint to
    * RAM-backed /dev/shm changed the 15-row streaming subtotal
    * 32.17 → 31.88 s (noise): the state-store delta/commit-log writes
    * land in the page cache either way, so the per-row ~1-2 s of
    * streaming machinery is query start/stop + per-store commit CPU,
    * not disk latency. */
  private[graft] def availableNow(
      sc: Scratch,
      stream: DataFrame,
      outputMode: String,
      sinkWriteMode: String,
      tagBatchId: Boolean = false): DataFrame = {
    val s = sc.session
    // one subdir per stream: a scope may run several
    val tmp = s"${sc.dir}/stream_${java.util.UUID.randomUUID}"
    // Round 13 (r12 verdict item 7): a stateful streaming query runs
    // ONE state store per shuffle partition, and every micro-batch
    // commits a delta file per store — at the fixture volumes the 32
    // session partitions were almost pure fixed overhead (32 stores ×
    // batches × commit fsyncs dominated stream_attribution's 15.5 s).
    // Stream state keys the shuffle here, so fewer partitions changes
    // file counts, not results; the override is scoped to the stream
    // run and restored before the batch read-back. A production
    // deployment sizes this to state volume / executor count — the
    // knob is the same one, set per-query instead of per-session.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    // r19 re-measured this knob both ways on a quiet box (guide §1):
    // 4 partitions regressed the 8 stateful rows' subtotal 20.2 →
    // 21.2 s (state update work loses more parallelism than commit
    // count saves) — 8 stays the local sweet spot.
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val sink = s"$tmp/out"
    try {
      val writeBatch = (batch: DataFrame, bid: Long) => {
        val b = if (tagBatchId) batch.withColumn("batch_id", lit(bid))
                else batch
        // repartition(1), NOT coalesce(1), for the one-file sink: a
        // coalesce(1) here collapsed the ENTIRE post-shuffle stage —
        // including the stateful operator, which runs above the state
        // Exchange — into one task (r18 profile: stream_dedup_near's
        // state stage read its full 30 MB shuffle on t=1;
        // stream_attribution's join state op likewise). repartition
        // inserts its own exchange BELOW the write, so the state
        // stores keep their 8-way parallelism and only the tiny
        // result rows funnel into the single writer task. Same rows,
        // same single output file per batch.
        b.repartition(1).write.mode(sinkWriteMode).parquet(sink)
      }
      val q = stream.writeStream
        .outputMode(outputMode)
        .option("checkpointLocation", s"$tmp/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(writeBatch)
        .start()
      q.awaitTermination()
      recordStreamMetrics(q)
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    s.read.parquet(sink)
  }

  /** A stream row's whole scope: [[availableNow]], then `readBack` over
    * the sink, materialized before the scope is released. */
  private[graft] def runAvailableNow(
      s: SparkSession,
      stream: DataFrame,
      outputMode: String,
      sinkWriteMode: String,
      tagBatchId: Boolean = false)(
      readBack: DataFrame => DataFrame): DataFrame =
    scratch(s)(sc => readBack(
      availableNow(sc, stream, outputMode, sinkWriteMode, tagBatchId)))

  /** One entry per implemented operator from SURVEY.md §2 + §7 —
    * assembled from the per-family EntryQueries* slices (r16 verdict
    * item 7). Key-disjointness is a hard require: a name registered in
    * two families would let one silently shadow the other, and the
    * driver would verify the wrong plan. */
  // Families contribute Seqs of pairs, not Maps (r17 advice #5): a Map
  // literal collapses a within-family duplicate key by last-wins BEFORE
  // any check can see it; a Seq preserves every registration, so this
  // one require catches duplicates both within and across families.
  private[graft] def queryFamilies
      : Seq[Seq[(String, (SparkSession, String) => DataFrame)]] = Seq(
    EntryQueriesFeatures.entries, EntryQueriesDedup.entries,
    EntryQueriesText.entries, EntryQueriesSimilarity.entries,
    EntryQueriesMultimodal.entries, EntryQueriesCurate.entries,
    EntryQueriesStreaming.entries, EntryQueriesOps.entries)

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = queryFamilies.flatten
    val dup = all.map(_._1)
      .groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    require(dup.isEmpty,
      s"query keys registered more than once (within or across " +
        s"families): ${dup.toSeq.sorted.mkString(", ")}")
    all.toMap
  }


  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    * The map body and its shared CTE constants live in [[OracleSql]]
    * (split in r15 for registry hygiene). */
  def oracleSql: Map[String, String] = OracleSql.all
}
