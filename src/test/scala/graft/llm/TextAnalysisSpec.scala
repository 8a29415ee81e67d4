package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {

  private def one(text: String) = {
    val s = spark
    import s.implicits._
    Seq((1L, text)).toDF("doc_id", "text")
  }

  test("tokenStats: crafted counts") {
    val r = TextAnalysis.tokenStats(one("Hello, world! 123 foo")).head()
    assert(r.getAs[Int]("n_chars_calc") == 21)
    assert(r.getAs[Int]("ws_token_count") == 4)
    // Hello , world ! 123 foo
    assert(r.getAs[Int]("bpe_token_count") == 6)
  }

  test("normalize: trim, lowercase, collapse whitespace") {
    val out = one("  A  B\t\nc ")
      .select(TextAnalysis.normalize(col("text"))).head().getString(0)
    assert(out == "a b c")
  }

  test("fingerprint: stable under reformatting, distinct for distinct text") {
    val fp = (t: String) => TextAnalysis.fingerprint(one(t))
      .head().getAs[Long]("fingerprint")
    assert(fp("Foo  Bar") == fp("foo bar"))
    assert(fp("foo bar") != fp("foo baz"))
  }

  test("languageId: detects en/de, 'und' for no-signal text") {
    val pred = (t: String) => TextAnalysis.languageId(one(t))
      .head().getAs[String]("lang_pred")
    assert(pred("the cat sat on the mat and it was happy") == "en")
    assert(pred("der hund ist mit der katze und nicht im haus") == "de")
    assert(pred("qwfp zxcv brkl 42") == "und")
  }

  test("charEntropy: hand-computed values, ordering, empty-safe") {
    val ent = (t: String) => TextAnalysis.charEntropy(one(t))
      .head().getAs[Double]("char_entropy")
    assert(math.abs(ent("aabb") - 1.0) < 1e-12)
    assert(ent("aaaa") == 0.0)
    assert(ent("") == 0.0)
    // natural text sits between constant noise and uniform randomness
    val prose = ent("the quick brown fox jumps over the lazy dog")
    assert(prose > 3.0 && prose < 5.0, s"prose=$prose")
    assert(ent("ababababab") < prose)
  }

  test("charEntropy: 100 KB doc matches a local reference and stays fast") {
    // long-doc guard: the previous distinct×filter formulation was
    // O(distinct·len) per row (~10M comparisons for exactly this doc);
    // the run-length fold must agree with a locally computed entropy
    // and finish at scan-ish speed
    val rng = new scala.util.Random(11)
    val alphabet = ('a' to 'z') ++ ('0' to '9') ++ Seq(' ', '.', ',', '\n')
    val doc = Array.fill(100000)(alphabet(rng.nextInt(alphabet.length))).mkString
    val expected = {
      val n = doc.length.toDouble
      -doc.groupBy(identity).values
        .map(g => g.length / n * (math.log(g.length / n) / math.log(2.0)))
        .sum
    }
    val t0 = System.nanoTime()
    val got = TextAnalysis.charEntropy(one(doc)).head().getAs[Double]("char_entropy")
    val secs = (System.nanoTime() - t0) / 1e9
    assert(math.abs(got - expected) < 1e-9, s"got=$got expected=$expected")
    // generous bound: the O(distinct·len) regression this guards took
    // minutes; parallel suites on a contended box have pushed the good
    // path past a 10s bound (observed 40s), so only order-of-magnitude
    // slowdowns should fail
    assert(secs < 120.0, s"100 KB entropy took ${secs}s")
  }

  test("qualityScore: clean prose beats digit-heavy junk; ratios in [0,1]") {
    val good = TextAnalysis.qualityScore(one(
      "the quick brown fox jumps over the lazy dog and it was glad " +
        "for this fine day in the meadow with friends on the hill")).head()
    val junk = TextAnalysis.qualityScore(one(
      "9481 1239 8431 99 00 1 2 3 4 5 6 7 8 9 !!!! ???? 0000")).head()
    val gq = good.getAs[Double]("quality_score")
    val jq = junk.getAs[Double]("quality_score")
    assert(gq > 0.2, s"good=$gq")
    assert(gq > jq, s"good=$gq junk=$jq")
    Seq("stopword_ratio", "punct_ratio", "digit_ratio", "upper_ratio")
      .foreach { c =>
        val v = good.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c=$v")
      }
  }

  test("repetitionStats: crafted counts, deterministic tie-break, empty-safe") {
    // "a b a b a" → 2-grams (a b, b a, a b, b a): total 4, distinct 2,
    // dup frac 0.5; counts tie 2-2 → lexicographic winner "a b"
    val r = TextAnalysis.repetitionStats(one("a b a b a")).head()
    assert(r.getAs[Int]("ngram_total") == 4)
    assert(r.getAs[Int]("ngram_distinct") == 2)
    assert(math.abs(r.getAs[Double]("dup_ngram_frac") - 0.5) < 1e-12)
    assert(r.getAs[String]("top_ngram") == "a b")
    assert(r.getAs[Int]("top_ngram_count") == 2)
    // 2 occurrences × 3 chars ("a b") / 9 chars of text
    assert(math.abs(r.getAs[Double]("top_ngram_char_frac") - 6.0 / 9.0) < 1e-12)

    // all-distinct grams → dup frac 0
    val d = TextAnalysis.repetitionStats(one("one two three four")).head()
    assert(d.getAs[Int]("ngram_total") == 3)
    assert(d.getAs[Double]("dup_ngram_frac") == 0.0)

    // fewer than 2 tokens → no grams, zeros not nulls/NaNs
    Seq("", "word", "!!!").foreach { t =>
      val e = TextAnalysis.repetitionStats(one(t)).head()
      assert(e.getAs[Int]("ngram_total") == 0, s"text='$t'")
      assert(e.getAs[Double]("dup_ngram_frac") == 0.0)
      assert(e.getAs[Double]("top_ngram_char_frac") == 0.0)
      assert(e.getAs[String]("top_ngram") == "")
    }
  }

  test("repetitionStats: boilerplate scores above varied prose") {
    val spam = TextAnalysis.repetitionStats(one(
      "click here buy now click here buy now click here buy now")).head()
    val prose = TextAnalysis.repetitionStats(one(
      "the quick brown fox jumps over the lazy dog near the river")).head()
    assert(spam.getAs[Double]("dup_ngram_frac") >
      prose.getAs[Double]("dup_ngram_frac"))
    assert(spam.getAs[Double]("top_ngram_char_frac") >
      prose.getAs[Double]("top_ngram_char_frac"))
  }

  test("chunk: window/stride arithmetic, short tail, empty doc drops out") {
    val s = spark
    import s.implicits._
    // 10 tokens, window 4, stride 3 → starts 0,3,6,9
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "   "))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.chunk(docs, chunkTokens = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx").collect()
    assert(rows.forall(_.getLong(0) == 1L)) // token-less doc 2 emits nothing
    assert(rows.map(_.getAs[Int]("chunk_idx")).toSeq == Seq(0, 1, 2, 3))
    assert(rows.map(_.getAs[String]("chunk")).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10", "t10"))
    assert(rows.map(_.getAs[Int]("chunk_tokens")).toSeq == Seq(4, 4, 4, 1))
  }

  test("chunk: full token coverage at any stride; extra columns ride along") {
    val s = spark
    import s.implicits._
    val text = "the quick brown fox jumps over the lazy dog"
    val docs = Seq((7L, "web", text)).toDF("doc_id", "source", "text")
    for (stride <- Seq(1, 2, 4, 9, 100)) {
      val out = TextAnalysis.chunk(docs, chunkTokens = 4, stride = stride)
      // stride ≤ window ⇒ concatenating stride-sized prefixes of every
      // chunk (plus the last chunk's tail) reproduces the document
      val chunks = out.orderBy("chunk_idx")
        .collect().map(_.getAs[String]("chunk"))
      val rebuilt = (chunks.init.map(_.split(" ").take(stride).mkString(" ")) :+
        chunks.last).mkString(" ")
      if (stride <= 4) assert(rebuilt == text, s"stride=$stride")
      assert(out.columns.contains("source")) // input columns preserved
      assert(out.head().getAs[String]("source") == "web")
    }
  }

  test("repetitionStats/chunk: caller columns named like staging columns " +
    "survive and leave the metrics unchanged") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "click here buy now click here buy now"),
      (2L, "the quick brown fox jumps over the lazy dog"), (3L, ""))
      .toDF("doc_id", "text")
    val extra = docs.withColumn("_toks", lit("mine"))
      .withColumn("_start", lit(7))
    def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.select(cols.map(col): _*).orderBy(cols.map(col): _*)
        .collect().map(_.toSeq).toSeq
    val rep = Seq("doc_id", "ngram_total", "ngram_distinct",
      "dup_ngram_frac", "top_ngram", "top_ngram_count", "top_ngram_char_frac")
    val repOut = TextAnalysis.repetitionStats(extra)
    assert(rows(repOut, rep) == rows(TextAnalysis.repetitionStats(docs), rep))
    assert(rows(repOut, Seq("_toks", "_start")).distinct == Seq(Seq("mine", 7)))
    val chk = Seq("doc_id", "chunk_idx", "chunk_tokens", "chunk")
    val chkOut = TextAnalysis.chunk(extra, chunkTokens = 3, stride = 2)
    assert(rows(chkOut, chk) ==
      rows(TextAnalysis.chunk(docs, chunkTokens = 3, stride = 2), chk))
    assert(rows(chkOut, Seq("_toks", "_start")).distinct == Seq(Seq("mine", 7)))
  }

  test("Tokens: letters and whitespace equal both old spellings of each " +
    "rule on the corpus and on edge strings") {
    val s = spark
    import s.implicits._
    val spaces = "a\tb\nc\u000Bd\u000Ce\rf  g"
    val accents = "caf\u00E9 na\u00EFve \u00C6R\u00D8 \u03A9\u03BC\u03AD\u03B3\u03B1"
    val nonBmp = "\uD835\uDC00\uD835\uDC01x \uD840\uDC00z \uD83D\uDE00 \uD835\uDD38"
    val marks = "e\u0301te\u0301 n\u0303o \u0301lead"
    val edge = Seq[String](null, "", " \t\n\u000B\u000C\r ", " ,;!?- ",
      "  lead, and trail!  ", spaces, accents, nonBmp, marks,
      "abc123def 4x4 x1 99 Mixed-CASE_words")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("text")).unionByName(edge.toDF("text"))
    val t = col("text")
    // the spellings the operators used before Tokens held each rule
    val forms = docs.select(
      Tokens.letters(t),
      filter(split(lower(t), "[^\\p{L}]+"), w => length(w) > 0),
      regexp_extract_all(lower(t), lit("[\\p{L}]+"), lit(0)),
      Tokens.whitespace(t),
      filter(split(t, "\\s+"), w => w =!= ""),
      regexp_extract_all(t, lit("\\S+"), lit(0)),
      Tokens.words(t),
      filter(split(lower(t), "[^\\p{L}\\p{N}]+"), w => length(w) > 0))
      .collect().map(r => r.toSeq.map(Option(_).map(_.asInstanceOf[
        scala.collection.Seq[String]].toSeq)))
    assert(forms.length > edge.length)
    forms.foreach { case Seq(l, l1, l2, ws, ws1, ws2, w, w1) =>
      assert(l == l1 && l == l2, (l, l1, l2))
      assert(ws == ws1 && ws == ws2, (ws, ws1, ws2))
      assert(w == w1, (w, w1))
    }
    // the edge rows exercise what they claim to
    def byText(text: String) = forms.takeRight(edge.length)(edge.indexOf(text))
    assert(byText(null).forall(_.isEmpty))
    assert(byText("").forall(_.contains(Seq.empty)))
    assert(byText(" \t\n\u000B\u000C\r ").forall(_.contains(Seq.empty)))
    assert(byText(" ,;!?- ") == Seq.fill(3)(Some(Seq.empty)) ++
      Seq.fill(3)(Some(Seq(",;!?-"))) ++ Seq.fill(2)(Some(Seq.empty)))
    assert(byText("  lead, and trail!  ")(3) ==
      Some(Seq("lead,", "and", "trail!")))
    assert(byText(accents).head ==
      Some(Seq("caf\u00E9", "na\u00EFve", "\u00E6r\u00F8", "\u03C9\u03BC\u03AD\u03B3\u03B1")))
    assert(byText(spaces)(3) == Some(Seq("a", "b", "c", "d", "e", "f", "g")))
    // non-BMP letters stay whole (surrogate pairs), an emoji separates
    assert(byText(nonBmp).head == Some(Seq(
      "\uD835\uDC00\uD835\uDC01x", "\uD840\uDC00z", "\uD835\uDD38")))
    // a combining mark is not a letter: it splits the letter run
    assert(byText(marks).head == Some(Seq("e", "te", "n", "o", "lead")))
    assert(byText("abc123def 4x4 x1 99 Mixed-CASE_words").head ==
      Some(Seq("abc", "def", "x", "x", "mixed", "case", "words")))
  }

  test("packBins: hand-computed bin assignment; independent per group") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a", "one two three"),        // 3 toks, before=0 → bin 0 off 0
      (2L, "a", "four five six seven"),  // 4 toks, before=3 → bin 0 off 3
      (3L, "a", "eight nine"),           // 2 toks, before=7 → bin 1 off 2
      (4L, "b", "x y z w v u t s"),      // 8 toks, before=0 → bin 0 off 0
      (5L, "b", "")                      // 0 toks, before=8 → bin 1 off 3
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.packBins(docs, binTokens = 5)
      .orderBy("source", "doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_tokens"),
        r.getAs[Long]("tokens_before"), r.getAs[Long]("bin_id"),
        r.getAs[Long]("bin_offset")))
    assert(out.toSeq == Seq(
      (1L, 3, 0L, 0L, 0L),
      (2L, 4, 3L, 0L, 3L),
      (3L, 2, 7L, 1L, 2L),
      (4L, 8, 0L, 0L, 0L),
      (5L, 0, 8L, 1L, 3L)))
  }

  test("lengthQuantiles: hand-computed interpolated quantiles; approx tracks exact") {
    val s = spark
    import s.implicits._
    // source a: token counts 1,2,3,4 → p25=1.75 p50=2.5 p75=3.25 p95=3.85
    val docs = Seq(
      ("a", "x"), ("a", "x x"), ("a", "x x x"), ("a", "x x x x"),
      ("b", "y y y y y")
    ).toDF("source", "text")
    val out = TextAnalysis.lengthQuantiles(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(out("a") == ((4L, 1.75, 2.5, 3.25, 3.85)))
    assert(out("b") == ((1L, 5.0, 5.0, 5.0, 5.0)))

    // GK sketch path: same shape, close values at full accuracy
    val approx = TextAnalysis.lengthQuantiles(docs, exact = false)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(math.abs(approx("a") - 2.0) <= 1.0) // GK returns a real sample
    assert(approx("b") == 5.0)
  }

  test("piiScan/piiRedact: planted hits counted and masked, clean text untouched") {
    val dirty = "mail alice.smith@example.com or bob@test.org, " +
      "call +49-151-1234-5678, host 192.168.10.42, ssn 123-45-6789"
    val r = TextAnalysis.piiScan(one(dirty)).head()
    assert(r.getAs[Int]("n_emails") == 2)
    assert(r.getAs[Int]("n_phones") == 1)
    assert(r.getAs[Int]("n_ipv4") == 1)
    assert(r.getAs[Int]("n_ids") == 1)
    assert(r.getAs[Int]("has_pii") == 1)

    val red = TextAnalysis.piiRedact(one(dirty)).head().getAs[String]("redacted")
    assert(red == "mail [EMAIL] or [EMAIL], call [PHONE], host [IP], ssn [ID]")

    val clean = "no personal data here just plain words"
    val c = TextAnalysis.piiScan(one(clean)).head()
    assert(c.getAs[Int]("has_pii") == 0)
    assert(TextAnalysis.piiRedact(one(clean)).head()
      .getAs[String]("redacted") == clean)
  }

  test("removeBoilerplate: frequent lines dropped, order and blanks kept") {
    val s = spark
    import s.implicits._
    // "BANNER" in docs 1..3 (df 3 ≥ minDf 2) → removed everywhere;
    // "rare line" only in doc 1 (df 1) → kept; blank lines kept.
    val docs = Seq(
      (1L, "BANNER\nunique one\n\nrare line"),
      (2L, "unique two\nBANNER"),
      (3L, "BANNER"),
      (4L, "unique four")).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplate(docs, minDf = 2L)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === (("unique one\n\nrare line", 4L, 1L)))
    assert(got(2L) === (("unique two", 2L, 1L)))
    // all lines boilerplate → empty text, doc still present
    assert(got(3L) === (("", 1L, 1L)))
    assert(got(4L) === (("unique four", 1L, 0L)))
  }

  test("removeBoilerplate: blank lines never count toward frequency") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a\n\nb"), (2L, "c\n\nd"), (3L, "e\n\nf"))
      .toDF("doc_id", "text")
    // the blank line appears in all 3 docs but must not be removed
    val got = TextAnalysis.removeBoilerplate(docs, minDf = 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a\n\nb", 2L -> "c\n\nd", 3L -> "e\n\nf"))
  }

  test("removeBoilerplate: within-doc repeats count once toward df") {
    val s = spark
    import s.implicits._
    // "x" appears 3 times in doc 1 but only 1 distinct doc → df 1 < 2
    val docs = Seq((1L, "x\nx\nx"), (2L, "y")).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplate(docs, minDf = 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "x\nx\nx")
  }

  test("topNgrams: counts match brute force, short docs drop, top-k plan") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat sat on the cat mat"),
      (2L, "the cat sat"),
      (3L, "cat"), // 1 token: no bigram, fallback unigram must be dropped
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.topNgrams(docs, n = 2, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // brute force over the same tokenization
    assert(got.toSeq == Seq(("the cat", 3L), ("cat sat", 2L), ("cat mat", 1L)))
    // doc 3's single token never appears as a gram
    val all = TextAnalysis.topNgrams(docs, n = 2, k = 100).collect()
    assert(all.forall(_.getString(0).contains(" ")))
    // exact top-k plans as TakeOrdered, not a global Sort
    val plan = TextAnalysis.topNgrams(docs, n = 2, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(600))
  }

  test("topNgrams: corpus run is deterministic and rank cut is total") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val a = TextAnalysis.topNgrams(docs, n = 2, k = 50).collect()
    val b = TextAnalysis.topNgrams(docs.repartition(7), n = 2, k = 50)
      .collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.length == 50)
    // counts non-increasing; ties ordered lexicographically
    val pairs = a.map(r => (r.getLong(1), r.getString(0)))
    assert(pairs.sliding(2).forall { case Array((c1, g1), (c2, g2)) =>
      c1 > c2 || (c1 == c2 && g1 < g2) })
  }

  test("pmiCollocations: an always-together pair tops a planted corpus " +
      "at pmi = ln(n/c); independent pairs score near zero") {
    val s = spark
    import s.implicits._
    // 40 docs: every doc draws filler; docs 0..9 contain BOTH xx and
    // yy (never apart) -> pmi(xx, yy) = ln(40*10/(10*10)) = ln 4.
    // Filler terms appear in nearly every doc -> pmi ~ 0.
    val docs = (0 until 40).map { i =>
      val base = s"alpha beta gamma delta w$i"
      (i.toLong, if (i < 10) s"$base xx yy" else base)
    }.toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(docs, headK = 10, topK = 20)
      .collect()
    val top = out.head
    assert(top.getAs[String]("t1") == "xx" && top.getAs[String]("t2") == "yy")
    assert(math.abs(top.getAs[Double]("pmi") - math.log(4.0)) < 1e-6)
    assert(top.getAs[Long]("c_xy") == 10L)
    // the filler-filler pairs co-occur by volume, not association
    val fill = out.find(r => r.getAs[String]("t1") == "alpha" &&
      r.getAs[String]("t2") == "beta").get
    assert(math.abs(fill.getAs[Double]("pmi")) < 0.05)
  }

  test("pmiCollocations: head restriction drops off-head terms; " +
      "deterministic under repartitioning") {
    val s = spark
    import s.implicits._
    val docs = (0 until 30).map { i =>
      (i.toLong, s"common1 common2 common3 rare$i onceonly$i")
    }.toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(docs, headK = 3, topK = 50)
      .collect()
    // only C(3,2) = 3 head pairs can exist; the rare/once terms are out
    assert(out.length <= 3)
    assert(out.forall(r => Set("common1", "common2", "common3")(
      r.getAs[String]("t1"))))
    val again = TextAnalysis.pmiCollocations(
      docs.repartition(7, col("doc_id")), headK = 3, topK = 50).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("gramNovelty: cloned docs read 0, a unique doc reads 1, " +
      "short docs emit no row") {
    val s = spark
    import s.implicits._
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, shared), (2L, shared),       // every trigram df = 2 -> 0.0
      (3L, "omega psi chi phi upsilon"),// all trigrams unique -> 1.0
      (4L, "too short")                 // < 3 words -> no row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gramNovelty(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!out.contains(4L))
    assert(out(1L).getAs[Double]("novelty") == 0.0)
    assert(out(2L).getAs[Double]("novelty") == 0.0)
    assert(out(3L).getAs[Double]("novelty") == 1.0)
    // counts: 6 words -> 4 trigrams
    assert(out(1L).getAs[Long]("n_grams") == 4L)
  }

  test("gramNovelty: partial overlap computes the exact share") {
    val s = spark
    import s.implicits._
    // doc 2 shares doc 1's first three words (one shared trigram),
    // then diverges -> doc 2: 1 shared of its 4 trigrams = 0.75 novel
    val docs = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three nine ten eleven")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gramNovelty(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(2L).getAs[Long]("n_grams") == 4L)
    assert(out(2L).getAs[Long]("n_novel") == 3L)
    assert(out(2L).getAs[Double]("novelty") == 0.75)
  }

  test("languageConfusion: shares sum to 1 per label and the matrix " +
      "agrees with row-level languageId") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val m = TextAnalysis.languageConfusion(docs).collect()
    val byLabel = m.groupBy(_.getAs[String]("lang"))
    byLabel.foreach { case (l, rows) =>
      val su = rows.map(_.getAs[Double]("share")).sum
      assert(math.abs(su - 1.0) < 1e-4, s"$l shares sum $su")
    }
    val manual = TextAnalysis.languageId(docs)
      .groupBy(col("lang"), col("lang_pred")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    m.foreach { r =>
      assert(manual(
        (r.getAs[String]("lang"), r.getAs[String]("lang_pred"))) ==
        r.getAs[Long]("n"))
    }
    assert(m.map(_.getAs[Long]("n")).sum == docs.count())
  }
}
