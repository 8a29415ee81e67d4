package graft

/** Structural plan-shape guard over the registered queries: the plans
  * PLANS.md documents are asserted here so an operator edit that
  * reintroduces a shuffle, a cartesian product, or an unpruned scan
  * fails CI instead of silently regressing the at-scale story.
  *
  * Counts are over the pre-execution physical plan (AQE may coalesce
  * or convert joins at runtime but never ADDS shuffles): "Exchange
  * hashpartitioning" = a real shuffle; BroadcastExchange is allowed
  * everywhere (it is the point of dimension broadcasts).
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString

  private def shuffles(p: String): Int =
    "Exchange (hash|range)partitioning".r.findAllIn(p).length

  test("narrow projections plan with zero shuffles") {
    // text_tfidf: HashingTF has no vocabulary fit and IDF's document
    // frequencies travel via treeAggregate (an RDD action, not an
    // Exchange) — the registered transform must stay a pure projection
    Seq("robust_scaling", "text_token_stats", "text_normalize",
      "text_quality", "text_entropy", "text_language",
      "multimodal_binary_stats", "multimodal_frame_sample",
      "multimodal_payload_meta",
      // header decode: payload synthesis + ImageMeta parse are one
      // codegen'd projection over the documents scan
      "multimodal_decode",
      // thumbnail resize: a flat 32-substr concat fused into the scan
      "multimodal_resize",
      // PPM pixel path: header regex + hex-walk + flat channel
      // arithmetic, one projection over the documents scan (r12)
      "multimodal_ppm_stats",
      "prepare_features", "add_split_column",
      "predefined_split_train", "predefined_split_test", "text_tfidf",
      // chunking is posexplode over a per-row token array — pure narrow
      "text_chunk",
      // mixture sampling is a literal-threshold filter fused into the scan
      "llm_mix_corpus",
      // hash split is a literal-threshold CASE fused into the scan
      "llm_hash_split",
      // round 11: the frozen-artifact scoring halves are literal-matrix
      // codegen projections — zero shuffles is their whole scale story
      // (kmeans_hashinit additionally pays one bounded TakeOrdered draw
      // job at plan-build time, not an Exchange in the scoring plan)
      "dim_reduction_kmeans_hashinit", "dim_reduction_pca_scoring",
      "probability_scoring",
      // round 15: the power-iteration SCORING plan is a literal-vector
      // projection (the draw + Gram-vector aggregation are bounded
      // plan-build jobs, like kmeans_hashinit's TakeOrdered)
      "dim_reduction_pca_power",
      // round 15: the JL sign projection is the vector-compression
      // stage — a literal-matrix per-row fold; an Exchange here means
      // it stopped being scan-speed
      "embedding_random_projection",
      // round 15: the dHash signature is one codegen'd call fused
      // into the payload scan (the BMP-decode contract)
      "multimodal_phash")
      .foreach { q =>
        val p = plan(q)
        assert(shuffles(p) == 0, s"$q has a shuffle:\n${p.take(600)}")
      }
  }

  test("bm25PostingsStateless is a zero-Exchange projection (the " +
      "streaming-ingest contract of the BM25 living index, r15)") {
    // term counts come from array functions INSIDE the row — if an
    // explode+groupBy sneaks back in, the stream leg silently becomes
    // a stateful aggregation and stream_bm25_append's append-sink
    // shape breaks
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = graft.llm.TextFeatures.bm25PostingsStateless(docs)
      .queryExecution.executedPlan.toString
    assert(shuffles(p) == 0, s"stateless postings gained a shuffle:\n${p.take(600)}")
  }

  test("round 11: cached ANN probes scan materialized index blocks, " +
      "not a rebuilt corpus assignment") {
    // the steady-state similarity_ivf/_ivfpq plans must read the
    // localCheckpoint'ed cells (an ExistingRDD scan) rather than
    // re-deriving assignment from the parquet corpus — the amortization
    // VERDICT item 5 asked for; a regression re-inlines the build into
    // every probe
    Seq("similarity_ivf", "similarity_ivfpq").foreach { q =>
      SparkEntry.queries(q)(spark, sf0001).count() // ensure cache is warm
      val p = plan(q)
      assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
        s"$q probe does not scan the checkpointed index:\n${p.take(800)}")
    }
  }

  test("single-shuffle aggregations and windows stay single-shuffle") {
    Seq("dedup_exact" -> 1, "dedup_exact_groups" -> 1,
      "events_window" -> 1, "events_sessionize" -> 1,
      "events_props_agg" -> 1, "embedding_label_stats" -> 1,
      "text_source_profile" -> 1, "llm_curate" -> 1,
      "skew_salted_agg" -> 2, // two-phase by design
      // batch pre-agg + in-flight history keepers; the bucketed-keeper
      // deployment shape (ONE exchange) is asserted in DedupSpec
      "dedup_incremental" -> 2,
      // benchmark-gram distinct + per-doc hit groupBy; the corpus gram
      // stream itself never shuffles (bench side broadcasts)
      "llm_decontaminate" -> 2,
      // one window shuffle on source; row_number <= k is rewritten to a
      // WindowGroupLimit so map tasks keep <= k rows per source
      "llm_source_quota" -> 1,
      // sequence packing: one prefix-sum window on the group key
      "text_pack_bins" -> 1,
      // per-group exact percentile: one partial-combined aggregate
      "text_length_quantiles" -> 1,
      // exact countDistinct = two-phase (partial distinct on
      // group × user, then final count); the approx=true HLL path
      // collapses to one sketch shuffle at scale
      "events_cardinality" -> 2,
      // Q1 rollup: one partial-combined aggregate onto ~6 groups
      "lineitem_pricing_summary" -> 1,
      // funnel: groupBy reuses the window's user_id partitioning
      "events_funnel" -> 1,
      // pivot with explicit values = one conditional-count aggregate
      "events_pivot" -> 1,
      // ntile window partitioned by source; scoring is narrow
      "llm_quality_quartiles" -> 1,
      // hash-rank reservoir: one window shuffle on source
      "llm_sample_by_source" -> 1,
      // SQ8 probe: broadcast queries × codes scan, one top-k window
      // shuffle keyed by query_id — cosineTopK's shape over int8 codes
      "similarity_sq8" -> 1,
      // cohort window (1) + final distinct count (1): the distinct's
      // per-(group, user) phase REUSES the window's user_id
      // partitioning — hashpartitioning on a subset of the clustering
      // keys co-locates every (group, user) tuple, so no third
      // Exchange is planned
      "events_retention" -> 2)
      .foreach { case (q, n) =>
        val p = plan(q)
        assert(shuffles(p) == n,
          s"$q expected $n shuffle(s), got ${shuffles(p)}:\n${p.take(600)}")
      }
  }

  test("skew_salted_join: fixture-scale dim broadcasts (skew-immune); " +
      "the composite-key shuffle shape is pinned in SkewSpec") {
    // At sf0.001 the 8×|part| replicated dim is tiny, so the RIGHT plan
    // is a broadcast hash join (broadcast is skew-immune — salting only
    // pays off when the dim can't broadcast, asserted with broadcast
    // disabled in SkewSpec). This row pins that Catalyst keeps making
    // that choice over the exploded dim.
    val p = plan("skew_salted_join")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(shuffles(p) == 0, s"expected no shuffle:\n${p.take(800)}")
  }

  test("source quota's rank filter becomes a map-side WindowGroupLimit") {
    // row_number() <= k must rewrite to WindowGroupLimit with a Partial
    // mode instance before the exchange — each map task then retains at
    // most k rows per source, so a hot domain can't flood one reducer
    val p = plan("llm_source_quota")
    assert(p.contains("WindowGroupLimit"), p.take(600))
    assert("WindowGroupLimit.*Partial".r.findFirstIn(p).isDefined ||
      "Partial.*WindowGroupLimit".r.findFirstIn(p).isDefined ||
      p.linesIterator.exists(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial")),
      "expected a Partial-mode WindowGroupLimit:\n" + p.take(1200))
  }

  test("text_heavy_hitters_sketch: vocabulary never keys a shuffle — " +
      "one ObjectHashAggregate sketch pair, zero hash Exchanges, " +
      "TakeOrdered top-k (round 11)") {
    val p = plan("text_heavy_hitters_sketch")
    assert(p.contains("ObjectHashAggregate"), p.take(800))
    // partial sketches meet at a SinglePartition exchange (one row per
    // task); a hashpartitioning Exchange would mean the gram vocabulary
    // itself is being shuffled — the exact twin's shape, not the sketch's
    assert(shuffles(p) == 0, s"vocabulary-keyed shuffle crept in:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("KMV sketch rows: the sketched domain never keys a shuffle — " +
      "one group-key Exchange of <= k-entry partial states (round 14)") {
    // the kmvSketch plan must be the MG plan shape: map-side partial
    // BottomK states (KB rows) meeting at ONE hashpartitioning
    // Exchange on the GROUP key; any second hash Exchange means the
    // hashed domain (user_id) itself started crossing the wire
    val ev = graft.sources.Sources.parquetTable(spark, sf0001, "events")
    val pSketch = operators.Sketches
      .kmvSketch(ev, "event_type", "user_id")
      .queryExecution.executedPlan.toString
    assert(pSketch.contains("ObjectHashAggregate"), pSketch.take(800))
    assert(shuffles(pSketch) == 1,
      s"kmvSketch must shuffle only sketch partials:\n${pSketch.take(800)}")
    // text_sample_quantiles (registered): two aggregates + self-join,
    // but every stage keys on the GROUP column — the row-id hash and
    // the sampled payloads never key an Exchange. The sketch/exact agg
    // subtree appears twice (both join inputs derive from it), so the
    // group-key Exchange count is bounded by the branch count, not by
    // corpus-keyed stages: assert every hash Exchange partitions on
    // the group column only
    val pQ = plan("text_sample_quantiles")
    val exchangeKeys = "Exchange hashpartitioning\\(([a-zA-Z_0-9#]+)"
      .r.findAllMatchIn(pQ).map(_.group(1)).toSeq
    assert(exchangeKeys.nonEmpty, pQ.take(800))
    assert(exchangeKeys.forall(_.startsWith("source")),
      s"non-group-key shuffle in text_sample_quantiles: $exchangeKeys\n" +
        pQ.take(800))
  }

  test("BPE word table: the vocabulary bound is a TakeOrdered draw, " +
      "never a global sort of the word counts (round 14)") {
    // the topWords selection is the only corpus-scale stage of BPE
    // learning — a rangepartitioning Exchange here would sort the
    // whole vocabulary to keep 200 rows
    val docs = graft.sources.Sources.parquetTable(spark, sf0001,
      "documents")
    val p = graft.llm.Bpe.wordTable(docs, 200)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Exchange rangepartitioning"), p.take(800))
  }

  test("profile_equidepth: literal-cut binning pass — one nBins-keyed " +
      "aggregate, no range shuffle / global sort of the data (round 11)") {
    // the exact-percentile CUT job runs at plan-construction time (a
    // bounded 7-double artifact); the registered plan is the binning
    // pass only and must stay a narrow projection + tiny aggregate
    val p = plan("profile_equidepth")
    assert(!p.contains("Exchange rangepartitioning"), p.take(800))
    assert(shuffles(p) == 1, s"expected only the bin_id aggregate:\n${p.take(800)}")
  }

  test("llm_global_shuffle, llm_shuffle_pack: the one un-partitioned " +
      "window runs over per-bkt subtotals (<= 65536 rows), not the corpus") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    // the offsets prefix sum orders 16-bit md5 buckets in one task; the
    // rows that reach that task are the bucket aggregate's output
    Seq("llm_global_shuffle", "llm_shuffle_pack").foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf0001).queryExecution
        .executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case other => other
        }
      val global = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(global.size == 1, s"$q:\n$p")
      val single = global.head.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning == SinglePartition => e }
      assert(single.size == 1, s"$q:\n$p")
      val aggKeys = single.head.child.collect {
        case a: HashAggregateExec => a.groupingExpressions.map(_.name) }
      assert(aggKeys.nonEmpty && aggKeys.forall(_ == Seq("bkt")),
        s"$q: the single-partition exchange is not above the bkt " +
          s"aggregate ($aggKeys):\n$p")
    }
  }

  test("llm_merge_upsert: one shuffle, map-side WindowGroupLimit") {
    // MERGE as union + keyed window: the whole snapshot + updates
    // stream through ONE hash exchange on the key, and the rank-1
    // window rewrites to a WindowGroupLimit so map tasks forward at
    // most one candidate per (key, priority) — nothing quadratic, no
    // outer-join double shuffle (MergeSpec pins the same on a fixture)
    val p = plan("llm_merge_upsert")
    assert(shuffles(p) == 1, s"expected one shuffle:\n${p.take(800)}")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("merge_scd2: ONE shuffle feeds both window passes (round 11)") {
    // SCD2 = lag-suppress + lead-close over the SAME (key, seq, tie)
    // window spec; the filter between them preserves distribution and
    // order, so the whole history derivation is one hash exchange on
    // user_id and two pipelined Window operators — the change log is
    // shuffled once, at any scale
    val p = plan("merge_scd2")
    assert(shuffles(p) == 1, s"expected one shuffle:\n${p.take(800)}")
    assert("Window".r.findAllIn(p).length >= 2, p.take(800))
  }

  test("dedup_semantic: pair stage is a cell equi-join — no cartesian, " +
      "in-cell work only (round 11)") {
    // SemDeDup's economics: assignment is a narrow argmax over
    // broadcast centroid literals; ALL pairwise work is confined to an
    // equi-join on cell (within-cell Σ|cell|²/2, bounded by scaling
    // nCells with the corpus) — a cartesian/BNLJ here would be the
    // all-pairs blowup the operator exists to avoid
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("layout_zorder: the cluster pass is exactly one range shuffle") {
    // z-value computation is pure codegen arithmetic; the only data
    // movement is the write-time repartitionByRange — one Exchange
    // rangepartitioning, then a LOCAL sort (no second exchange)
    val p = plan("layout_zorder")
    assert("Exchange rangepartitioning".r.findAllIn(p).length == 1,
      p.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      p.take(800))
  }

  test("text_boilerplate: the removal anti-join broadcasts") {
    // the line-frequency table after the minDf filter is the (small)
    // boilerplate set; the corpus-sized lines stream must anti-join
    // against it WITHOUT shuffling — a BroadcastHashJoin LeftAnti
    val p = plan("text_boilerplate")
    assert(p.contains("BroadcastHashJoin") &&
      (p.contains("LeftAnti") || p.contains("left_anti")),
      s"expected a broadcast anti-join:\n${p.take(1200)}")
  }

  test("text_perplexity: corpus-wide V travels by broadcast") {
    // the 1-row vocabulary count joins the model via a broadcast
    // nested-loop (the only correct shape for a keyless 1-row join) —
    // never a CartesianProduct, never an exchange of the model table
    // keyed on nothing
    val p = plan("text_perplexity")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("events_attribution: the time range rides the user_id equi-join " +
      "as a residual filter, never a nested loop") {
    val p = plan("events_attribution")
    // an equi-key exists, so the planner must pick a hash-keyed join
    // (broadcast at fixture scale, shuffled beyond) with the interval
    // bounds as the join's residual condition — the keyless fallback
    // shapes mean the equi-key was lost
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.take(800))
  }

  test("production simhash rows: the banded pair self-join runs over " +
      "star-collapse survivors, never the raw corpus (r12 weak-flag fix)") {
    // The r11 sf1 rehearsal measured the raw-corpus banded self-join
    // quadratic in the duplication rate (484 s at 10× data). The
    // registered shapes are star-first: every Inner join on the band
    // key must have the keep-min collapse (a LeftAnti join) BELOW it
    // on both sides — i.e. in the printed tree, after the last banded
    // join line there are still two LeftAnti descendants. A revert to
    // the raw shape loses the LeftAnti entirely; hoisting the collapse
    // ABOVE the pair join (filtering pairs after emitting them) would
    // put the LeftAnti before the banded join and fail the order check.
    // dedup_simhash_pairs still exposes the shape in its registered
    // plan; the verified row checkpoints its candidate frame (r13
    // lineage cuts), so its shape is audited on the exact pre-cut
    // production construction instead
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val plans = Seq(
      "dedup_simhash_pairs" -> plan("dedup_simhash_pairs"),
      "dedup_simhash_verified(candidates)" ->
        graft.llm.Dedup.simhashStarFirstFrames(
          docs, "text", "doc_id", 0.5, 6, salted = true)
          ._2.queryExecution.executedPlan.toString)
    plans.foreach { case (q, p) =>
      val banded = "Join \\[bk#\\d+\\], \\[bk#\\d+\\], Inner".r
        .findAllMatchIn(p).map(_.start).toSeq
      assert(banded.nonEmpty, s"$q lost the banded pair join:\n${p.take(600)}")
      val antisAfterLast = "LeftAnti".r.findAllMatchIn(p)
        .count(_.start > banded.max)
      assert(antisAfterLast >= 2,
        s"$q: banded self-join no longer sits above the collapse " +
          s"anti-joins (found $antisAfterLast LeftAnti below)")
    }
  }

  test("multimodal_phash_pairs: candidates flow through the 16-bit " +
      "multiprobe banding, bucket-keyed (r16, the r15 weak-mark fix)") {
    // The first cut banded on the 8 single dHash bytes — 256 buckets
    // per band, so candidates grew ~n²/256 on distinct hashes (the r13
    // simhash cliff replayed on images). The production shape packs
    // the bytes into one 64-bit signature and reuses the simhash
    // 4×16-bit one-bit-flip multiprobe layout: the plan must carry the
    // 16-bit block mask (65535) and the explicit bucket-keyed Exchange
    // the 17× probe explode hides from size estimates.
    val p = plan("multimodal_phash_pairs")
    assert(p.contains("65535"),
      s"phash pairs lost the 16-bit multiprobe block key:\n${p.take(600)}")
    assert("Exchange hashpartitioning\\(bk#\\d+".r.findFirstIn(p).nonEmpty,
      s"phash pairs lost the bucket-keyed Exchange:\n${p.take(600)}")
  }

  test("production minhash pairs: the banded pair self-join runs over " +
      "star-collapse survivors, never the raw corpus (r13, the minhash " +
      "twin of the r12 simhash retirement)") {
    // Same contract as the simhash check above: the banded Inner join
    // on the band key must have the star-collapse (a LeftAnti against
    // the checkpointed drop-id leaf) BELOW it on both sides. A revert
    // to the raw shape loses the LeftAnti; hoisting the collapse above
    // the pair join would reorder the tree and fail the order check.
    // the registered row checkpoints its candidate frame (r13 lineage
    // cuts), so the shape is audited on the exact pre-cut production
    // construction
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val p = graft.llm.Dedup.minhashSurvivorCandidates(
      docs, "text", "doc_id", 64, 16, 0.2, 0.95, 42L)
      .queryExecution.executedPlan.toString
    // minhash band keys are LONGs, so attribute ids print with the L
    // type suffix (bk#9L) — unlike the simhash check above
    val banded = "Join \\[bk#\\d+L\\], \\[bk#\\d+L\\], Inner".r
      .findAllMatchIn(p).map(_.start).toSeq
    assert(banded.nonEmpty,
      s"dedup_minhash_pairs lost the banded pair join:\n${p.take(600)}")
    val antisAfterLast = "LeftAnti".r.findAllMatchIn(p)
      .count(_.start > banded.max)
    assert(antisAfterLast >= 2,
      "dedup_minhash_pairs: banded self-join no longer sits above the " +
        s"collapse anti-joins (found $antisAfterLast LeftAnti below)")
  }

  test("multimodal_bmp_stats: pure codegen projection, zero shuffles") {
    // the BMP pixel path is per-row header/offset arithmetic — any
    // Exchange here means the decode stopped being scan-speed
    val p = plan("multimodal_bmp_stats")
    assert(shuffles(p) == 0, p.take(800))
  }

  test("count-min: the sketch Exchange carries partial-aggregated " +
      "(depth, bucket) cells, and the estimate broadcasts the sketch") {
    import graft.operators.CountMin
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val terms = docs.select(org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.lower(
          org.apache.spark.sql.functions.col("text")), "[^\\p{L}\\p{N}]+"))
      .as("term"))
    val sk = CountMin.sketch(terms, org.apache.spark.sql.functions.col("term"))
    val skPlan = sk.queryExecution.executedPlan.toString
    // ONE shuffle, keyed by the d×w cell — and a partial HashAggregate
    // below it, so each map task ships ≤ d×w rows, never the vocabulary
    assert(shuffles(skPlan) == 1, skPlan.take(600))
    assert(skPlan.contains("partial_count") ||
      skPlan.contains("Partial"), skPlan.take(600))
    val probes = terms.distinct()
    val est = CountMin.estimate(sk, probes, "term")
    val estPlan = est.queryExecution.executedPlan.toString
    assert(estPlan.contains("BroadcastHashJoin") ||
      estPlan.contains("BroadcastExchange"),
      s"sketch side not broadcast:\n${estPlan.take(800)}")
  }

  test("text_count_min tokenizes the corpus once: the term-count " +
      "subtree is shared between the sketch and probe sides (r17 " +
      "verdict item 5)") {
    // The row's exact-probe side and its sketchWeighted side both fold
    // off the SAME groupBy(term) aggregation — after execution the AQE
    // final plan must show the exchange reused (or, equivalently, a
    // single documents scan). Two independent scans would mean the
    // corpus is tokenized twice again.
    val df = SparkEntry.queries("text_count_min")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(p.contains("ReusedExchange") || scans == 1,
      s"term-count subtree not reused ($scans scans):\n${p.take(1200)}")
  }

  test("bm25Index tokenizes the corpus once: postings, df and docLen " +
      "scan the checkpointed (doc, dl, term) blocks, not the text " +
      "(r17 verdict item 5)") {
    // Catalyst alone could not share the subtree (each consumer prunes
    // it differently — df drops the count, the probe join pushes an
    // id-notnull into tf's side — so the lineages stop canonicalizing
    // equal and planned three corpus scans). The build now
    // localCheckpoints the aggregation, the ANN-cells treatment: a
    // probe plan's ONLY documents scan is the query side's.
    val p = plan("text_bm25")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"probe does not scan the checkpointed index:\n${p.take(1200)}")
    val docScans = "documents\\.parquet".r.findAllIn(p).length
    assert(docScans == 1,
      s"expected only the query-side documents scan, got $docScans:\n" +
        p.take(1200))
  }

  test("no registered query plans a CartesianProduct") {
    // MLlib fit queries are excluded: constructing their DataFrame RUNS
    // the fit (CV / TVS / KMeans / PCA / LR — minutes of redundant work
    // for a plan string), their transform plans are the estimators'
    // own, and no fit transform can introduce a cross join
    // similarity_ivf_persisted and the two incremental near-dup twins
    // additionally WRITE persisted artifacts and MATERIALIZE
    // (localCheckpoint) as a side effect of query construction — same
    // exclusion reason; their join shapes are asserted in
    // SimilaritySpec and the bucketed-band-keys tests below/in DedupSpec
    val fits = Set("validation_curves", "predefined_split_fit",
      "dim_reduction_kmeans", "dim_reduction_pca",
      "probability_prediction", "similarity_ivf",
      "similarity_ivf_exhaustive", // same ivfIndex fit at construction
      "similarity_ivf_persisted", "dedup_minhash_incremental",
      "dedup_embedding_incremental",
      "similarity_pq", // seeded per-subspace Lloyd fits at construction
      "similarity_ivfpq", // same: IVF + PQ fits at construction
      // round 11, same side-effect policy: constructing these RUNS a
      // full checkpointed streaming query (the returned frame is a
      // plain parquet read of the sink — no join to audit) ...
      "stream_window_counts", "stream_dedup_keys",
      "stream_merge_snapshot", "stream_sessionize", "stream_attribution",
      "stream_dedup_near", "stream_ivf_append",
      // ... or a full artifact build / evaluator job / Lloyd draw at
      // construction; their (join-free or elsewhere-asserted) shapes
      // gain nothing from re-execution here
      "text_bm25_write", "evaluator_accuracy",
      "dim_reduction_kmeans_lloyd", "dim_reduction_kmeans_lloyd2",
      "text_heavy_hitters_incremental",
      // round 15: same side-effect policy — construction writes the
      // CMS parquet artifact and localCheckpoints; its join shapes
      // (broadcast sketch) are asserted in the CountMin plan test
      "text_count_min_merged")
    (SparkEntry.queries.keySet -- fits).foreach { q =>
      // BroadcastNestedLoopJoin over a broadcast query set is the
      // declared topk shape; an unbounded CartesianProduct never is
      assert(!plan(q).contains("CartesianProduct"), q)
    }
  }

  test("persisted band-key candidate joins plan no history-side Exchange") {
    // The at-scale claim of the registered incremental twins: with the
    // history band keys persisted bucketed by bk, the candidate
    // equi-join's only shuffle is the (small) batch side's — the
    // corpus-sized history scan reuses its ingest-time bucketing.
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val hist = docs.filter(col("doc_id") % 10 < 8)
    val batch = docs.filter(col("doc_id") % 10 >= 8)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cases = Seq(
      ("graft_plan_mh", graft.llm.Dedup.minhashBandKeys(hist),
        graft.llm.Dedup.minhashBandKeys(batch)),
      ("graft_plan_emb",
        graft.llm.Dedup.embeddingBandKeys(
          emb.filter(col("vec_id") % 10 < 8), numTables = 4,
          bitsPerTable = 12, seed = 42L),
        graft.llm.Dedup.embeddingBandKeys(
          emb.filter(col("vec_id") % 10 >= 8), numTables = 4,
          bitsPerTable = 12, seed = 42L)),
      // r16: the image twin — history stores exact 16-bit block keys
      // (4 rows/image), the batch side probes exact+flip keys
      ("graft_plan_ph",
        graft.llm.Multimodal.dHashBandKeys(graft.llm.Multimodal.bmpDHash(
          SparkEntry.bmpFixture(hist), "payload")),
        graft.llm.Multimodal.dHashProbes(graft.llm.Multimodal.bmpDHash(
          SparkEntry.bmpFixture(batch), "payload"))))
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try cases.foreach { case (tbl, histBands, batchBands) =>
      try {
        graft.sources.Sources.writeBucketed(histBands, tbl, "bk",
          numBuckets = 4)
        val cands = batchBands.join(spark.table(tbl), "bk")
        cands.count()
        val plan = cands.queryExecution.executedPlan.toString
        // exactly ONE exchange: the batch side's repartition(bk); the
        // history table scan sits under no Exchange at all
        val exchanges = "Exchange hashpartitioning".r.findAllIn(
          plan.replace("ReusedExchange", "")).length
        assert(exchanges == 1, s"$tbl: want 1 exchange, plan:\n${plan.take(1500)}")
        assert(plan.contains("Bucketed: true"),
          s"$tbl scan is not bucket-read:\n${plan.take(1500)}")
      } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("r17 incremental twins (semantic cells, passage chunks): candidate " +
      "join against the persisted history table plans no history-side " +
      "Exchange") {
    // Same claim as the band-key test above for the two r17 families:
    // the history side persists bucketed by its join key (cell /
    // chunk fingerprint), so the only shuffle in the candidate join is
    // the batch side's. The batch probe is localCheckpoint'ed first so
    // the count pins the JOIN's exchanges, not the probe derivation's.
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val histV = emb.filter(col("vec_id") % 10 < 8)
      .where(col("embedding").isNotNull)
    val index = graft.llm.Similarity.ivfIndexHashInit(histV, nCells = 4)
    val batchCells = graft.llm.Similarity
      .ivfAssign(index, emb.filter(col("vec_id") % 10 >= 8))
      .select(col("neighbor_id").as("vec_id"), col("c_emb").as("e"),
        col("cell"))
      .localCheckpoint(true)
    val batchChunks = graft.llm.Dedup.passageChunkKeys(
        docs.filter(col("doc_id") % 10 >= 8),
        avgChunkBits = 4, window = 8)
      .localCheckpoint(true)
    val cases = Seq(
      ("graft_plan_sem", graft.llm.Dedup.semanticHistCells(index),
        "cell", batchCells),
      ("graft_plan_psg", graft.llm.Dedup.passageChunkKeys(
        docs.filter(col("doc_id") % 10 < 8), avgChunkBits = 4, window = 8),
        "chunk", batchChunks))
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try cases.foreach { case (tbl, histRel, key, probe) =>
      try {
        graft.sources.Sources.writeBucketed(histRel, tbl, key,
          numBuckets = 4)
        val cands = probe.join(spark.table(tbl), key)
        cands.count()
        val plan = cands.queryExecution.executedPlan.toString
        val exchanges = "Exchange hashpartitioning".r.findAllIn(
          plan.replace("ReusedExchange", "")).length
        assert(exchanges == 1,
          s"$tbl: want 1 exchange, plan:\n${plan.take(1500)}")
        assert(plan.contains("Bucketed: true"),
          s"$tbl scan is not bucket-read:\n${plan.take(1500)}")
      } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("layout_bucketed_join: both fact scans bucket-read, sort-merge " +
      "join with ZERO join-side Exchange — the only shuffle in the " +
      "query is the final low-cardinality group-by (r16)") {
    // The at-scale claim of the co-located join row: ingest-time
    // bucketing on the join key makes the repeated fact-fact join
    // shuffle-free — the per-query Exchange both sides would
    // otherwise pay (the dominant cost at 100 TB) is paid once at
    // write time.
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
    val ord = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
    try {
      graft.sources.Sources.writeBucketed(li, "graft_plan_bj_l",
        "l_orderkey", numBuckets = 4)
      graft.sources.Sources.writeBucketed(ord, "graft_plan_bj_o",
        "o_orderkey", numBuckets = 4)
      val q = graft.operators.Relational.orderPrioritySummary(
        spark.table("graft_plan_bj_l"), spark.table("graft_plan_bj_o"))
      q.count()
      val plan = q.queryExecution.executedPlan.toString
      val exchanges = shuffles(plan)
      assert(exchanges == 1,
        s"want exactly the group-by Exchange, got $exchanges:\n${plan.take(1500)}")
      assert(plan.contains("SortMergeJoin"),
        s"merge hint not honored:\n${plan.take(1500)}")
      assert("Bucketed: true".r.findAllIn(plan).length == 2,
        s"a fact scan is not bucket-read:\n${plan.take(1500)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_plan_bj_l")
      spark.sql("DROP TABLE IF EXISTS graft_plan_bj_o")
    }
  }

  test("scans are column-pruned: lineitem reads only what robust_scaling needs") {
    val p = plan("robust_scaling")
    assert(p.contains("ReadSchema"), p.take(400))
    assert(!p.contains("l_tax") && !p.contains("l_shipdate"),
      "robust_scaling scan reads columns it does not use")
  }

  test("layout_partition_prune: the one-type filter becomes a " +
      "PartitionFilter and the scan opens exactly 1 of the 5 " +
      "type-partition directories (r18)") {
    // The at-scale claim of the partition-prune row: at 100 TB the
    // other 4/5 of the corpus is SKIPPED (directories never listed
    // into the scan), not read-and-filtered. Asserted on the exact
    // write-partitioned → filtered-read shape the registered row
    // runs, via the scan node's selected-partition count.
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("event_type"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_plan_pprune_").toString
    try {
      graft.sources.Sources.writePartitioned(ev, path, Seq("event_type"))
      val back = spark.read.parquet(path)
        .filter(org.apache.spark.sql.functions.col("event_type")
          === "purchase")
      val scans = back.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "no file scan in the pruned-read plan")
      assert(scans.head.partitionFilters.nonEmpty,
        "the event_type filter did not reach the partition level")
      val selected = scans.head.selectedPartitions.partitionCount
      assert(selected == 1,
        s"want 1 of 5 partition dirs selected, got $selected")
      // and the data filter is gone from the row level: all rows in
      // the surviving directory qualify by construction
      assert(back.count() ==
        ev.filter(org.apache.spark.sql.functions.col("event_type")
          === "purchase").count())
    } finally SparkEntry.deleteRecursively(new java.io.File(path))
  }
}
