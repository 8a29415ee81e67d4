package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.features._
import graft.llm._
import graft.operators.{Events, Profile, RangeJoin, Relational, Sketches, Skew}
import graft.sources.Sources
import graft.streaming.StreamOps
import graft.SparkEntry._

/** Relational / events / profiling / layout operators (tpc-h shapes, sessionization, as-of and range joins, sketch artifacts, skew handling, scd2, bucketing, z-order) — one slice of [[SparkEntry.queries]].
  *
  * Registration bodies are the pre-split [[SparkEntry]] map entries
  * moved VERBATIM (r16 verdict item 7: the per-family OracleSql file
  * pattern applied to the query registry, which had regrown to 3,200+
  * lines). Shared fixtures/harnesses stay on [[SparkEntry]] as
  * private[graft] members, wildcard-imported here, so the bodies did
  * not change; [[SparkEntry.queries]] assembles the slices and pins
  * key-disjointness. */
private[graft] object EntryQueriesOps {
  // Seq, not Map (r17 advice #5): a key accidentally registered twice
  // in ONE literal would silently last-wins inside a Map before any
  // disjointness check could see it; as a Seq the duplicate survives
  // to SparkEntry.queries' require, which fails loudly.
  def entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ------------------------------------------ §2.2 engine primitives
    // composed at scale: pushed-down date filter, per-order pre-agg,
    // two key joins, two broadcast dims, low-cardinality rollup.
    "revenue_by_nation" -> ((s, dir) =>
      Relational.revenueByNation(
        lineitem(s, dir),
        Sources.parquetTable(s, dir, "orders"),
        customer(s, dir),
        Sources.parquetTable(s, dir, "nation"),
        Sources.parquetTable(s, dir, "region"))),

    // ------------------------------------------------- §7 skew handling
    // The merged result is salt-independent, so DuckDB computes it as a
    // plain GROUP BY — oracle-exact despite the nondeterministic salt.
    "skew_salted_agg" -> ((s, dir) =>
      Skew.saltedAgg(events(s, dir), Seq("event_type"),
        partial = count(lit(1)), merge = p => sum(p),
        outputCol = "n_events")),
    // Salted skew JOIN on a planted hot key: 1/4 of lineitem is remapped
    // to part key 1 (a power-law fact side), then joined against part
    // through the composite (key, salt) — the hot key's rows spread
    // over 8 salt buckets instead of one reducer. The salt is dropped
    // and results are salt-independent, so DuckDB's oracle is the PLAIN
    // join on the same remap — oracle-exact despite the
    // nondeterministic salt routing. At fixture scale Catalyst
    // correctly BROADCASTS the 8×|part| replicated dim (a broadcast
    // join is skew-immune, so the salt is a no-op there); the
    // non-broadcastable-dim shape this operator exists for — both
    // sides shuffling on the composite (key, salt) — is asserted in
    // SkewSpec with the broadcast threshold disabled.
    "skew_salted_join" -> ((s, dir) => {
      val hot = lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_orderkey") % 4 === 0, lit(1L))
          .otherwise(col("l_partkey")).as("p_partkey"))
      val dim = Sources.parquetTable(s, dir, "part")
        .select("p_partkey", "p_brand")
      Skew.saltedJoin(hot, dim, Seq("p_partkey"), saltBuckets = 8)
    }),

    // SCD2 version history (round 11): the events stream read as a
    // per-user change log of event_type — each run of equal types is
    // one version with a [valid_from, valid_to) interval, open for the
    // latest. event_id breaks seq ties so interval bounds are total-
    // order deterministic; timestamps formatted for the driver diff
    // like events_sessionize.
    "merge_scd2" -> ((s, dir) =>
      operators.Merge.scd2(
        events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
          col("event_type")),
        key = "user_id", seqCol = "ts", attrCols = Seq("event_type"),
        tieBreak = Seq("event_id"))
        .withColumn("valid_from",
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .withColumn("valid_to",
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))),
    // Incremental SCD2 maintenance (round 11): history built from the
    // first ~20 days, the remaining days folded in as the nightly
    // batch — and the result must equal the FULL-log rebuild, so the
    // oracle is merge_scd2's twin VERBATIM (the incremental-equals-
    // batch contract, proven under the gate like the dedup/ANN
    // incrementals). (user_id, ts) is unique in the fixture at every
    // SF, so ts alone is a total order and the compacted history
    // needs no tie column (the scd2Incremental precondition).
    "merge_scd2_incremental" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
      val cut = lit("2024-01-21 00:00:00").cast("timestamp")
      val hist = operators.Merge.scd2(ev.filter(col("ts") < cut),
        key = "user_id", seqCol = "ts", attrCols = Seq("event_type"))
      operators.Merge.scd2Incremental(hist,
        ev.filter(col("ts") >= cut),
        key = "user_id", seqCol = "ts", attrCols = Seq("event_type"))
        .withColumn("valid_from",
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .withColumn("valid_to",
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    }),

    // ------------------------------------------------ §7 data layout
    // Z-order (Morton) clustering: 16-bit grid over (user_id mod 2^16,
    // linearly quantized value), bit-interleaved with the 4-step
    // shift-mask spread, range-partitioned + sorted for write. The
    // z-value is pure integer/IEEE arithmetic, so DuckDB recomputes it
    // bit-for-bit with the same masks. Rows are unchanged by the
    // layout pass — the oracle checks the z math; ZOrderSpec checks
    // the partition-range property the layout exists for.
    "layout_zorder" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"),
        pmod(col("user_id"), lit(65536L)).as("x"),
        operators.ZOrder.quantize16(col("value"), 0.0, 500.0).as("y"))
      operators.ZOrder.layout(ev, "x", "y", numFiles = 8)
        .select("event_id", "x", "y", "zval")
    }),

    // Partition-PRUNED scan (round 18 — the third classic layout
    // lever after bucketing and z-order): events written PARTITIONED
    // by event_type at ingest (low-cardinality, 5 directories — the
    // writePartitioned contract), then a one-type query reads back.
    // Catalyst turns the equality filter into a PartitionFilter, so
    // the scan never OPENS the other 4/5 of the files — at 100 TB the
    // bytes are skipped, not read-and-dropped (PlanAuditSpec pins
    // selectedPartitions == 1 on this exact shape). The registered
    // row prices write+filtered-read honestly (the layout_bucketed_
    // join ingest convention); the oracle is the plain filtered
    // aggregate — physical layout is correctness-invisible.
    "layout_partition_prune" -> ((s, dir) => scratch(s) { sc =>
      val ev = events(s, dir).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      Sources.writePartitioned(ev, s"${sc.dir}/ev", Seq("event_type"))
      s.read.parquet(s"${sc.dir}/ev")
        .filter(col("event_type") === "purchase")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // Co-located fact-fact join over ingest-time bucketing: lineitem
    // and orders both written bucketed on their order key, then the
    // forced sort-merge join plans ZERO Exchange on either side — the
    // per-query join shuffle (the dominant cost of a repeated fact-
    // fact join at 100 TB) is paid once at ingest. PlanAuditSpec pins
    // the shape; the oracle is the plain join+group-by, bucketing-
    // invisible by construction. The registered row's cost is honest:
    // it INCLUDES the two bucketed writes (the ingest-side price).
    "layout_bucketed_join" -> ((s, dir) => scratch(s) { sc =>
      val li = lineitem(s, dir)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
      val ord = Sources.parquetTable(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority")
      val tl = sc.bucketed("graft_bjoin", li, "l_orderkey")
      val to = sc.bucketed("graft_bjoin", ord, "o_orderkey")
      operators.Relational.orderPrioritySummary(s.table(tl), s.table(to))
    }),
    // ... and the STEADY-STATE twin: same join, but over bucketed
    // tables written once per session and dir — the cost a 100 TB deployment
    // actually pays per query once ingest has bucketed the facts
    // (the text_bm25_write / text_bm25_persisted split applied to
    // layout). Shares layout_bucketed_join's oracle verbatim.
    "layout_bucketed_join_steady" -> ((s, dir) => {
      val (tl, to) = cachedBucketedJoinTables(s, dir)
      operators.Relational.orderPrioritySummary(s.table(tl), s.table(to))
    }),

    // --------------------------------------------------- event/stream ops
    // Timestamps are projected to formatted strings in the registered
    // shape: the driver's pandas hash is datetime-unit-sensitive (Spark
    // parquet reads back as ns, DuckDB results as us) — equal wall
    // times would still hash-mismatch. Operators keep native timestamps.
    "events_window" -> ((s, dir) =>
      StreamOps.windowedEventCounts(events(s, dir))
        .withColumn("window_start",
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("window_end",
          date_format(col("window_end"), "yyyy-MM-dd HH:mm:ss"))),
    "events_sessionize" -> ((s, dir) =>
      Events.sessionize(events(s, dir))
        .withColumn("ts",
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))),
    // Session summary — the aggregate sessionizeStream maintains live,
    // batch-driven for the oracle; rides sessionize's single window
    // shuffle (no second Exchange, PlanAuditSpec-checkable clustering).
    "events_sessions" -> ((s, dir) =>
      Events.sessions(events(s, dir))
        .withColumn("session_start",
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .withColumn("session_end",
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))),
    "events_props_agg" -> ((s, dir) =>
      Events.propsAgg(events(s, dir))),
    // As-of join: each purchase picks the user's latest click at or
    // before it. Oracle = DuckDB's native ASOF LEFT JOIN over the
    // same sides (right ties pre-collapsed to max(value) there — the
    // Spark side resolves them in the window sort, same winner).
    "events_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      Events.asofJoin(
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value"),
        ev.filter(col("event_type") === "click"),
        Seq("user_id"), "ts", Seq("value"))
        .withColumn("ts",
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .withColumn("asof_time",
          date_format(col("asof_time"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    }),
    // Bucketed range join: every click within 6h after a purchase by
    // the same user. Times compared as epoch micros on both engines
    // (integer domain — no timestamp-unit or truncation hazards);
    // bucket width = the window span, so each interval lands in ≤ 2
    // buckets and the plan is a pure equi-join (no nested loop —
    // PlanAuditSpec asserts it).
    "events_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          unix_micros(col("ts")).as("click_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_micros(col("ts")).as("lo_us"),
          (unix_micros(col("ts")) + lit(21600000000L)).as("hi_us"))
      RangeJoin.pointInInterval(clicks, purchases, Seq("user_id"),
        "click_us", "lo_us", "hi_us", bucketWidth = 21600000000L)
        .select("user_id", "click_id", "purchase_id", "click_us", "lo_us")
    }),

    // Stream-stream interval join, batch-driven for the oracle: every
    // (click, purchase) pair per user with the purchase inside
    // [click, click + 60m]. The SAME function runs watermarked on two
    // unbounded streams (StreamingSpec pins stream == batch and the
    // watermark bound); here the equi-key makes it a plain hash join
    // with a residual time filter — no bucketing, no nested loop.
    "events_attribution" -> ((s, dir) => {
      val ev = events(s, dir)
      StreamOps.attributionJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        horizonMinutes = 60)
        .withColumn("click_ts",
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .withColumn("purchase_ts",
          date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    }),

    // TPC-H Q3 shape: top-10 open BUILDING orders by outstanding
    // revenue. Global top-k plans as TakeOrderedAndProject (per-task
    // k-row heap + driver merge — no full sort at any scale).
    "orders_top_revenue" -> ((s, dir) =>
      Relational.topRevenueOrders(lineitem(s, dir),
        Sources.parquetTable(s, dir, "orders"), customer(s, dir))),

    // TPC-H Q18 shape: large-volume buyers. The quantity HAVING runs on
    // the pre-aggregated per-order frame BEFORE any join — the rare
    // qualifying keys are all the joins ever see.
    "orders_large_customers" -> ((s, dir) =>
      Relational.largeOrderCustomers(lineitem(s, dir),
        Sources.parquetTable(s, dir, "orders"), customer(s, dir))),

    // Cardinality profile: exact countDistinct here (the oracle path);
    // the registered API's approx=true flips to HyperLogLog++ sketches
    // for the at-scale shape (EventsSpec pins its error bound).
    "events_cardinality" -> ((s, dir) =>
      Events.cardinality(events(s, dir))),

    // Persisted mergeable HLL distinct-count artifact end-to-end
    // (round 14, the FrequentItems persisted-sketch workflow for
    // cardinality): events split by event_id parity, the "history"
    // half sketched per event_type (DataSketches hll_sketch_agg) and
    // ROUND-TRIPPED through a parquet artifact, the "new batch" half
    // sketched fresh, both merged by hll_union_agg — and the merged
    // estimate GATED against the exact distinct over the whole corpus
    // (|est−exact| ≤ 3 %·exact, ~4σ at lgK=14; these slice sizes sit
    // in HLL's exact sparse mode). n_events rides the artifact and
    // must be EXACT. The estimate has no SQL twin (DataSketches), so
    // the driver-visible row is the gate plus the exactly-checkable
    // volume — the similarity_ivf_recall gated-number pattern.
    "events_cardinality_sketch" -> ((s, dir) => scratch(s) { sc =>
      val ev = events(s, dir)
      val hist = Events.cardinalitySketch(
        ev.filter(col("event_id") % 2 === 0))
      hist.write.mode("overwrite").parquet(s"${sc.dir}/sk")
      val reloaded = s.read.parquet(s"${sc.dir}/sk")
      val fresh = Events.cardinalitySketch(
        ev.filter(col("event_id") % 2 === 1))
      val est = Events.cardinalityEstimate(
        Events.cardinalityMerge(reloaded.unionByName(fresh)))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_events"), col("n_exact"),
          (abs(col("n_users_est") - col("n_exact")) <=
            col("n_exact") * lit(0.03)).as("within_tol"))
    }),

    // The SAME persisted split/round-trip/merge workflow on the KMV
    // bottom-k sketch (round 14) — and the reason both exist: KMV is
    // deterministic AND merge-order-independent in every regime (min-k
    // of a set), so unlike the HLL row's tolerance boolean, the
    // APPROXIMATE estimate itself is in the output, restated
    // bit-exactly by a DuckDB oracle that re-derives the sketch from
    // raw rows ((k−1)·2⁶⁰/h₍ₖ₎ over the repo's md5 hash recipe). k=64
    // keeps sf0.01 (150 users/type) in the approximate regime — the
    // estimator is what's pinned, not the exact fallback.
    "events_cardinality_kmv" -> ((s, dir) => scratch(s) { sc =>
      val ev = events(s, dir)
      val hist = Sketches.kmvSketch(
        ev.filter(col("event_id") % 2 === 0), "event_type", "user_id")
      hist.write.mode("overwrite").parquet(s"${sc.dir}/sk")
      val fresh = Sketches.kmvSketch(
        ev.filter(col("event_id") % 2 === 1), "event_type", "user_id")
      val merged = Sketches.kmvMerge(
        s.read.parquet(s"${sc.dir}/sk").unionByName(fresh), "event_type")
      val exact = ev.filter(col("user_id").isNotNull)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      Sketches.kmvEstimate(merged, "event_type")
        .join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_rows").as("n_events"),
          col("n_distinct_est").as("n_users_est"), col("n_exact"))
    }),

    // KMV set algebra (round 14): |click ∩ view| estimated from two
    // 64-entry sketches alone — the k smallest hashes of a sketch
    // union are the union's sketch, and the fraction present in both
    // sides estimates the Jaccard (Beyer et al., SIGMOD'07). Every
    // estimate (per-side, union, Jaccard, intersection) is a Double
    // the oracle re-derives bit-exactly; the exact intersection rides
    // along for the honest-error read. The only join of corpus-sized
    // data is the exact leg; the sketch legs are a 1×1 of KB rows.
    "events_overlap_kmv" -> ((s, dir) => {
      val ev = events(s, dir)
      val sks = Sketches.kmvSketch(
        ev.filter(col("event_type").isin("click", "view")),
        "event_type", "user_id")
      val exact = ev.filter(col("event_type") === "click" &&
          col("user_id").isNotNull).select("user_id")
        .intersect(ev.filter(col("event_type") === "view" &&
          col("user_id").isNotNull).select("user_id"))
        .agg(count(lit(1)).as("n_inter_exact"))
      Sketches.kmvOverlap(sks, "event_type", "click", "view")
        .crossJoin(exact) // 1×1
    }),

    // TPC-H Q1 shape: the canonical scan → partial agg → final agg
    // rollup onto a handful of groups. Sums to cents, avgs to 6dp.
    "lineitem_pricing_summary" -> ((s, dir) =>
      Relational.pricingSummary(lineitem(s, dir))),

    // Closed-form per-group OLS (the SQL-standard REGR_ family) —
    // model fitting as ONE partial-aggregated pass of six sufficient
    // sums, the cheapest fit shape at 100 TB. Formulas spelled
    // operand-for-operand in both engines (no built-in regr_slope:
    // its internal update order is engine-private), 6dp-rounded.
    "lineitem_price_regression" -> ((s, dir) =>
      graft.operators.Regression.linearFit(lineitem(s, dir),
        Seq("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_returnflag"))),

    // Conversion funnel: first click → first purchase at-or-after it,
    // converted within 1h. One Exchange end to end (the groupBy reuses
    // the window's user_id partitioning). Timestamps as micro strings
    // (driver-diff parity); null first_to stays null in both engines.
    "events_funnel" -> ((s, dir) =>
      Events.funnel(events(s, dir))
        .withColumn("first_from",
          date_format(col("first_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .withColumn("first_to",
          date_format(col("first_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))),
    // First-order Markov transition counts over per-user time-ordered
    // streams; __end__ closes each user's chain. One window shuffle +
    // one partial-aggregated count.
    "events_transitions" -> ((s, dir) =>
      Events.transitions(events(s, dir))),
    // Trailing 1-hour RANGE-frame rolling volume/value per type — the
    // registry's RANGE-frame coverage (exact integer epoch-µs key, so
    // frames and peer groups are engine-identical).
    "events_rolling_window" -> ((s, dir) =>
      Events.rollingWindow(events(s, dir))),
    // Weighted PageRank over the transition graph (GraphX
    // staticPageRank semantics, edge weight = observed next-step
    // share), 3 iterations UNROLLED with 6dp floor-rounding between
    // steps — the kmeans_lloyd treatment applied to the canonical
    // iterative GRAPH algorithm: both engines iterate on
    // bit-identical rank vectors, so the whole trajectory
    // (pr_0..pr_3) is hash-exact. floor(x·1e6+0.5)/1e6 is the
    // half-boundary-safe rounding (ranks are short rationals —
    // exactly the regime where round() can disagree cross-engine).
    "events_pagerank" -> ((s, dir) =>
      Events.pageRank(events(s, dir), damping = 0.85, iters = 3)),
    // Daily ingest-volume anomaly screen: per-type day counts scored
    // by the type's across-days z (6dp-rounded pre-threshold).
    "events_volume_anomaly" -> ((s, dir) =>
      Events.volumeAnomaly(events(s, dir))),

    // K-step ordered funnel (view → click → purchase, 1-day horizon):
    // each step's earliest qualifying time chains off the previous
    // step's — the oracle restates the chain as K-1 LEFT JOIN + MIN
    // stages.
    "events_funnel_steps" -> ((s, dir) => {
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      Events.sequenceFunnel(events(s, dir),
        Seq("view", "click", "purchase"), horizonSec = 86400L)
        .withColumn("t1", date_format(col("t1"), fmt))
        .withColumn("t2", date_format(col("t2"), fmt))
        .withColumn("t3", date_format(col("t3"), fmt))
    }),

    // ROLLUP over the star join: nation rows + region subtotals +
    // grand total in one Expand-fed aggregate; grouping_id = DuckDB's
    // 2*GROUPING(r)+GROUPING(n) bit order.
    "revenue_rollup" -> ((s, dir) =>
      Relational.revenueRollup(
        lineitem(s, dir),
        Sources.parquetTable(s, dir, "orders"),
        customer(s, dir),
        Sources.parquetTable(s, dir, "nation"),
        Sources.parquetTable(s, dir, "region"))),

    // Pivot with an explicit value list = per-type conditional counts,
    // one aggregate, fixed schema (COUNT FILTER twin in DuckDB).
    "events_pivot" -> ((s, dir) => Events.typePivot(events(s, dir))),

    // Day-N retention triangle: cohort by first signup day, distinct
    // active users per (cohort_day, day_offset). Exact countDistinct
    // here (oracle path); approx=true is the HLL at-scale twin.
    "events_retention" -> ((s, dir) => Events.retention(events(s, dir))),

    // SUMMARIZE-style column profiler, exact path (oracle parity).
    // o_status_sparse plants nulls in-flight (TPC-H has none) so the
    // n_nulls column is non-vacuous; the CASE is mirrored literally in
    // the oracle. profileApprox is the documented at-scale twin
    // (ProfileSpec pins its rsd bound + Expand-free plan).
    // Fixed-width 20-bin histogram of l_extendedprice: exact-MIN/MAX
    // bounds, floor((x−min)/width) assignment (single IEEE ops — no
    // summation, so bin membership is engine-identical), empty bins
    // present, max value closed into the last bin.
    "profile_histogram" -> ((s, dir) =>
      Profile.histogram(lineitem(s, dir), "l_extendedprice", nBins = 20)),

    "profile_table" -> ((s, dir) =>
      Profile.profile(
        Sources.parquetTable(s, dir, "orders").withColumn(
          "o_status_sparse",
          when(col("o_orderkey") % 7 === 0, lit(null: String))
            .otherwise(col("o_orderstatus"))),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_orderdate", "o_status_sparse"))),

    // Equi-DEPTH histogram: 8 buckets cut at exact octile quantiles of
    // l_extendedprice in integer CENTS — the integer domain makes every
    // interpolated cut an exact multiple of 1/8 in IEEE double, so the
    // (x > cut) bin rule is bit-identical across engines with NO
    // rounding anywhere in the assignment (Profile.equidepth scaladoc;
    // the GK approxQuantile scale path sits behind exact=false, the
    // robust_scaling Q5 convention).
    "profile_equidepth" -> ((s, dir) =>
      Profile.equidepth(
        lineitem(s, dir).select(
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents")),
        "cents", nBins = 8)),

    // PSI distribution drift between the first and second time halves
    // of events.value: 10 equi-width bins, eps-floored shares,
    // (p_a−p_b)·ln(p_a/p_b) per bin + the total — the ingest-QA
    // drift monitor (Σ < 0.1 stable, > 0.25 drifted).
    "events_value_drift" -> ((s, dir) =>
      Profile.psiDrift(events(s, dir), "value")),

    // Join-key skew profile: the salting decision's input (max/avg
    // ratio + top-1/top-10 mass shares) from one partial-aggregated
    // key count + a TakeOrdered top-10 leg — measured BEFORE a
    // 100 TB shuffle, not inferred from its stragglers.
    "profile_key_skew" -> ((s, dir) =>
      Profile.keySkew(events(s, dir), "user_id")),

    // Referential-integrity orphan scan. TPC-H guarantees every
    // l_orderkey resolves, so orphans are planted in-flight (every
    // 97th order key re-keyed +900M — the decontaminate planting
    // recipe) and BOTH engines must flag exactly those rows.
    "quality_orphans" -> ((s, dir) => {
      val li = lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val withPlanted = li.unionByName(
        li.filter(col("l_orderkey") % 97 === 0)
          .select((col("l_orderkey") + lit(900000000L)).as("l_orderkey"),
            col("l_linenumber"), col("l_quantity")))
      Relational.orphans(withPlanted,
        Sources.parquetTable(s, dir, "orders"), "l_orderkey", "o_orderkey")
    }),
  )
}
