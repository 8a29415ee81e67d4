package graft
import org.json4s._
import org.json4s.jackson.JsonMethods.compact
import BenchHarness.{r4, timedRun}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_QUERIES=a,b,c runs a comma-separated subset — the
    // drift-triage tool: re-run a flagged query SOLO (README rule)
    // without paying the full registry. Subset runs still print the
    // same JSON shape; the drift compare stays meaningful per-query.
    val names = BenchHarness.queryNames(sys.env.get("SPARK_GRAFT_QUERIES")
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)).sorted
    val spark = BenchHarness.session()
    BenchHarness.warmup(spark, sfDir)
    // A failed query is reported as -1 and excluded from the total — it
    // must not masquerade as a fast success (a query that throws
    // instantly would otherwise look like a speedup).
    //
    // Each query runs TWICE and the MIN is reported: single-shot timings
    // on a shared box swung 1.6s→11.6s across rounds on identical code
    // (llm_curate, dedup_exact — sub-2s plans charged 10-19s by
    // transient contention). The min of two runs is the steady-state
    // cost of the plan; both runs are printed under "runs" so any drift
    // between them stays auditable.
    //
    // The 11 baseline-subset queries run THREE times (r13 verdict item
    // 2): the r12→r13 driver runs doubled the subset (9.86→18.37s) on
    // unchanged code — min-of-two no longer absorbs this box's
    // contention for the one number with a hard ≤2× gate, so the gate
    // queries get one extra sample (~+10s total).
    val baselineSet = Set("dim_reduction_kmeans", "add_split_column",
      "validation_curves", "probability_prediction", "dim_reduction_pca",
      "feature_union", "predefined_split_train", "prepare_features",
      "predefined_split_fit", "robust_scaling", "predefined_split_test")
    // 1-minute load average at bench start/end (same JVM, no /proc
    // parsing): persistently high values mean the box was contended and
    // the driver-vs-local gap is environmental, not a regression.
    // The MXBean returns -1.0 where load average is unavailable — emit
    // JSON null rather than a sentinel that reads as "idle box".
    def loadAvg(): JValue = {
      val v = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
      if (v < 0) JNull else r4(v)
    }
    val loadStart = loadAvg()
    case class QueryResult(name: String, sec: Double, ok: Boolean,
      runs: Seq[Double], outRows: Option[Long], streamState: Option[JObject])
    def obj(fs: Seq[(String, JValue)]): JObject = JObject(fs.toList)
    // r16 verdict item 4: the state-operator metrics of the last stream
    // of the query's last run ride into the artifact — state rows vs
    // distinct docs and commit/update time vs wall time,
    // machine-checkable. Only the numbers are kept: a record's SQL
    // executions would pin their shuffle files for the whole bench.
    def timed(name: String, nRuns: Int): QueryResult = {
      val rs = (1 to nRuns).map(_ =>
        timedRun(spark, sfDir, name, SparkEntry.queries(name)))
      QueryResult(name, rs.map(_.sec).min, rs.forall(_.result.isSuccess),
        rs.map(_.sec), rs.flatMap(_.result.toOption).lastOption,
        rs.last.streams.lastOption)
    }
    val results = names.map(n => timed(n, if (baselineSet(n)) 3 else 2))
    val qs = obj(results.map(r =>
      r.name -> (if (r.ok) r4(r.sec) else JInt(-1))))
    val runsJson = obj(results.map(r =>
      r.name -> JArray(r.runs.map(r4).toList)))
    // Per-query output row counts (r16 verdict item 2): the observed
    // count of the last successful run. Failed queries are omitted.
    val outRowsJson = obj(results.filter(_.ok)
      .flatMap(r => r.outRows.map(n => r.name -> JInt(n))))
    // State-operator metrics per stream_* row (r16 verdict item 4);
    // gated on ok like out_rows — a query whose stream completed but
    // whose read-back failed must not ship metrics next to passing rows
    val streamStateJson = obj(results.filter(_.ok)
      .flatMap(r => r.streamState.map(r.name -> _)))
    val failed =
      JArray(results.collect { case r if !r.ok => JString(r.name) }.toList)
    val total = results.collect { case r if r.ok => r.sec }.sum
    // Like-for-like subtotal over the 11 queries the round-1 BASELINE
    // run (36.58s) actually timed — the query set has since grown 6×,
    // so the grand total is not comparable to the baseline total; this
    // field is the apples-to-apples number next to it.
    val baseSub = results.collect {
      case r if r.ok && baselineSet(r.name) => r.sec }.sum
    // The stream_* rows carry ~fixed state-store/checkpoint overhead
    // (26.8s of 95.5s at r11) that would drown the batch trend as more
    // streaming rows land — split the subtotal so round-over-round
    // batch comparisons stay readable (r11 verdict item 7).
    val streamSub = results.collect {
      case r if r.ok && r.name.startsWith("stream_") => r.sec }.sum
    val batchSub = total - streamSub
    // Per-query drift guard (r14 verdict item 2): compare each query's
    // min against the previous round's committed BENCH_LOCAL_r{N-1}
    // .json and flag > 1.5× slowdowns that are also > 0.25 s absolute
    // (sub-second rows swing past 1.5× on pure scheduler noise). The
    // r13→r14 92→110 s creep on UNTOUCHED code was diagnosable only by
    // hand-diffing JSON; this makes it a field in the output. Triage
    // rule (README): re-run flagged queries solo before chasing a
    // regression — contention (high load_avg) flags broadly, a real
    // regression flags the same query reproducibly.
    // Baseline selection (r15 verdict item 3): the newest
    // BENCH_LOCAL_r*.json may be the CURRENT round's own committed
    // artifact — once it's written mid-round, later runs would
    // self-compare and the drift field turns vacuous (r15 shipped
    // "vs":"BENCH_LOCAL_r15.json"). Derive the current round from
    // SPARK_GRAFT_ROUND or, failing that, the newest driver-written
    // CORRECTNESS_r{N}.json (present for round N, so current = N+1),
    // and compare only against files from STRICTLY EARLIER rounds.
    val files = Option(new java.io.File(".").listFiles())
      .getOrElse(Array.empty[java.io.File])
    // the round is the _r<N>.json suffix ONLY — an all-digits strip
    // would fold family digits in (BENCH_SF1_r16 → "116", so the sf1
    // prior always looked "newer" than the current round and the
    // family-aware drift read null; caught on the first r17 sf1 run)
    def roundNum(f: java.io.File): Int =
      "_r(\\d+)\\.json$".r.findFirstMatchIn(f.getName)
        .map(_.group(1).toInt).getOrElse(0)
    val currentRound: Option[Int] =
      sys.env.get("SPARK_GRAFT_ROUND")
        .flatMap(s => scala.util.Try(s.toInt).toOption)
        .orElse(files
          .filter(_.getName.matches("CORRECTNESS_r\\d+\\.json"))
          .map(roundNum).sorted.lastOption.map(_ + 1))
    // Scale-factor-aware family (r16 verdict item 1): an sf1 run compared
    // against BENCH_LOCAL (sf0.1) ships ~80 vacuous cross-SF flags (the
    // committed r16 sf1 artifacts did exactly that). Pick the prior file
    // from the SAME artifact family, derived from the sf dir the same way
    // the artifacts are named: /tmp/sf1_lowdup → BENCH_SF1_LOWDUP,
    // /tmp/sf1 → BENCH_SF1, anything else (the driver/local sf0.1 dirs)
    // → BENCH_LOCAL. No same-family prior → "drift": null, never a
    // cross-family compare.
    // Family membership is an EXACT basename match (r17 advice #3): the
    // old fallthrough mapped any unrecognized dir (sf2, sf10, a future
    // sf5_lowdup) to BENCH_LOCAL, silently re-introducing the cross-SF
    // drift compare the family split exists to prevent. Unknown basename
    // → no family → "drift": null plus a stderr warning, never a guessed
    // denominator.
    val family: Option[String] = new java.io.File(sfDir).getName match {
      case "sf0.1" => Some("BENCH_LOCAL")
      case "sf1" => Some("BENCH_SF1")
      case "sf1_lowdup" => Some("BENCH_SF1_LOWDUP")
      case other =>
        System.err.println(s"[bench] sf dir basename '$other' matches no " +
          "known artifact family (sf0.1 -> BENCH_LOCAL, sf1 -> BENCH_SF1, " +
          "sf1_lowdup -> BENCH_SF1_LOWDUP); drift compare disabled " +
          "for this run")
        None
    }
    val priorFile = family.flatMap { fam =>
      files
        .filter(_.getName.matches(fam + "_r\\d+\\.json"))
        .filter(f => currentRound.forall(roundNum(f) < _))
        .sortBy(roundNum)
        .lastOption
    }
    val priorText = priorFile.map(f => java.nio.file.Files.readString(f.toPath))
    def prior(key: String): Map[String, Double] =
      priorText.map(BenchHarness.numObj(_, key)).getOrElse(Map.empty)
    val priorQueries = prior("queries")
    // Vacuous-prior guard (r18 review): a prior file that EXISTS but
    // parses to zero queries (tail-truncated capture losing the
    // "queries" object, or a summary-only artifact) must not ship
    // "drift":{"vs":...,"flagged":{}} — the r15/r16 failure where a
    // real regression hid behind a parse-failed baseline. Treat it as
    // NO compare, loudly.
    val priorVacuous = priorFile.isDefined && priorQueries.isEmpty
    if (priorVacuous)
      System.err.println(s"[bench] prior ${priorFile.get.getName} parsed " +
        "to ZERO queries (truncated or summary-only artifact?); " +
        "drift compare disabled for this run")
    val priorUsable = priorFile.filter(_ => !priorVacuous)
    val priorOutRows = prior("out_rows")
    // Composite drift rule (r17 verdict item 4): where BOTH rounds carry
    // a positive out_rows for the query, a raw-seconds flag must ALSO
    // hold on seconds-per-output-row — output-volume growth (fixture or
    // dup-rate changes) then clears itself instead of consuming a solo
    // re-run slot (the dedup_simhash_verified closure did exactly this
    // arithmetic by hand across r15-r17). Queries without out_rows on
    // either side keep the raw-seconds rule unchanged.
    def perRowHolds(name: String, sec: Double, priorSec: Double): Boolean =
      (results.find(_.name == name).flatMap(_.outRows),
        priorOutRows.get(name)) match {
        case (Some(out), Some(pOut)) if out > 0 && pOut > 0 =>
          sec / out > (priorSec / pOut) * 1.5
        case _ => true // no per-row evidence on both sides: raw rule decides
      }
    val drifted = results.collect {
      case r if r.ok && priorQueries.get(r.name).exists(p =>
        p > 0 && r.sec > p * 1.5 && r.sec - p > 0.25 &&
          perRowHolds(r.name, r.sec, p)) =>
        (r.name, r.sec / priorQueries(r.name))
    }.sortBy(-_._2)
    // Automated drift triage (r16 verdict item 3): every flag this far has
    // traced to box contention via MANUAL solo re-runs (the README rule) —
    // run that protocol automatically so the committed artifact carries
    // the evidence itself. After the full pass, each flagged query is
    // re-timed twice back-to-back with nothing else running in the
    // session; min of two is reported under "solo". A flag whose solo min
    // drops back under the 1.5× bar was contention; one that reproduces
    // solo is a real regression. Capped at 12 queries (a healthy run
    // flags ≤ a handful; a broad flag-out is contention by definition and
    // the first 12 solo numbers prove it) — the cap is recorded as
    // "solo_skipped" so truncation is never silent.
    val soloCap = 12
    // a solo run that THROWS must not report its elapsed-until-
    // exception as a legitimate fast min (the triage would read a
    // crash as "contention, recovered") — failed solo = -1, the same
    // failure sentinel the queries map uses
    val soloRuns: Seq[(String, Double)] = drifted.take(soloCap).map {
      case (n, _) =>
        val r = timed(n, 2)
        n -> (if (r.ok) r.sec else -1.0)
    }
    val driftJson = priorUsable.fold[JValue](JNull) { f =>
      obj(Seq("vs" -> JString(f.getName),
        "flagged" -> obj(drifted.map { case (n, ratio) => n -> r4(ratio) }),
        "solo" -> obj(soloRuns.map { case (n, s) => n -> r4(s) }),
        "solo_skipped" -> JInt(math.max(0, drifted.size - soloCap))))
    }
    // A flag whose automated solo re-run came back UNDER the flag
    // predicate was contention, not regression — count those so the
    // summary line (which cannot carry the full solo map) stays
    // faithful: drift_flagged minus drift_solo_cleared is the number
    // of flags still standing after in-artifact triage.
    val soloCleared = soloRuns.count { case (n, s) =>
      s >= 0 && priorQueries.get(n).exists(p =>
        !(s > p * 1.5 && s - p > 0.25))
    }
    // headline fields appear BOTH first and last: the driver's capture
    // window has truncated the line from the front (r9), so the tail
    // repeats value/baseline_subset to keep the gate numbers evidenced
    // either way
    val loadEnd = loadAvg()
    val headline = Seq("value" -> r4(total), "unit" -> JString("sec"))
    val subtotals = Seq("total_sec" -> r4(total),
      "baseline_subset_sec" -> r4(baseSub),
      "streaming_subtotal_sec" -> r4(streamSub),
      "batch_subtotal_sec" -> r4(batchSub))
    val counts = Seq("n_queries" -> JInt(results.size),
      "n_failed" -> JInt(results.count(!_.ok)))
    val sf = "sf" -> JString(sfDir)
    val loads = Seq("load_avg_start_1m" -> loadStart,
      "load_avg_end_1m" -> loadEnd)
    println(compact(obj(Seq("metric" -> JString("total")) ++ headline ++ Seq(
      "baseline_subset" -> r4(baseSub), "streaming_subtotal" -> r4(streamSub),
      "batch_subtotal" -> r4(batchSub), "load_avg_start" -> loadStart,
      "load_avg_end" -> loadEnd, "drift" -> driftJson, "queries" -> qs,
      "out_rows" -> outRowsJson, "stream_state" -> streamStateJson,
      "runs" -> runsJson, "failed" -> failed, sf) ++ counts ++ subtotals ++
      loads)))
    // Compact summary line AFTER the full artifact (r17 verdict item 2):
    // the driver's fixed-size tail capture cuts the ~20 KB artifact line
    // mid-stream (BENCH_r16/r17 read "parsed": null — only the
    // tail-ordered scalars survived). This line is a few hundred bytes,
    // sits entirely inside any tail window, and is a complete JSON
    // object a line-wise json.loads can parse. It repeats the headline
    // scalars only; the full evidence (runs/out_rows/stream_state/drift
    // detail) stays on the artifact line above. The drift gate is
    // tri-state (r18 review): drift_checked says whether a usable prior
    // was compared at all (false reads as "no compare ran", never as
    // "clean"), and drift_solo_cleared subtracts the flags the
    // in-artifact solo re-runs already exonerated as contention.
    println(compact(obj(Seq("metric" -> JString("summary")) ++ headline ++
      subtotals ++ counts ++ Seq(
      "drift_checked" -> JBool(priorUsable.isDefined),
      "drift_flagged" -> JInt(drifted.size),
      "drift_solo_cleared" -> JInt(soloCleared), sf) ++ loads)))
    spark.stop()
  }
}
