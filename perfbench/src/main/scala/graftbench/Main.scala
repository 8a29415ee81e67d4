package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.llm.Dedup
import graft.sources.Sources
import graft.streaming.{BandedShingleRow, StreamOps}

/** The benchmark harness: one SparkSession in this JVM, the workload's
  * steps driven through the library's public entry points, every call
  * timed from outside. Writes `result.json` (and, traced, `spans.jsonl`
  * and `where_time_goes.md`) into `--out`; `perfbench/run.py` checks the
  * outputs and prints the metrics.
  *
  * Arguments: --workload W --data DIR --seconds S --trace 0|1
  * --out DIR --cores N */
object Main {

  // Registry steps per workload, in order. Each workload's set-up plus
  // several timed passes has to fit the benchmark's per-run time budget
  // on a 4-core box, so this is a subset of the full feature pipeline
  // (see perfbench/README.md for what was left out).
  val FeatureSteps = Seq("prepare_features", "robust_scaling",
    "probability_prediction", "add_split_column").map("features" -> _) ++
    Seq("events_sessionize", "events_funnel", "skew_salted_join")
      .map("operators" -> _)
  val IngestSteps = Seq("llm" -> "ingest_dedup", "sources" -> "ingest_write",
    "streaming" -> "ingest_stream_leg")
  /** ingest_incremental's pipeline_s is the time of this many consecutive
    * batches. */
  val IngestPassBatches = 3
  /** Fewest timed units (pipeline passes, ingest batches) behind a run's
    * figures: about 15 s of work on a 4-core box, so a run on a busy
    * machine still takes its median over as many units, at the same
    * point of the JVM's warm-up, as one on a quiet machine. A traced run
    * needs this many of each kind, untraced and traced. */
  def minUnits(ingest: Boolean, traced: Boolean): Int =
    if (traced) 3 else 5
  /** Untimed units run in set-up after the first one (the check pass,
    * ingest's first batch). A JVM's first units run slower while the JIT
    * compiles the hot paths (see `run.py` for the JIT settings): on a
    * 4-core box the first ingest batch took 5.7 s and the next ones about
    * 3.3 s, and the first pipeline pass (the check pass) took 10 s, the
    * next ones about 3.3 s. */
  val WarmUnits = 2

  def stepsOf(w: String): Seq[(String, String)] = w match {
    case "features_analytics" => FeatureSteps
    case "ingest_incremental" => IngestSteps
    case other => sys.error(s"unknown workload $other")
  }

  // ---- run state -------------------------------------------------------
  var spark: SparkSession = _
  val storage = new StorageTracker
  var tracer: Tracer = _
  @volatile var tracingOn = false
  val spans = mutable.ArrayBuffer.empty[StepSpan]
  val errors = mutable.ArrayBuffer.empty[String]
  var confMutations = 0
  private var nextSpan = 0

  def now(): Long = System.currentTimeMillis()
  /** Process CPU time less that of the JIT compiler threads, whose work is
    * the JVM warming up rather than the program (on Linux, from
    * /proc/self/task/<tid>/stat in 10 ms clock ticks). */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime -
    compilerCpuNs()

  def compilerCpuNs(): Long =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val comm = new String(Files.readAllBytes(Paths.get(t.getPath, "comm"))).trim
        if (!comm.contains("CompilerThre")) 0L else {
          val st = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")))
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L } // the thread has ended
    }.sum

  /** Wait until the listener bus has delivered every event posted so far. */
  def drainListeners(): Unit = {
    val seen = storage.markers
    spark.sparkContext.setJobGroup("pb-sync", "listener sync")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = now() + 10000
    while (storage.markers <= seen && now() < deadline) Thread.sleep(5)
  }

  /** Observe session-conf changes made while `body` runs (traced runs
    * poll every 2 ms, so set-and-restore inside a call is seen too). */
  def watchConf[T](body: => T): T = {
    val before = spark.conf.getAll
    val changed = mutable.Set.empty[String]
    def diff(): Unit = {
      val cur = spark.conf.getAll
      (before.keySet ++ cur.keySet).foreach(k =>
        if (before.get(k) != cur.get(k)) changed.synchronized(changed += k))
    }
    @volatile var running = true
    val poller = if (!tracingOn) None else Some(new Thread(() =>
      while (running) { diff(); Thread.sleep(2) }))
    poller.foreach { t => t.setDaemon(true); t.start() }
    try body finally {
      running = false
      poller.foreach(_.join())
      diff()
      confMutations += changed.size
    }
  }

  /** One timed call into `module`: its jobs carry a job group the harness
    * sets, and the call is a span of the run. Returns (seconds, ok). */
  def step(pass: Int, module: String, name: String)(body: => Unit)
      : (Double, Boolean) = {
    nextSpan += 1
    val group = s"pb-$nextSpan-$module.$name"
    spark.sparkContext.setJobGroup(group, s"$module.$name")
    val t0 = System.nanoTime()
    val start = now()
    val ok = try { watchConf(body); true } catch {
      case e: Throwable =>
        errors += s"$module.$name (pass $pass): ${e.getClass.getName}: ${e.getMessage}"
          .take(500)
        false
    }
    val sec = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] pass $pass $module.$name ${sec}%.3f s" +
      (if (ok) "" else " FAILED"))
    spans += StepSpan(nextSpan, pass, module, name, group, start, now(), ok)
    spark.sparkContext.clearJobGroup()
    (sec, ok)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def buildSession(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(storage)
    s
  }

  /** Register (or remove) the traced run's listeners, after the listener
    * bus has delivered every earlier event. */
  def tracing(on: Boolean): Unit = if (on != tracingOn) {
    drainListeners()
    if (on) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer.queryListener)
      spark.streams.addListener(tracer.streamListener)
    } else {
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer.queryListener)
      spark.streams.removeListener(tracer.streamListener)
    }
    tracingOn = on
  }

  /** One timed unit of client work: a full pipeline pass, or one ingest
    * batch through both legs. */
  final case class Pass(id: Int, seconds: Double, cpuS: Double,
      storageMb: Double, failed: Int, traced: Boolean)

  /** Time `body` (which returns its number of failed steps) with the
    * listeners on or off, plus its process CPU and peak storage. */
  def timedUnit(id: Int, traced: Boolean)(body: => Int): Pass = {
    tracing(traced)
    drainListeners()
    val base = storage.resetPeak()
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    val failed = body
    val sec = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNs() - c0) / 1e9
    drainListeners()
    Pass(id, sec, cpu, (storage.peakBytes - base) / 1048576.0, failed, traced)
  }

  // ---- pipeline workloads ---------------------------------------------
  /** One full pass: every step's output goes to the noop sink. `dir` is a
    * fresh alias of the input per pass, so path-keyed caches inside the
    * library never carry work from one pass into the next. Returns the
    * number of steps that threw. */
  def pipelinePass(steps: Seq[(String, String)], dir: String, pass: Int): Int = {
    val reg = SparkEntry.queries
    steps.count { case (m, q) => !step(pass, m, q)(noop(reg(q)(spark, dir)))._2 }
  }

  def alias(work: String, data: String, i: Int): String = {
    val p = Paths.get(work, s"in_$i")
    if (!Files.exists(p)) Files.createSymbolicLink(p, Paths.get(data).toAbsolutePath)
    p.toString
  }

  /** Untimed check pass, run as the pipelines' warm-up: each step's output
    * is written to parquet (for the DuckDB oracle compare done by run.py)
    * while an observation records its row count and an order-independent
    * content hash. */
  def checkPass(steps: Seq[(String, String)], dir: String, out: String)
      : Seq[Map[String, Any]] = {
    val reg = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val sql = steps.collect { case (_, q) if oracle.contains(q) => q -> oracle(q) }
    Files.createDirectories(Paths.get(out, "check"))
    Json.write(s"$out/check/oracle_sql.json", Json.obj(sql: _*))
    steps.map { case (m, q) =>
      val t0 = System.nanoTime()
      try {
        val df = reg(q)(spark, dir)
        val obs = org.apache.spark.sql.Observation(s"check_$q")
        df.observe(obs, count(lit(1)).as("rows"),
            coalesce(sum(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*)
              .cast("decimal(38,0)")), lit(0)).cast("string").as("hash"))
          .write.mode("overwrite").parquet(s"$out/check/$q")
        val r = obs.get
        val rows = r("rows").asInstanceOf[Long]
        System.err.println(f"[perfbench] check $m.$q ${(System.nanoTime() - t0) / 1e9}%.3f s")
        Map("step" -> q, "module" -> m, "rows" -> rows, "hash" -> r("hash"),
          "oracle" -> oracle.contains(q), "ok" -> (rows > 0),
          "error" -> (if (rows > 0) "" else "empty output"))
      } catch {
        case e: Throwable => Map("step" -> q, "module" -> m, "rows" -> -1L,
          "hash" -> "", "oracle" -> oracle.contains(q), "ok" -> false,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
    }
  }

  // ---- ingest_incremental ----------------------------------------------
  /** A growing history fed by arriving batches. Batch leg: incremental
    * minhash dedup of the batch against the history and its bucketed band
    * keys, survivors appended to the history, their band keys written
    * through the bucketed-write path. Stream leg: a near-dup keeper whose
    * file source watches the landing dir the batch is moved into. */
  class Ingest(root: String, data: String, tag: String) {
    val hist = s"$root/hist"
    val landing = s"$root/landing"
    val linksOut = s"$root/links"
    var bands = ""
    var gen = 0
    var query: org.apache.spark.sql.streaming.StreamingQuery = _
    val batchFiles: Seq[String] = Option(new File(s"$data/arrivals").listFiles())
      .map(_.map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq)
      .getOrElse(Nil)

    def writeBands(df: DataFrame): Unit = {
      val next = s"pb_${tag}_bands_$gen"
      // one bucket per core, as many as shuffle partitions
      Sources.writeBucketed(df, next, "bk",
        numBuckets = spark.sparkContext.defaultParallelism)
      if (bands.nonEmpty) spark.sql(s"DROP TABLE IF EXISTS `$bands`")
      bands = next
      gen += 1
    }

    def land(file: String): Unit = {
      val name = new File(file).getName
      val tmp = Paths.get(landing, s".$name.tmp")
      Files.copy(Paths.get(file), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, Paths.get(landing, name), StandardCopyOption.ATOMIC_MOVE)
    }

    def start(): Unit = {
      val session = spark
      import session.implicits._
      Files.createDirectories(Paths.get(landing))
      val docs = Sources.parquetTable(spark, data, "documents")
      docs.select("doc_id", "text").write.parquet(s"$hist/b=0")
      writeBands(Dedup.minhashBandKeys(spark.read.parquet(s"$hist/b=0"),
        numHashes = 64, bands = 16))
      val banded = Dedup.minhashBandedShingles(
        spark.readStream.schema(docs.schema).parquet(landing)
          .select(col("doc_id"), col("text"))).as[BandedShingleRow]
      val sink = linksOut
      // Without a trigger the idle query re-lists the landing dir every
      // 10 ms (spark.sql.streaming.pollingDelay) between batches, on CPU
      // the batch leg needs; a 100 ms trigger polls a tenth as often and
      // keeps the landing-to-commit delay small.
      query = StreamOps.nearDedupStream(banded, minJaccard = 0.8).toDF()
        .writeStream.outputMode("append")
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .option("checkpointLocation", s"$root/chk")
        .foreachBatch((b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(sink))
        .start()
      land(s"$data/documents.parquet")
      query.processAllAvailable()
    }

    /** Batch `i` through both legs in series; returns how many of its
      * three steps threw. */
    def batch(i: Int, pass: Int): Int = {
      val file = batchFiles(i)
      val (_, ok1) = step(pass, "llm", "ingest_dedup") {
        val surv = Dedup.minhashIncremental(
          spark.read.parquet(file).select("doc_id", "text"),
          spark.read.parquet(hist).select("doc_id", "text"),
          numHashes = 64, bands = 16, minJaccard = 0.5,
          histBands = Some(spark.table(bands)))
        surv.write.parquet(s"$hist/b=${i + 1}")
      }
      val (_, ok2) = step(pass, "sources", "ingest_write") {
        writeBands(spark.table(bands).unionByName(Dedup.minhashBandKeys(
          spark.read.parquet(s"$hist/b=${i + 1}"), numHashes = 64, bands = 16)))
      }
      val (_, ok3) = step(pass, "streaming", "ingest_stream_leg") {
        land(file)
        query.processAllAvailable()
      }
      Seq(ok1, ok2, ok3).count(!_)
    }

    def stop(): Unit = {
      if (query != null) query.stop()
      if (bands.nonEmpty) spark.sql(s"DROP TABLE IF EXISTS `$bands`")
    }
  }

  // ---- main ------------------------------------------------------------
  /** Exercise every workload once on tiny inputs (`data/<workload>`), so
    * that a JVM started with -XX:ArchiveClassesAtExit records the classes
    * all of them load into a class-data-sharing archive. */
  def archiveRun(data: String, work: String, cores: Int): Unit = {
    spark = buildSession(cores, work)
    checkPass(FeatureSteps, s"$data/features_analytics", s"$work/features")
    val i = new Ingest(s"$work/ingest", s"$data/ingest_incremental", "a")
    i.start()
    i.batch(0, 0)
    i.stop()
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else {
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }
  }

  /** End-to-end figures of one kind of unit (untraced or traced).
    * Pipelines: a unit is a full pass, so batch_p50_s is pipeline_s.
    * Ingest: a unit is a batch, pipeline_s and cpu_s are medians over
    * every IngestPassBatches consecutive batches of their summed time. */
  def figures(ps: Seq[Pass], ingest: Boolean): Map[String, Double] = {
    def pass(xs: Seq[Double]): Double =
      if (!ingest) median(xs)
      else median(xs.sliding(IngestPassBatches)
        .filter(_.size == IngestPassBatches).map(_.sum).toSeq)
    val secs = ps.map(_.seconds)
    Map("pipeline_s" -> pass(secs),
      "batch_p50_s" -> quantile(secs, 0.5),
      "batch_p75_s" -> quantile(secs, 0.75),
      "cpu_s" -> pass(ps.map(_.cpuS)),
      "peak_storage_mb" -> median(ps.map(_.storageMb)))
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val data = a("data")
    val work = new File(a("out")).getAbsolutePath
    Files.createDirectories(Paths.get(work, "check"))
    if (workload == "archive") return archiveRun(data, work, a("cores").toInt)
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val steps = stepsOf(workload)

    // set-up, timed from JVM start: the session build plus an untimed
    // warm-up. For the pipelines the warm-up is the check pass over the
    // real input and 2 noop passes; ingest starts its stream, lands the
    // initial history and runs 1 + 2 batches.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    spark = buildSession(a("cores").toInt, work)
    val ingest = workload == "ingest_incremental"
    var live: Ingest = null
    var checks: Seq[Map[String, Any]] = Nil
    var nextBatch = 0
    var warmFailed = 0
    // untimed units of set-up, ingest's first batch included
    val warm = WarmUnits + (if (ingest) 1 else 0)
    if (ingest) {
      live = new Ingest(s"$work/ingest", data, "i")
      live.start()
      (0 until warm).foreach(b => warmFailed += live.batch(b, 0))
      nextBatch = warm
    } else {
      checks = checkPass(steps, data, work)
      (1 to warm).foreach(i =>
        warmFailed += pipelinePass(steps, alias(work, data, -i), 0))
    }
    drainListeners()
    val setupS = (now() - jvmStart) / 1000.0
    spans.clear()

    // timed phase: units until --seconds have passed and each kind has
    // its minimum. A traced run alternates untraced and traced units, so
    // both see the same machine and the tracing overhead is the
    // difference of their medians.
    if (traced) tracer = new Tracer
    val floor = minUnits(ingest, traced)
    val done = mutable.ArrayBuffer.empty[Pass]
    def enough(on: Boolean) = done.count(_.traced == on) >= floor
    val t0 = System.nanoTime()
    while ((!ingest || nextBatch < live.batchFiles.size) && done.size < 60 &&
        ((System.nanoTime() - t0) / 1e9 < seconds || !enough(false) ||
          (traced && !enough(true)))) {
      val id = done.size + 1
      val on = traced && id % 2 == 0
      done += (if (ingest) {
        val b = nextBatch
        nextBatch += 1
        timedUnit(id, on)(live.batch(b, id))
      } else timedUnit(id, on)(pipelinePass(steps, alias(work, data, id), id)))
    }
    tracing(false)
    val attempted = (done.size + warm) * steps.size
    val failed = done.map(_.failed).sum + warmFailed
    val untraced = done.filter(!_.traced).toSeq
    val e2e = figures(untraced, ingest) + ("setup_s" -> setupS)

    // what the library left behind, counted before the layer probes
    // below create their own checkpoints and tables
    val hygiene = Map(
      "entry.conf_mutations" -> confMutations,
      "entry.leaked_tables" -> spark.catalog.listTables().collect()
        .count(t => !t.name.startsWith("pb_")),
      "entry.leaked_rdds" -> spark.sparkContext.getPersistentRDDs.size,
      "entry.leaked_temp_dirs" -> Option(new File(System.getProperty("java.io.tmpdir"))
        .listFiles()).map(_.count(f => f.isDirectory && f.getName.startsWith("graft")))
        .getOrElse(0))
    var layer = Map.empty[String, Any]
    if (traced) {
      val on = done.filter(_.traced).toSeq
      val ids = on.map(_.id).toSet
      val tracedSpans = spans.filter(s => ids(s.pass)).toSeq
      // per-layer numbers are per pipeline pass (ingest: per IngestPassBatches)
      val perPass = if (ingest) on.size.toDouble / IngestPassBatches else on.size
      layer = Probes.layers(workload, tracer, tracedSpans, perPass,
        figures(on, ingest)("pipeline_s"), e2e("pipeline_s"), on.size,
        untraced.size, data, work)
    }

    if (ingest) live.stop()

    val stepStats = spans.groupBy(s => s"${s.module}.${s.name}").map { case (k, ss) =>
      k -> median(ss.map(s => (s.end - s.start) / 1000.0).toSeq)
    }
    Json.write(s"$work/result.json", Json.obj(
      "workload" -> workload,
      "metrics" -> e2e,
      "per_layer" -> (layer ++ (if (traced) hygiene else Map.empty)),
      "hygiene" -> hygiene,
      "attempted" -> attempted,
      "failed" -> failed,
      "passes" -> (done.size + warm), // runs of each step, untimed check aside
      "pass_seconds" -> done.map(_.seconds).toSeq,
      "batches" -> nextBatch,
      "step_seconds" -> stepStats,
      "checks" -> checks,
      "errors" -> errors.toSeq,
      "hist_dir" -> s"$work/ingest/hist",
      "links_dir" -> s"$work/ingest/links"))
    spark.stop()
  }
}
