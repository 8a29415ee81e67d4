package graft

import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}
import org.apache.spark.sql.functions.{col, udf}

/** The tool mains' shared JSON, query-selection and timing code
  * ([[BenchHarness]], [[Verify.oracleJson]]); only the timing case
  * starts the session. */
class HarnessSpec extends SparkSpec {
  private def artifact(name: String): String =
    Files.readString(Paths.get(name))

  test("prior reader parses a spaced-separator artifact without out_rows") {
    // sizes and values as Python's json.load gives them
    val text = artifact("BENCH_LOCAL_r15.json")
    val qs = BenchHarness.numObj(text, "queries")
    assert(qs.size == 176)
    assert(qs("add_split_column") == 0.1468)
    assert(BenchHarness.numObj(text, "out_rows").isEmpty)
  }

  test("prior reader parses a compact artifact with out_rows") {
    val text = artifact("BENCH_LOCAL_r19.json")
    val qs = BenchHarness.numObj(text, "queries")
    assert(qs.size == 195)
    assert(qs("add_split_column") == 0.1925)
    val out = BenchHarness.numObj(text, "out_rows")
    assert(out.size == 195)
    assert(out("add_split_column") == 15000.0)
  }

  test("prior reader: no queries key or a truncated artifact is an empty map") {
    assert(BenchHarness.numObj(
      """{"metric":"summary","value":1.5,"n_queries":3}""", "queries").isEmpty)
    val r19 = artifact("BENCH_LOCAL_r19.json")
    assert(BenchHarness.numObj(r19.take(r19.length / 2), "queries").isEmpty)
  }

  test("oracle SQL writer round-trips quotes, backslashes and control chars") {
    val sql = "SELECT \"a\\b\"\tFROM t\r\nWHERE x = '\u0001'"
    val json = Verify.oracleJson(Seq("q1" -> sql, "q2" -> "SELECT 1"))
    assert(!json.exists(_ < ' '), json)
    assert(parse(json) ==
      JObject("q1" -> JString(sql), "q2" -> JString("SELECT 1")))
  }

  test("r4 renders four decimals") {
    assert(compact(BenchHarness.r4(2.0)) == "2.0000")
    assert(compact(BenchHarness.r4(1.23456)) == "1.2346")
  }

  test("query names: none means all sorted, duplicates drop, unknown fails") {
    val all = BenchHarness.queryNames(Nil)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(BenchHarness.queryNames(Seq("dedup_exact", "robust_scaling",
      "dedup_exact")) == Seq("dedup_exact", "robust_scaling"))
    val e = intercept[IllegalArgumentException](
      BenchHarness.queryNames(Seq("dedup_exact", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }

  test("timedRun computes every output column: a throwing column fails") {
    // under count() the optimizer pruned the column and the run passed
    val boom = udf((x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom") else x)
    val failed = BenchHarness.timedRun(spark, sf0001, "boom",
      (s, _) => s.range(10).withColumn("b", boom(col("id")))).result.toOption
    assert(failed.isEmpty)
    val ok = BenchHarness.timedRun(spark, sf0001, "ok",
      (s, _) => s.range(10).withColumn("b", col("id") + 1)).result.toOption
    assert(ok.contains(10L))
  }

  test("query run: robust_scaling's record holds its build-time quantile " +
      "collect and its jobs") {
    val build = QueryRun(spark)(
      SparkEntry.queries("robust_scaling")(spark, sf0001))
    assert(build.result.isSuccess)
    assert(build.sql.nonEmpty, "no SQL execution ran while the frame was built")
    assert(build.jobs.nonEmpty)
    val run = BenchHarness.timedRun(spark, sf0001, "robust_scaling",
      SparkEntry.queries("robust_scaling"))
    // the build-time collect plus the timed write itself
    assert(run.sql.size == build.sql.size + 1, run.sql)
    assert(run.stages.nonEmpty)
  }

  test("query run: two consecutive timed runs share no job id") {
    val runs = Seq("dedup_exact", "robust_scaling").map(n =>
      BenchHarness.timedRun(spark, sf0001, n, SparkEntry.queries(n)))
    val Seq(a, b) = runs.map(_.jobs.map(_.id).toSet)
    assert(a.nonEmpty && b.nonEmpty)
    assert((a & b).isEmpty, s"shared job ids ${a & b}")
    // a job counts once, in the run whose window it started in
    assert(runs.forall(r => r.jobs.map(_.id).distinct.size == r.jobs.size))
  }

  test("query run: a throwing row right after a stream row has no stream " +
      "summary") {
    val stream = BenchHarness.timedRun(spark, sf0001, "stream_dedup_near",
      SparkEntry.queries("stream_dedup_near"))
    assert(stream.result.isSuccess)
    assert(stream.streams.nonEmpty)
    val thrown = BenchHarness.timedRun(spark, sf0001, "throws",
      (_, _) => throw new IllegalStateException("before any stream"))
    assert(thrown.result.isFailure)
    assert(thrown.streams.isEmpty, thrown.streams)
  }
}
