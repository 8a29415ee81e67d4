package graft

import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}
import org.scalatest.funsuite.AnyFunSuite

/** The tool mains' shared JSON and query-selection code
  * ([[BenchHarness]], [[Verify.oracleJson]]); no session needed. */
class HarnessSpec extends AnyFunSuite {
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
}
