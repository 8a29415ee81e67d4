package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.compact
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val sfDir = args(0)
    val outDir = args(1)
    // optional name filter for fast single-query iteration; the
    // two-arg invocation dumps every registered query
    val names = BenchHarness.queryNames(args.drop(2).toSeq)
    val spark = BenchHarness.session()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
          .mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** `{name: sql}` as one JSON object. The serializer escapes quotes,
    * backslashes and every control character: a tab or CR in an oracle
    * SQL must not make the driver's json.load fail. */
  private[graft] def oracleJson(sqls: Iterable[(String, String)]): String =
    compact(JObject(sqls.map { case (k, v) => k -> JString(v) }.toList))
}
