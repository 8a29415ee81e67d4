package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + the reference's own 6-row Iris fallback fixture
  * (FIXTURES.md §A; reference spark_ml_features_local.py:47-55). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  lazy val iris: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (5.1, 3.5, 1.4, 0.2, "setosa"), (4.9, 3.0, 1.4, 0.2, "setosa"),
      (7.0, 3.2, 4.7, 1.4, "versicolor"), (6.4, 3.2, 4.5, 1.5, "versicolor"),
      (6.3, 3.3, 6.0, 2.5, "virginica"), (5.8, 2.7, 5.1, 1.9, "virginica")
    ).toDF("sepal_length", "sepal_width", "petal_length", "petal_width",
      "species")
  }
}

object SparkSpec {
  lazy val session: SparkSession = BenchHarness.session(4)
}
