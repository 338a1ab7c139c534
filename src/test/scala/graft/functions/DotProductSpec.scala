package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import Fns._

/** The native codegen'd dot_product must be bit-identical to the HOF
  * combinator in BOTH execution modes (generated and interpreted), and
  * callable from SQL via the extension-registered function.
  */
class DotProductSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    (Array(1.0, 2.5, -3.25, 0.125), Array(4.0, -1.5, 2.0, 8.0)),
    (Array(0.1, 0.2, 0.3, 0.4), Array(-0.4, 0.3, -0.2, 0.1)),
    (Array.fill(64)(0.123456789), Array.fill(64)(-0.987654321)))

  test("native == HOF bit-for-bit (codegen path)") {
    val df = rows.toDF("x", "y")
    val both = df.select(
      dotNative(col("x"), col("y")).as("n"),
      dot(col("x"), col("y")).as("h")).as[(Double, Double)].collect()
    both.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ==
        java.lang.Double.doubleToLongBits(h))
    }
  }

  test("native == HOF bit-for-bit (interpreted / no-codegen path)") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val df = rows.toDF("x", "y")
      val both = df.select(
        dotNative(col("x"), col("y")).as("n"),
        dot(col("x"), col("y")).as("h")).as[(Double, Double)].collect()
      both.foreach { case (n, h) =>
        assert(java.lang.Double.doubleToLongBits(n) ==
          java.lang.Double.doubleToLongBits(h))
      }
    }
  }

  test("registered in SQL by the session extensions") {
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .as[Double].head()
    assert(r == 11.0)
  }

  test("null array yields null (nullIntolerant)") {
    val r = spark.sql(
      "SELECT dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d))")
      .collect().head
    assert(r.isNullAt(0))
  }
}
