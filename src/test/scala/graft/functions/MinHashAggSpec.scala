package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.Fns._

class MinHashAggSpec extends SparkSpec {
  import spark.implicits._

  private def sigs(partitions: Int): Map[String, Seq[Long]] =
    graft.Tables.documents(spark, sf)
      .select(col("source"), bigramShingles(toks(col("text"))).as("sh"))
      .repartition(partitions)
      .as[(String, Seq[String])]
      .groupByKey(_._1)
      .agg(new MinHashAgg(8).toColumn.name("sig"))
      .collect().toMap

  test("sketch is invariant to partitioning (exact partial aggregation)") {
    val one = sigs(1)
    val many = sigs(17)
    assert(one == many)
    assert(one.values.forall(_.length == 8))
  }

  test("group sketch equals elementwise min of per-doc signatures") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("source"), bigramShingles(toks(col("text"))).as("sh"))
      .as[(String, Seq[String])].collect()
    val expected = docs.groupBy(_._1).map { case (src, rows) =>
      src -> (0 until 8).map { k =>
        rows.iterator.flatMap(_._2).map(x => md5LongLocal(s"$k:$x")).min
      }
    }
    assert(sigs(4) == expected)
  }
}
