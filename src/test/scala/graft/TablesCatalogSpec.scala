package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.TimestampType

/** The [[SchemaCatalog]] laws: a repeated read starts no job, a rewrite
  * or another inference conf infers again, and a missing path or a
  * degraded stamp is never cached. */
class TablesCatalogSpec extends SparkSpec {

  /** `body`'s result and the Spark jobs it started, counted after the
    * listener bus has delivered every event. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def tmpDir(): String =
    Files.createTempDirectory("graft-catalog").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString(",")).toSeq.sorted

  test("in a fresh session, a second read of the same table starts no Spark job") {
    val s = spark.newSession()
    val first = Tables.apply(s, sf, "orders")
    val (second, jobs) = jobsDuring(Tables.apply(s, sf, "orders"))
    assert(jobs == 0, s"second read started $jobs jobs")
    assert(second.schema == first.schema)
    assert(second.count() == first.count())
  }

  test("a table rewritten at the same path with other columns is read " +
    "with its new schema") {
    val d = tmpDir()
    spark.range(3).toDF("a").write.parquet(s"$d/t.parquet")
    assert(Tables.apply(spark, d, "t").columns.toSeq == Seq("a"))
    spark.range(2).selectExpr("id AS b", "'x' AS c")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val after = Tables.apply(spark, d, "t")
    assert(after.columns.toSeq == Seq("b", "c"))
    assert(rows(after) == Seq("0,x", "1,x"))
  }

  test("events read under nanosAsLong=false get their own inference, " +
    "and ts is still TIMESTAMP") {
    val path = s"$sf/events.parquet"
    val nanos = SchemaCatalog.inferenceConfs
      .indexOf("spark.sql.legacy.parquet.nanosAsLong")
    def nanosKeys = Tables.catalog.entries.keySet
      .filter(_._1 == path).map(_._2.lift(nanos).flatten)
    Tables.catalog.entries.keySet.filter(_._1 == path)
      .foreach(Tables.catalog.entries.remove)
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
    val (ev, jobs) = withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      jobsDuring(Tables.events(spark, sf))
    }
    assert(jobs == 1, s"the override's first read started $jobs jobs")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(nanosKeys == Set(Some("true"), Some("false")))
  }

  test("a missing path throws as a plain parquet read does and leaves " +
    "nothing in the catalog") {
    val d = tmpDir()
    val e = intercept[AnalysisException](Tables.apply(spark, d, "missing"))
    assert(e.getMessage.contains("missing.parquet"))
    assert(!Tables.catalog.entries.keySet.exists(_._1.startsWith(d)))
  }

  test("a read under a degraded (0) stamp is not cached") {
    val d = tmpDir()
    val catalog = new SchemaCatalog((_, _) => 0L)
    spark.range(3).toDF("a").write.parquet(s"$d/t.parquet")
    catalog.read(spark, d, "t")
    val (again, jobs) = jobsDuring(catalog.read(spark, d, "t"))
    assert(jobs == 1, s"the repeated read started $jobs jobs")
    assert(again.columns.toSeq == Seq("a"))
    assert(catalog.entries.isEmpty)
    // a rewrite the stamp cannot see is still read with its new schema
    spark.range(1).selectExpr("'y' AS z")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    assert(rows(catalog.read(spark, d, "t")) == Seq("y"))
  }
}
