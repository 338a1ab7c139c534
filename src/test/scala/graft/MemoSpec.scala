package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The [[Memo]] laws: stamp-keyed reuse, eviction of superseded stamps,
  * laggard safety, the degraded-stamp fallback, and [[Memo.overlap]].
  * Stamps are injected, so each law controls exactly what the caller's
  * own read ("mine") and each sweep's re-read ("live") return. */
class MemoSpec extends SparkSpec {

  /** A string memo whose build returns `next` and counts its calls. */
  private class Probe(stamp: String => Long) {
    var next = ""
    var builds = 0
    val memo = new Memo[String]("memo_test", "t", (d, _) => stamp(d))(
      (_, _) => { builds += 1; next })
    def call(d: String, v: String): String = { next = v; memo(spark, d) }
  }

  test("superseded stamps for the same (session, path) are evicted on " +
    "insert, other paths are untouched, and a repeated call under the " +
    "same stamp does not rebuild") {
    val stamps = scala.collection.mutable.Map("/a" -> 1L, "/b" -> 7L)
    val p = new Probe(stamps)
    assert(p.call("/a", "a1") == "a1")
    assert(p.call("/b", "b7") == "b7")
    // same stamp → memo hit, no rebuild
    assert(p.call("/a", "a1x") == "a1")
    assert(p.builds == 2)
    // new stamp for /a → rebuild AND the stale stamp-1 entry is gone
    stamps("/a") = 2L
    assert(p.call("/a", "a2") == "a2")
    assert(p.builds == 3)
    assert(p.memo.entries.keySet == Set((spark, "/a", 2L), (spark, "/b", 7L)),
      s"stale stamp survived: ${p.memo.entries.keySet}")
  }

  test("a laggard caller whose stamp predates a rewrite can no longer " +
    "evict the successor's fresh entry, and the next current-stamp " +
    "caller reclaims the laggard's own entry") {
    // the stamp is read once for the caller's own key and once per
    // sweep; a laggard's first read predates the rewrite, its re-reads
    // see the new stamp
    var stamp: () => Long = () => 2L
    val p = new Probe(_ => stamp())
    // successor already built under the current on-disk stamp 2
    assert(p.call("/a", "v2") == "v2")
    var evals = 0
    stamp = () => { evals += 1; if (evals == 1) 1L else 2L }
    assert(p.call("/a", "v1") == "v1")
    assert(evals >= 2, "stamp was not re-evaluated at sweep time")
    assert(p.memo.entries.contains((spark, "/a", 2L)),
      s"successor entry evicted by laggard: ${p.memo.entries.keySet}")
    // the laggard's mislabeled entry survives its OWN call (evicting
    // a relation mid-use would unpersist blocks under the caller)...
    assert(p.memo.entries.contains((spark, "/a", 1L)))
    // ...and is reclaimed by the next caller whose stamp is current
    stamp = () => 2L
    assert(p.call("/a", "v2x") == "v2")
    assert(p.memo.entries.keySet == Set((spark, "/a", 2L)),
      s"laggard entry not reclaimed: ${p.memo.entries.keySet}")
  }

  test("the sweep reclaims entries matching neither the caller's stamp " +
    "nor the live stamp, across two rewrites") {
    var evals = 0
    val p = new Probe(_ => { evals += 1; if (evals == 1) 3L else 5L })
    p.memo.entries.put((spark, "/a", 1L), "dead")  // two rewrites ago
    p.memo.entries.put((spark, "/a", 5L), "fresh") // current on-disk stamp
    p.memo.entries.put((spark, "/b", 1L), "otherpath")
    p.call("/a", "mid")
    assert(!p.memo.entries.contains((spark, "/a", 1L)), "two-rewrites-old entry kept")
    assert(p.memo.entries.contains((spark, "/a", 5L)), "current-stamp entry evicted")
    assert(p.memo.entries.contains((spark, "/b", 1L)), "other path swept")
  }

  test("eviction unpersists a superseded checkpoint, but a degraded " +
    "live stamp (0) only drops the entry: the current blocks stay " +
    "readable") {
    var stamp = 5L
    val memo = new Memo[DataFrame]("memo_test", "t", (_, _) => stamp)(
      (s, _) => s.range(0, 100).toDF("x").localCheckpoint(true))
    def rddIds(df: DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.collect { case r: LogicalRDD => r.rdd.id }
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    // a real rewrite: the stamp-5 blocks are released on eviction
    val superseded = memo(spark, "/a")
    assert(rddIds(superseded).nonEmpty && rddIds(superseded).forall(persisted))
    stamp = 6L
    val current = memo(spark, "/a")
    assert(!rddIds(superseded).exists(persisted), "superseded blocks kept")
    // the filesystem errors: every stamp read degrades to 0
    stamp = 0L
    memo(spark, "/a")
    assert(!memo.entries.contains((spark, "/a", 6L)), "stamp-6 entry kept")
    assert(rddIds(current).forall(persisted), "degraded sweep unpersisted")
    assert(current.collect().length == 100)
  }

  test("overlap runs `a` on its named thread and joins it even when `b` " +
    "throws; both failures surface") {
    @volatile var aThread = ""
    @volatile var aDone = false
    def slowA(fail: Boolean): Unit = {
      aThread = Thread.currentThread.getName
      Thread.sleep(300)
      aDone = true
      if (fail) throw new RuntimeException("a failed")
    }
    val onlyB = intercept[IllegalStateException] {
      Memo.overlap(slowA(fail = false), throw new IllegalStateException("b failed"))
    }
    assert(aDone, "overlap returned before `a` finished")
    assert(aThread == "graft-memo-overlap")
    assert(onlyB.getMessage == "b failed")
    aDone = false
    val both = intercept[RuntimeException] {
      Memo.overlap(slowA(fail = true), throw new IllegalStateException("b failed"))
    }
    assert(aDone)
    assert(both.getMessage == "a failed")
    assert(both.getSuppressed.map(_.getMessage).toSeq == Seq("b failed"))
  }
}
