package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** A per-session, version-stamped memo of one cross-query build: the
  * intermediate relations several registered queries share (edge lists,
  * signature tables, per-doc verdicts, score tables), built once per
  * corpus version and reused by every later query of the session.
  *
  * Key: (session, data dir, `stamp(dir, stampTable)`), where the stamp
  * defaults to [[Tables.versionStamp]] — a hash of the table's file set,
  * so rewriting the dataset at the same path yields a fresh build rather
  * than a stale one. DataFrame values are eagerly `localCheckpoint`ed by
  * their builds: the blocks live in executor storage with lineage
  * truncated and survive `catalog.clearCache()` between queries.
  *
  * Eviction: a sweep before and after the lookup drops every entry of
  * the same (session, dir) whose stamp is neither the caller's own
  * (`mine`, read once) nor the live one (re-read at each sweep). Stamps
  * are hashes, not ordered, so both are protected: a laggard whose stamp
  * predates a concurrent rewrite cannot evict its successor's entry, and
  * its own mislabeled entry is reclaimed by the next current-stamped
  * caller. The post-sweep catches a stale entry a concurrent laggard
  * re-inserted after the pre-sweep. An evicted DataFrame's checkpointed
  * leaf RDDs are unpersisted at once (other values are left to GC),
  * unless either stamp is 0 — the degraded fallback of
  * [[Tables.versionStamp]] — where the "superseded" entry may well be
  * the current version, so only the map entry is dropped.
  *
  * Each real build is timed to one `[graft]   <name> <s>` stderr line. */
final class Memo[V](name: String, stampTable: String,
    stamp: (String, String) => Long = Tables.versionStamp)(
    build: (SparkSession, String) => V) extends ((SparkSession, String) => V) {

  private[graft] val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Long), V]

  def apply(s: SparkSession, d: String): V = {
    val mine = stamp(d, stampTable)
    sweep(s, d, mine)
    val v = entries.getOrElseUpdate((s, d, mine), Memo.step(name)(build(s, d)))
    sweep(s, d, mine)
    v
  }

  /** Whether the current corpus version is already built. */
  def contains(s: SparkSession, d: String): Boolean =
    entries.contains((s, d, stamp(d, stampTable)))

  def clear(): Unit = entries.clear()

  private def sweep(s: SparkSession, d: String, mine: Long): Unit = {
    val live = stamp(d, stampTable)
    val degraded = live == 0L || mine == 0L
    entries.keysIterator
      .filter(k => k._1 == s && k._2 == d && k._3 != live && k._3 != mine)
      .foreach { k =>
        entries.remove(k).foreach {
          case ds: Dataset[_] if !degraded =>
            ds.queryExecution.optimizedPlan
              .collect { case r: LogicalRDD => r.rdd }
              .foreach(_.unpersist(false))
          case _ => ()
        }
      }
  }
}

object Memo {

  /** Runs `f` and reports its wall time as `[graft]   <name> <s>` on
    * stderr — the sub-step timer inside a build. */
  def step[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"[graft]   $name%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  /** Runs two independent builds at once: `a` on a `graft-memo-overlap`
    * thread, `b` on the caller's. Always joins `a` before returning, so
    * no build outlives the call. If either fails, rethrows `a`'s failure
    * (else `b`'s) with the other one, if any, added as suppressed. */
  def overlap(a: => Any, b: => Any): Unit = {
    var failA: Throwable = null
    val t = new Thread(() => try a catch { case e: Throwable => failA = e },
      "graft-memo-overlap")
    t.setDaemon(true)
    t.start()
    val failB = try { b; null } catch { case e: Throwable => e }
    t.join()
    Seq(failA, failB).filter(_ != null) match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ => ()
    }
  }
}
