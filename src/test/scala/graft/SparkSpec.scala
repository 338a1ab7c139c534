package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Specs run on the engine's own session, [[GraftSession.local]], so
  * every plan a spec pins is one Bench and Verify also build. Like
  * them, the session takes its thread and shuffle-partition count
  * from `SPARK_GRAFT_CPUS`. One session is shared by all suites in
  * the test JVM; the JVM's exit stops it. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("graft-test")

  /** The smallest generated scale factor, the fixture most specs read. */
  protected val sf = "/root/testdata/sf0.001"

  protected def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** Runs `body` with the session confs `kvs` set. Afterwards each key
    * gets back its previous session value, or is unset if it had
    * none, also when `body` throws. The only place specs touch the
    * session conf, so no override can leak into a later suite. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
