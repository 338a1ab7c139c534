package graft

/** The laws of [[SparkSpec.withConf]], the one way specs override a
  * session conf: a set key gets its value back, an absent key is
  * unset again, and both hold when the body throws. The spec session
  * is [[GraftSession.local]], so the broadcast threshold starts at
  * the engine's 64 MB. */
class WithConfSpec extends SparkSpec {

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"
  private val absent = "spark.graft.test.withConfProbe"

  private def sessionValue(k: String): Option[String] = spark.conf.getAll.get(k)

  test("withConf restores a key's previous session value") {
    assert(sessionValue(threshold) == Some((64L << 20).toString))
    withConf(threshold -> "-1") {
      assert(spark.conf.get(threshold) == "-1")
    }
    assert(sessionValue(threshold) == Some((64L << 20).toString))
  }

  test("withConf unsets a key the session had no value for") {
    assert(sessionValue(absent).isEmpty)
    withConf(absent -> "on") {
      assert(sessionValue(absent) == Some("on"))
    }
    assert(sessionValue(absent).isEmpty)
  }

  test("withConf restores both kinds of key when the body throws") {
    val before = sessionValue(threshold)
    intercept[IllegalStateException] {
      withConf(threshold -> "-1", absent -> "on") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(sessionValue(threshold) == before)
    assert(sessionValue(absent).isEmpty)
  }
}
