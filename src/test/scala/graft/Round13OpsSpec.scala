package graft

/** Round-13 additions: the wedge-budget gr3 cap and bench/ETL
  * fidelity fixes (the laggard-safe memo sweep laws live in
  * [[MemoSpec]]). */
class Round13OpsSpec extends SparkSpec {

  // ---- tok1 kernel ≡ SQL lockstep (r13 review #6) --------------------

  test("tok1PerWordLocal equals the tok1PerWord SQL expression on " +
    "edge-word fixtures — empty word, merge-dense words, words the " +
    "regex '.' treats specially (newline), supplementary code points") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val words = Seq(
      "", "a", "er", "erer", "winter", "store", "tomato", "atone",
      "inherit", "towering", "statorstat", "xxxxx",
      "a\nb",           // regex '.' skips \n — both sides must agree
      "héllo", "日本語", "a😀b", // multi-byte + surrogate pair
      "er in ow or st me to at".replace(" ", ""), // every merge char
      "ererererer")
    val df = words.toDF("w")
      .withColumn("sql_n",
        expr(graft.operators.RetrievalOps.tok1PerWord).cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach { w =>
      assert(graft.operators.RetrievalOps.tok1PerWordLocal(w) == df(w),
        s"kernel drifted from SQL on word '${w.replace("\n", "\\n")}': " +
          s"local=${graft.operators.RetrievalOps.tok1PerWordLocal(w)} " +
          s"sql=${df(w)}")
    }
  }

}
