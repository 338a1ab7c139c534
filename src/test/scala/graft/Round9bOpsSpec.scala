package graft

import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Semantic checks for the round-9 second wave (Gram matrix,
  * winnowing fingerprints, MAD outliers, k-anonymity, inverted index,
  * last-touch attribution) — plain-Scala replays plus the laws the
  * DuckDB oracle can't state directly (Cauchy–Schwarz, the winnowing
  * coverage guarantee, conservation counts).
  */
class Round9bOpsSpec extends SparkSpec {

  private def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6

  // ---- emb2 -------------------------------------------------------

  test("emb2: the Gram matrix equals a plain-Scala replay (quantized " +
    "long products) and every cell satisfies Cauchy-Schwarz") {
    val vecs = Tables.embeddings(spark, sf).select(col("embedding"))
      .collect().map(_.getSeq[Float](0).map(x =>
        math.floor(x.toDouble * 1000 + 0.5).toLong).toArray)
    val dims = vecs.head.length
    val expected = (for {
      i <- 0 until dims; j <- i until dims
    } yield (i + 1L, j + 1L) ->
      ((vecs.length.toLong, vecs.map(v => v(i) * v(j)).sum))).toMap
    val got = q("emb2_gram").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === expected)
    assert(got.size == dims * (dims + 1) / 2)
    // Cauchy-Schwarz on the exact integer cells: G(i,j)^2 <= G(i,i)*G(j,j)
    got.foreach { case ((i, j), (_, g)) =>
      val gii = BigInt(got((i, i))._2); val gjj = BigInt(got((j, j))._2)
      assert(BigInt(g) * BigInt(g) <= gii * gjj, s"CS violated at ($i,$j)")
    }
  }

  // ---- x16 --------------------------------------------------------

  /** The engine's winnowing replayed over one token array. */
  private def winnow(toks: Array[String]): (Long, Set[Long]) = {
    if (toks.length < 3) return (0L, Set.empty)
    val h = (0 to toks.length - 3).map(i =>
      Fns.md5LongLocal(s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}")).toArray
    val nw = math.max(h.length - 3, 1)
    val fps = (0 until nw).map(i => h.slice(i, i + 4).min).toSet
    (h.length.toLong, fps)
  }

  test("x16: winnowing fingerprints equal a plain-Scala replay " +
    "(3-gram md5 hashes, window-4 mins, cross-doc share counts)") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val fp = docs.map { case (id, t) => id -> winnow(t.split(" ", -1)) }.toMap
    val census = fp.values.flatMap(_._2).groupBy(identity)
      .map { case (k, vs) => k -> vs.size.toLong }
    val expected = fp.map { case (id, (ng, fps)) =>
      id -> ((ng, fps.size.toLong,
        if (fps.isEmpty) 0L else fps.map(census).max))
    }
    val got = q("x16_winnow").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
  }

  test("x16 laws: every doc with grams fingerprints (coverage), the " +
    "fingerprint count respects the window bound, and shared runs of " +
    "6+ tokens are guaranteed to share a fingerprint") {
    val got = q("x16_winnow").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    got.foreach { case (ng, nfp, share) =>
      if (ng > 0) assert(nfp >= 1 && share >= 1) else assert(nfp == 0 && share == 0)
      assert(nfp <= math.max(ng - 3, math.min(ng, 1))) // ≤ window count
    }
    // the Schleimer guarantee on a constructed pair: two token arrays
    // sharing a 6-token run (K+W-1) must share at least one fingerprint
    val shared = Array("q", "w", "e", "r", "t", "y")
    val a = winnow(Array("a1", "a2") ++ shared ++ Array("a3"))._2
    val b = winnow(Array("b1") ++ shared ++ Array("b2", "b3"))._2
    assert((a & b).nonEmpty, "coverage guarantee violated for a shared 6-run")
  }

  // ---- od1 --------------------------------------------------------

  test("od1: MAD outlier flags equal a plain-Scala replay (exact " +
    "percentile interpolation, 6dp pins, the 3*1.4826 cut)") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // Spark's exact percentile: rank = p*(n-1), lo + (hi-lo)*frac
    def median(vs: Seq[Double]): Double = {
      val s = vs.sorted
      val rank = 0.5 * (s.length - 1)
      val (lo, hi) = (s(rank.toInt), s(math.ceil(rank).toInt))
      lo + (hi - lo) * (rank - rank.toInt)
    }
    val med = ev.groupBy(_._2).map { case (t, xs) =>
      t -> r6(median(xs.map(_._3))) }
    val devs = ev.map { case (id, t, v) => (id, t, v, r6(math.abs(v - med(t)))) }
    val mad = devs.groupBy(_._2).map { case (t, xs) =>
      t -> r6(median(xs.map(_._4))) }
    val expected = devs.map { case (id, t, v, dv) =>
      id -> ((t, v, med(t), mad(t), dv > r6(mad(t) * 4.4478)))
    }.toMap
    val got = q("od1_outliers").collect().map(r =>
      r.getLong(0) -> ((r.getString(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))).toMap
    assert(got === expected)
    // outliers exist but are a minority in every type (MAD breakdown)
    val byType = got.values.groupBy(_._1)
    byType.values.foreach { xs =>
      assert(xs.count(_._5) * 2 < xs.size)
    }
  }

  // ---- an1 --------------------------------------------------------

  test("an1: the k-anonymity release equals a plain-Scala replay and " +
    "conserves the population (published + suppressed = all rows)") {
    val rows = Tables.customer(spark, sf)
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val g0 = rows.groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
    val pub0 = g0.filter(_._2 >= 5).map { case ((n, s), c) =>
      (Option(n), Option(s), 0, c) }
    val rem = g0.filter(_._2 < 5).groupBy(_._1._1)
      .map { case (n, vs) => n -> vs.values.sum }
    val pub1 = rem.filter(_._2 >= 5).map { case (n, c) =>
      (Option(n), None, 1, c) }
    val suppTotal = rem.filter(_._2 < 5).values.sum
    val supp = if (suppTotal > 0 || rem.exists(_._2 < 5))
      Seq((None, None, 2, suppTotal)) else Seq.empty
    val expected = (pub0 ++ pub1 ++ supp).toSet
    val got = q("an1_kanon").collect().map { r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getString(1)),
        r.getInt(2), r.getLong(3))
    }.toSet
    assert(got === expected)
    // conservation: every customer lands in exactly one release row
    assert(got.toSeq.map(_._4).sum == rows.length.toLong)
    // anonymity: every PUBLISHED class holds >= K individuals
    got.filter(_._3 < 2).foreach { case (_, _, _, n) => assert(n >= 5) }
  }

  // ---- att1 -------------------------------------------------------

  test("att1: last-touch attribution equals a plain-Scala replay of " +
    "the per-user event walk and conserves total conversions") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(ts)"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val credits = ev.groupBy(_._1).values.flatMap { xs =>
      var lastTouch: Option[String] = None
      xs.sortBy(e => (e._4, e._3)).flatMap { case (_, t, _, _, v) =>
        if (t == "purchase")
          Some(lastTouch.getOrElse("none") ->
            math.floor(v * 100 + 0.5).toLong)
        else { lastTouch = Some(t); None }
      }
    }.toSeq
    val expected = credits.groupBy(_._1).map { case (ch, vs) =>
      ch -> ((vs.size.toLong, vs.map(_._2).sum)) }
    val got = q("att1_last_touch").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    assert(got.values.map(_._1).sum == ev.count(_._2 == "purchase").toLong)
  }

  // ---- idx1 -------------------------------------------------------

  test("idx1: the inverted index equals a plain-Scala replay (df/cf, " +
    "doc-ordered 5-posting head) and the head length is min(df, 5)") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val tf = docs.flatMap { case (id, t) =>
      t.split(" ", -1).groupBy(identity).map { case (w, xs) =>
        (w, id, xs.length.toLong) }
    }
    val expected = tf.groupBy(_._1).map { case (term, ps) =>
      val head = ps.sortBy(_._2).take(5)
        .map(p => f"${p._2}%06d#${p._3}").sorted.toList
      term -> ((ps.length.toLong, ps.map(_._3).sum, head))
    }
    val got = q("idx1_inverted").collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3).split("\\|").toList))).toMap
    assert(got === expected)
    got.foreach { case (_, (df, cf, head)) =>
      assert(head.length == math.min(df, 5L).toInt)
      assert(cf >= df)
      assert(df <= docs.length.toLong)
    }
  }
}
