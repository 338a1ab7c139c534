package graft

import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Semantic checks for the round-9 fifth wave (degree assortativity,
  * hapax rates, split-leakage audit, NB margin calibration) —
  * plain-Scala replays plus the cross-operator conservation laws
  * (leak1 vs d10, cal1 vs cls2) the DuckDB oracle can't state
  * directly.
  */
class Round9dOpsSpec extends SparkSpec {

  private def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6

  // ---- gr4 --------------------------------------------------------

  test("gr4: assortativity replays exactly from the co-purchase edge " +
    "set via exact integer moments, and |r| <= 1") {
    val ip = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = ip.groupBy(_._1).values.flatMap { ps =>
      val parts = ps.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.toSet
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val m = edges.size.toLong
    var sx = 0L; var sxx = 0L; var sxy = 0L
    edges.foreach { case (a, b) =>
      val da = deg(a); val db = deg(b)
      sx += da + db; sxx += da * da + db * db; sxy += da * db
    }
    val den = (2.0 * m) * sxx - sx.toDouble * sx
    val expectedR = r6(((2.0 * m) * (2 * sxy) - sx.toDouble * sx) / den)
    val row = q("gr4_assortativity").collect()
    assert(row.length == 1)
    assert(row(0).getLong(0) == deg.size.toLong)
    assert(row(0).getLong(1) == m)
    assert(row(0).getDouble(2) === expectedR)
    assert(math.abs(row(0).getDouble(2)) <= 1.0)
  }

  // ---- x17 --------------------------------------------------------

  test("x17: per-source hapax stats replay exactly, and the counts " +
    "obey n_hapax <= n_types <= n_tokens") {
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val counts = ds.flatMap(_._2.split(" ", -1))
        .groupBy(identity).map { case (_, xs) => xs.size.toLong }
      val types = counts.size.toLong
      val hapax = counts.count(_ == 1L).toLong
      src -> ((counts.sum, types, hapax, 1000000L * hapax / types))
    }
    val got = q("x17_hapax").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expected)
    got.values.foreach { case (tok, ty, ha, _) =>
      assert(ha <= ty && ty <= tok)
    }
  }

  // ---- leak1 ------------------------------------------------------

  test("leak1: the audit is exactly d10's verdicts refined by the " +
    "sm2 split hash — per-verdict totals match d10, per-split totals " +
    "match the hash-replayed split sizes") {
    val got = q("leak1_split_leakage").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // conservation vs d10 (itself oracle-verified at 3 sf)
    val d10 = q("d10_incremental_dedup").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byVerdict = d10.groupBy(_._2).map { case (v, xs) => v -> xs.size.toLong }
    got.keys.map(_._2).toSet.foreach { (v: String) =>
      assert(got.collect { case ((_, `v`), n) => n }.sum == byVerdict(v))
    }
    // split membership replays from the md5 hash of the doc key
    val bySplit = d10.groupBy { case (id, _) =>
      if (Fns.md5LongLocal(id.toString) % 100 < 90) "val" else "test"
    }.map { case (sp, xs) => sp -> xs.size.toLong }
    bySplit.foreach { case (sp, n) =>
      assert(got.collect { case ((`sp`, _), x) => x }.sum == n, s"split $sp")
    }
    assert(got.values.sum == d10.length.toLong)
  }

  // ---- cal1 -------------------------------------------------------

  /** length(bin(v)) - 1 for v >= 1 — the engines' integer log2. */
  private def ilog2(v: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(v)

  test("cal1: the reliability table replays exactly from a plain-" +
    "Scala NB scorer, and its contested-doc margins partition cls2's " +
    "multi-candidate documents") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1)))
    // model: per-lang top-8 terms by (count desc, term asc), ilog2 ppm
    val langTerm = docs.flatMap { case (_, l, ts) => ts.map(l -> _) }
      .groupBy(identity).map { case ((l, t), xs) => (l, t, xs.size.toLong) }
    val tot = langTerm.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._3).sum }
    val model = langTerm.groupBy(_._1).flatMap { case (l, xs) =>
      xs.toSeq.sortBy { case (_, t, c) => (-c, t) }.take(8)
        .map { case (_, t, c) => (l, t) -> ilog2(1000000L * c / tot(l) + 1) }
    }
    val nd = docs.groupBy(_._2).map { case (l, xs) => l -> xs.size.toLong }
    val totD = nd.values.sum
    val prior = nd.map { case (l, n) => l -> ilog2(1000000L * n / totD + 1) }
    // per-doc candidate scores: sum over token OCCURRENCES of model w
    val scored = docs.map { case (id, lang, ts) =>
      val cand = ts.flatMap(t => prior.keys.flatMap(ml =>
          model.get((ml, t)).map(ml -> _)))
        .groupBy(_._1).map { case (ml, ws) => ml -> (ws.map(_._2).sum + prior(ml)) }
      (id, lang, cand)
    }
    val contested = scored.filter(_._3.size >= 2)
    val expected = contested.map { case (_, lang, cand) =>
      val ranked = cand.toSeq.sortBy { case (ml, sc) => (-sc, ml) }
      val margin = ranked(0)._2 - ranked(1)._2
      (margin, if (ranked(0)._1 == lang) 1L else 0L)
    }.groupBy(_._1).map { case (mgn, xs) =>
      val n = xs.size.toLong; val ok = xs.map(_._2).sum
      mgn -> ((n, ok, 1000000L * ok / n))
    }
    val got = q("cal1_margin_calibration").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    assert(got.nonEmpty)
    // partition law: contested docs = all scored docs minus the
    // single-candidate ones; cal1's doc total states exactly that
    assert(got.values.map(_._1).sum == contested.length.toLong)
  }
}
