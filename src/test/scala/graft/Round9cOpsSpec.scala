package graft

import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Semantic checks for the round-9 third wave (calendar gap-fill,
  * linear attribution, rolling z-flags, embedding standardization,
  * containment dedup, l-diversity, conjunctive retrieval, link
  * prediction) — plain-Scala replays plus the cross-operator laws the
  * DuckDB oracle can't state directly (grid density, credit
  * conservation, containment ≥ Jaccard, an1/an2 consistency).
  */
class Round9cOpsSpec extends SparkSpec {

  private def r2(x: Double) = math.floor(x * 100 + 0.5) / 100
  private def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4

  /** Events projected to the integer-µs fields every replay uses. */
  private lazy val events: Array[(Long, Long, String, Long, Double)] =
    Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("tu"),
        col("event_type"), col("user_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))

  // ---- ts1 --------------------------------------------------------

  test("ts1: the grid is DENSE per user (every day in [first, last], " +
    "no extras), and each row replays as the LOCF of the pinned " +
    "daily closes") {
    val dayUs = 86400000000L
    val daily = events
      .groupBy { case (_, tu, _, uid, _) => (uid, tu / dayUs) }
      .map { case ((uid, day), evs) =>
        val (_, _, _, _, v) =
          evs.maxBy { case (eid, tu, _, _, _) => (tu, eid) }
        (uid, day) -> r2(v)
      }
    val expected = daily.keys.groupBy(_._1).flatMap { case (uid, keys) =>
      val d0 = keys.map(_._2).min
      val d1 = keys.map(_._2).max
      var carry = Double.NaN
      (d0 to d1).map { day =>
        val hit = daily.get((uid, day))
        carry = hit.getOrElse(carry)
        (uid, day) -> ((carry, hit.isEmpty))
      }
    }
    val got = q("ts1_gapfill").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got === expected)
    // density restated directly: per user the day set is contiguous
    got.keys.groupBy(_._1).foreach { case (uid, ks) =>
      val days = ks.map(_._2)
      assert(days.size == (days.max - days.min + 1).toInt,
        s"user $uid grid has holes")
    }
  }

  // ---- att2 -------------------------------------------------------

  test("att2: linear credit replays exactly, every purchase's ppm " +
    "sums into (1e6 - n_tot, 1e6], and cents never over-credit") {
    def cents(v: Double) = math.floor(v * 100 + 0.5).toLong
    val byUser = events.groupBy(_._4)
    val credits = scala.collection.mutable.Map
      .empty[String, (Long, Long, Long)] // channel -> (n, ppm, cents)
    var purchases = 0
    byUser.values.foreach { evs =>
      val ordered = evs.toSeq.sortBy { case (eid, tu, _, _, _) => (tu, eid) }
      var touches = Vector.empty[String]
      ordered.foreach { case (_, _, tpe, _, v) =>
        if (tpe == "purchase") {
          purchases += 1
          val c = cents(v)
          if (touches.isEmpty) {
            val (n0, p0, c0) = credits.getOrElse("none", (0L, 0L, 0L))
            credits("none") = (n0 + 1, p0 + 1000000L, c0 + c)
          } else {
            val nTot = touches.size.toLong
            touches.groupBy(identity).foreach { case (ch, hits) =>
              val nCh = hits.size.toLong
              val (n0, p0, c0) = credits.getOrElse(ch, (0L, 0L, 0L))
              credits(ch) = (n0 + 1, p0 + 1000000L * nCh / nTot,
                c0 + c * nCh / nTot)
            }
            // per-purchase floor credit lands in (1e6 - n_tot, 1e6]
            val ppmSum = touches.groupBy(identity)
              .map { case (_, hits) => 1000000L * hits.size / nTot }.sum
            assert(ppmSum <= 1000000L && ppmSum > 1000000L - nTot)
          }
          touches = Vector.empty
        } else touches :+= tpe
      }
    }
    val got = q("att2_linear_credit").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === credits.toMap)
    // conservation: total ppm <= 1e6 per purchase; cents <= total rev
    val totalCents = events
      .collect { case (_, _, "purchase", _, v) => cents(v) }.sum
    assert(got.values.map(_._2).sum <= 1000000L * purchases)
    assert(got.values.map(_._3).sum <= totalCents)
  }

  // ---- w11 --------------------------------------------------------

  test("w11: rolling z-flags replay exactly from integer frame sums " +
    "(trailing 50, min history 20, |z| >= 2.5)") {
    val W = operators.WindowOps.W11_FRAME
    val minN = operators.WindowOps.W11_MIN_N
    val expected = events.groupBy(_._3).flatMap { case (_, evs) =>
      val ordered = evs.toSeq.sortBy { case (eid, tu, _, _, _) => (tu, eid) }
      val cs = ordered.map { case (_, _, _, _, v) =>
        math.floor(v * 100 + 0.5).toLong }
      ordered.indices.flatMap { i =>
        val lo = math.max(0, i - W)
        val frame = cs.slice(lo, i)
        val n = frame.size
        if (n < minN) None
        else {
          val sc = frame.sum
          val sq = frame.map(c => c * c).sum
          val mean = sc.toDouble / n
          val std = math.sqrt(
            math.max(sq.toDouble / n - mean * mean, 0.0))
          val c = cs(i)
          if (std > 0.0 &&
              math.abs(c - mean) >= operators.WindowOps.W11_CUT * std)
            Some(ordered(i)._1 -> ((n.toLong, r4((c - mean) / std))))
          else None
        }
      }
    }
    val got = q("w11_rolling_z").collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getDouble(4)))).toMap
    assert(got === expected)
    assert(got.nonEmpty) // the gate would otherwise pass vacuously
  }

  // ---- emb3 -------------------------------------------------------

  test("emb3: standardization replays exactly (integer-thousandths " +
    "stats, integer-millionths z, packed-long argmax)") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)
        .map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray)
    val dims = vecs.head._2.length
    val n = vecs.length.toLong
    val stats = (0 until dims).map { k =>
      val col = vecs.map(_._2(k))
      val sq = col.sum
      val sqq = col.map(v => v * v).sum
      val mean = sq.toDouble / (n * 1000.0)
      val std = math.sqrt(math.max(
        sqq.toDouble / (n.toDouble * 1000000.0) - mean * mean, 0.0))
      (mean, std)
    }
    val expected = vecs.map { case (id, qv) =>
      val zq = (0 until dims).map { k =>
        val (mean, std) = stats(k)
        val z = if (std > 0.0) (qv(k) / 1000.0 - mean) / std else 0.0
        math.floor(z * 1000000 + 0.5).toLong
      }
      val s2 = zq.map(z => z * z).sum
      val topKey = zq.zipWithIndex
        .map { case (z, k) => math.abs(z) * 100L + (64L - (k + 1)) }.max
      id -> ((r4(math.sqrt(s2.toDouble / 1e12)), 64L - topKey % 100L))
    }.toMap
    val got = q("emb3_standardize").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got === expected)
  }

  // ---- d12 --------------------------------------------------------

  /** The d2/d12 signature pipeline replayed for one doc: hashed
    * shingle set + 8 seeded minhashes. */
  private def sig(text: String): Option[(Set[Long], Array[Long])] = {
    val sh = Fns.bigramShinglesLocal(text)
    if (sh.isEmpty) None
    else Some((sh.map(Fns.md5LongLocal).toSet,
      Array.tabulate(8)(k => sh.map(x => Fns.md5LongLocal(s"$k:$x")).min)))
  }

  test("d12: containment on the banded candidates replays exactly, " +
    "and max-containment dominates Jaccard on every published pair") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .flatMap(r => sig(r.getString(1)).map(s => r.getLong(0) -> s))
      .toMap
    val buckets = scala.collection.mutable
      .Map.empty[(Int, Long, Long), List[Long]]
    docs.toSeq.sortBy(_._1).foreach { case (id, (_, mh)) =>
      (0 until 4).foreach { b =>
        val k = (b, mh(2 * b), mh(2 * b + 1))
        buckets(k) = id :: buckets.getOrElse(k, Nil)
      }
    }
    val cand = buckets.values.flatMap(ids =>
      for (i <- ids; j <- ids if i < j) yield (i, j)).toSet
    val expected = cand.flatMap { case (i, j) =>
      val sa = docs(i)._1; val sb = docs(j)._1
      val inter = (sa & sb).size.toLong
      val cij = inter * 1000000L / sa.size
      val cji = inter * 1000000L / sb.size
      if (math.max(cij, cji) >= operators.DedupOps.D12_MIN_PPM)
        Some((i, j) -> ((cij, cji)))
      else None
    }.toMap
    val got = q("d12_containment").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    assert(got.nonEmpty)
    // containment >= Jaccard always: |A∩B|/min-side >= |A∩B|/|A∪B|
    got.foreach { case ((i, j), (cij, cji)) =>
      val sa = docs(i)._1; val sb = docs(j)._1
      val inter = (sa & sb).size.toLong
      val jacPpm = inter * 1000000L / (sa.size + sb.size - inter)
      assert(math.max(cij, cji) >= jacPpm, s"($i,$j)")
    }
  }

  // ---- an2 --------------------------------------------------------

  test("an2: l-diversity replays exactly and agrees with an1 on class " +
    "sizes (same QI key, n >= 5 classes match level-0 publishes)") {
    val cust = Tables.customer(spark, sf)
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"),
        col("c_acctbal")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        math.floor(r.getDouble(2) / 1000).toLong))
    val expected = cust.groupBy(c => (c._1, c._2)).map { case (k, cs) =>
      val l = cs.map(_._3).distinct.size.toLong
      k -> ((cs.size.toLong, l, cs.size >= 5 && l >= 3))
    }
    val got = q("an2_ldiversity").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got === expected)
    // consistency with an1: identical class sizes on the shared key
    val an1Sizes = q("an1_kanon").collect()
      .filter(r => r.getInt(2) == 0)
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(3)).toMap
    an1Sizes.foreach { case (k, n) => assert(got(k)._1 == n, s"$k") }
    assert(got.values.map(_._1).sum == cust.length.toLong)
  }

  // ---- idx2 -------------------------------------------------------

  test("idx2: conjunctive retrieval replays exactly — every reported " +
    "doc contains ALL query terms, the count is the full match set, " +
    "the head is the first 5 docs in doc order") {
    val queries = Seq(1L -> "hash table", 2L -> "join merge",
      3L -> "sort key", 4L -> "stream window", 5L -> "fast query")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSet)
    val expected = queries.flatMap { case (qid, terms) =>
      val ts = terms.split(" ").toSet
      val hits = docs.collect { case (id, toks) if ts.subsetOf(toks) => id }
        .sorted
      if (hits.isEmpty) None
      else Some(qid ->
        ((hits.length.toLong, hits.take(5).toSeq.map(id => f"$id%06d"))))
    }.toMap
    val got = q("idx2_postings_and").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2).split("\\|").toSeq))).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  // ---- fn2 --------------------------------------------------------

  test("fn2: the time-to-convert histogram replays exactly from " +
    "min() anchors in integer µs-days") {
    val dayUs = 86400000000L
    val byUser = events.groupBy(_._4)
    val expected = byUser.values.flatMap { evs =>
      val views = evs.collect { case (_, tu, "view", _, _) => tu }
      val purch = evs.collect { case (_, tu, "purchase", _, _) => tu }
      if (views.isEmpty) None
      else {
        val tv = views.min
        val after = purch.filter(_ > tv)
        if (after.isEmpty) None else Some((after.min - tv) / dayUs)
      }
    }.groupBy(identity).map { case (d, hits) => d -> hits.size.toLong }
    val got = q("fn2_time_to_convert").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(got.values.sum <= byUser.size.toLong)
  }

  // ---- idx3 -------------------------------------------------------

  test("idx3: phrase retrieval replays exactly — adjacency in order, " +
    "occurrence totals, doc-ordered head") {
    val phrases = Seq(1L -> ("hash", "table"), 2L -> ("join", "merge"),
      3L -> ("sort", "key"), 4L -> ("stream", "window"),
      5L -> ("fast", "query"))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val expected = phrases.flatMap { case (qid, (a, b)) =>
      val occ = docs.flatMap { case (id, toks) =>
        val n = toks.indices.dropRight(1)
          .count(i => toks(i) == a && toks(i + 1) == b)
        if (n > 0) Some(id -> n.toLong) else None
      }
      if (occ.isEmpty) None
      else Some(qid -> ((occ.length.toLong, occ.map(_._2).sum,
        occ.map(_._1).sorted.take(5).toSeq.map(id => f"$id%06d"))))
    }.toMap
    val got = q("idx3_phrase").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          r.getString(3).split("\\|").toSeq))).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  // ---- mmr1 -------------------------------------------------------

  /** The engine's cosine convention replayed: doubles in array order,
    * rounded at 6 dp. */
  private def cos6(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i)
      nb += b(i) * b(i); i += 1 }
    math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5) / 1e6
  }

  test("mmr1: the greedy MMR trajectory replays exactly (integer 7/3 " +
    "ppm scores), and every query's picks are distinct candidates") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val expected = vecs.keys.filter(_ < 10).flatMap { qid =>
      val rel = vecs.toSeq.filter(_._1 != qid)
        .map { case (nid, v) => nid -> cos6(vecs(qid), v) }
      val cand = rel.sortBy { case (nid, c) => (-c, nid) }.take(12)
      def ppm(x: Double) = math.floor(x * 1e6 + 0.5).toLong
      var sel = Vector((cand.head._1, 1L, 7L * ppm(cand.head._2)))
      for (r <- 2 to operators.SimilarityOps.MMR_K) {
        val rest = cand.filterNot(c => sel.exists(_._1 == c._1))
        val scoredR = rest.map { case (nid, rl) =>
          val ms = sel.map(s => ppm(cos6(vecs(nid), vecs(s._1)))).max
          (nid, 7L * ppm(rl) - 3L * ms)
        }
        val pick = scoredR.minBy { case (nid, sc) => (-sc, nid) }
        sel :+= ((pick._1, r.toLong, pick._2))
      }
      sel.map { case (nid, ord, sc) => (qid, nid) -> ((ord, sc)) }
    }.toMap
    val got = q("mmr1_diverse_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    // structural: 5 distinct picks per query
    got.keys.groupBy(_._1).foreach { case (qid, ks) =>
      assert(ks.size == operators.SimilarityOps.MMR_K, s"query $qid")
    }
  }

  // ---- emb4 -------------------------------------------------------

  test("emb4: the integer power iterate replays exactly from raw " +
    "embeddings, is normalized to <= 1e6, and is (near-)fixed under " +
    "one more round — the eigen-ness evidence") {
    val vecs = Tables.embeddings(spark, sf).select(col("embedding"))
      .collect().map(_.getSeq[Float](0)
        .map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray)
    val dims = vecs.head.length
    val g = Array.ofDim[Long](dims + 1, dims + 1)
    for (i <- 1 to dims; j <- 1 to dims)
      g(i)(j) = vecs.map(v => v(i - 1) * v(j - 1)).sum
    val mg = (for (i <- 1 to dims; j <- 1 to dims) yield math.abs(g(i)(j))).max
    val dg = mg / 1000000000L + 1L
    for (i <- 1 to dims; j <- 1 to dims) {
      val x = g(i)(j)
      g(i)(j) = if (x < 0) -((-x) / dg) else x / dg
    }
    def round(v: Array[Long]): Array[Long] = {
      val w = Array.tabulate(dims + 1)(i =>
        if (i == 0) 0L else (1 to dims).map(j => g(i)(j) * v(j)).sum)
      val dw = (1 to dims).map(i => math.abs(w(i))).max / 1000000L + 1L
      w.map(x => if (x < 0) -((-x) / dw) else x / dw)
    }
    var v = Array.fill(dims + 1)(1000000L)
    for (_ <- 1 to operators.SimilarityOps.EMB4_ROUNDS) v = round(v)
    val expected = (1 to dims).map(i => i.toLong -> v(i)).toMap
    val got = q("emb4_top_direction").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(got.values.map(math.abs).max <= 1000000L)
    // near-fixed point: one more round barely rotates the iterate
    val v1 = round(v)
    val cos = {
      val a = (1 to dims).map(i => v(i).toDouble)
      val b = (1 to dims).map(i => v1(i).toDouble)
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // the gap on the sf0.001 fixture leaves ~1e-3 residual rotation
    // per round at depth 32; the law asserts near-fixedness, the
    // exact value is pinned by the replay above
    assert(cos > 0.995, s"iterate still rotating: cos=$cos")
  }

  // ---- gr3 --------------------------------------------------------

  test("gr3: link prediction replays exactly — wedge-budget witness " +
    "cap, common-neighbor counts, non-adjacent only, (cnt desc, a, c) " +
    "top-20") {
    val ip = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges: Set[(Long, Long)] = ip.groupBy(_._1).values.flatMap { ls =>
      val ps = ls.map(_._2).distinct.toSeq
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
    edges.foreach { case (a, b) =>
      adj(a) = adj.getOrElse(a, Set.empty) + b
      adj(b) = adj.getOrElse(b, Set.empty) + a
    }
    val degs = adj.view.mapValues(_.size.toLong).toMap
    // independent replay of the wedge-budget cap: largest degree d
    // with cumulative Σ n·deg·(deg−1) (ascending by deg) within
    // B·|edges|, floored at the minimum degree
    val budget = operators.GraphOps.GR3_WEDGE_BUDGET * edges.size.toLong
    val hist = degs.values.groupBy(identity).view
      .mapValues(_.size.toLong).toSeq.sortBy(_._1)
    var cum = BigInt(0)
    var admitted = 0L
    hist.foreach { case (dg, n) =>
      cum += BigInt(n) * dg * (dg - 1)
      if (cum <= BigInt(budget)) admitted = dg
    }
    val cap = math.max(admitted, degs.values.min)
    val cn = scala.collection.mutable.Map.empty[(Long, Long), Long]
    adj.foreach { case (w, ns) =>
      if (degs(w) <= cap) {
        val s = ns.toSeq.sorted
        for (i <- s.indices; j <- (i + 1) until s.length) {
          val k = (s(i), s(j))
          cn(k) = cn.getOrElse(k, 0L) + 1
        }
      }
    }
    val expected = cn.toSeq
      .filterNot { case (p, _) => edges(p) }
      .sortBy { case ((a, c), n) => (-n, a, c) }
      .take(20)
      .map { case ((a, c), n) => (a, c, n) }
    val got = q("gr3_link_predict").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    assert(got.size == 20)
  }
}
