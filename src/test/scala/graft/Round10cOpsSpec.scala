package graft

import org.apache.spark.sql.functions._

/** Semantic checks for the round-10c wave (Count-Min frequency
  * sketch, landmark BFS) — plain-Scala replays plus the laws the
  * DuckDB oracle can't state directly: g11's one-sided-error
  * guarantee and exercised collision column, gr8's node conservation
  * and frontier-disjointness.
  */
class Round10cOpsSpec extends SparkSpec {

  // ---- g11 --------------------------------------------------------

  test("g11: the CMS estimates replay exactly from a local sketch, " +
    "the error is one-sided (est >= cnt ALWAYS), and the collision " +
    "column is EXERCISED (vocab 31 > width 16 forces overestimates)") {
    import graft.functions.Fns.md5LongLocal
    val D = operators.AnalyticsOps.CMS_D
    val W = operators.AnalyticsOps.CMS_W
    val toks = Tables.documents(spark, sf)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ", -1))
    def bucket(r: Int, tok: String): Long = md5LongLocal(s"$r:$tok") % W
    val cells = scala.collection.mutable.HashMap
      .empty[(Int, Long), Long].withDefaultValue(0L)
    for (t <- toks; r <- 0 until D) cells((r, bucket(r, t))) += 1L
    val exact = toks.groupBy(identity).map { case (t, xs) =>
      t -> xs.length.toLong
    }
    val top = exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(10)
    val expected = top.map { case (t, c) =>
      t -> ((c, (0 until D).map(r => cells((r, bucket(r, t)))).min))
    }.toMap
    val got = q("g11_cms_freq").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet === expected.keySet)
    for ((t, (cnt, est)) <- expected) {
      assert(got(t) === ((cnt, est, est - cnt)), s"tok $t")
      // the CMS one-sided guarantee: a bucket holds the true count
      // plus colliding mass, so min-over-rows never underestimates
      assert(est >= cnt, s"tok $t underestimated")
    }
    // the geometry is chosen so collisions actually occur (width 16
    // under a 31-term vocabulary) — a zero error column would mean
    // the audit stopped measuring anything
    assert(got.values.exists(_._3 > 0), "no collision reached the report")
  }

  // ---- gr8 --------------------------------------------------------

  test("gr8: the hop histogram replays exactly from a local BFS over " +
    "the co-purchase edges, conserves the node population, and pins " +
    "hop 0 to the single landmark") {
    val ip = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = ip.groupBy(_._1).values.flatMap { xs =>
      val ps = xs.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length)
        yield (ps(i), ps(j))
    }.toSet
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.Set[Long]]
    for ((a, b) <- edges) {
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val nodes = adj.keySet.toSet
    val hops = operators.GraphOps.GR8_HOPS
    val lm = nodes.min
    var visited = Set(lm)
    var frontier = Set(lm)
    val hist = scala.collection.mutable.LinkedHashMap(0L -> 1L)
    for (h <- 1 to hops) {
      val nxt = frontier.flatMap(adj(_)) -- visited
      hist(h.toLong) = nxt.size.toLong
      visited ++= nxt
      frontier = nxt
    }
    hist(-1L) = (nodes.size - visited.size).toLong
    val got = q("gr8_hop_histogram").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === hist.keySet.toSet)
    for ((h, n) <- hist)
      assert(got(h) === ((n, 1000000L * n / nodes.size)), s"hop $h")
    // conservation: every node is in exactly one hop row (frontiers
    // are disjoint by the anti-join; -1 catches the remainder)
    assert(got.values.map(_._1).sum == nodes.size.toLong)
    assert(got(0L)._1 == 1L)
  }

  // ---- ts5 --------------------------------------------------------

  test("ts5: the ACF replays exactly from a local dense-calendar " +
    "walk, every non-null r sits in [-1, 1], and each lag pairs " +
    "span - lag days") {
    val L = operators.WindowOps.TS5_MAX_LAG
    val days = Tables.events(spark, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .collect().map(_.getLong(0))
    val (d0, d1) = (days.min, days.max)
    val counts = days.groupBy(identity).map { case (d, xs) =>
      d -> xs.length.toLong
    }
    val x = (d0 to d1).map(d => counts.getOrElse(d, 0L))
    def acf(lag: Int): (Long, Option[Double]) = {
      val pairs = x.dropRight(lag).zip(x.drop(lag))
      val n = pairs.length.toDouble
      val (sx, sy) = (pairs.map(_._1).sum.toDouble,
        pairs.map(_._2).sum.toDouble)
      val sxx = pairs.map(p => p._1.toDouble * p._1).sum
      val syy = pairs.map(p => p._2.toDouble * p._2).sum
      val sxy = pairs.map(p => p._1.toDouble * p._2).sum
      val (vx, vy) = (n * sxx - sx * sx, n * syy - sy * sy)
      val r = if (vx <= 0 || vy <= 0) None
      else Some(math.floor((n * sxy - sx * sy)
        / (math.sqrt(vx) * math.sqrt(vy)) * 1000000 + 0.5) / 1000000)
      (pairs.length.toLong, r)
    }
    val got = q("ts5_acf").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    assert(got.keySet === (1L to L).toSet)
    for (lag <- 1L to L) {
      assert(got(lag) === acf(lag.toInt), s"lag $lag")
      // each lag drops exactly `lag` pairs off the dense span
      assert(got(lag)._1 == (d1 - d0 + 1) - lag, s"lag $lag n_days")
      got(lag)._2.foreach(r => assert(math.abs(r) <= 1.0, s"lag $lag |r|"))
    }
  }

  // ---- pipe7 ------------------------------------------------------

  test("pipe7: the apportionment replays exactly, conserves the " +
    "budget as an identity, and every quota is within one token of " +
    "its exact proportional share") {
    val B = operators.PipelineOps.PIPE7_BUDGET
    val masses = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
      .groupBy(_._1).map { case (src, xs) => src -> xs.map(_._2).sum }
    val tot = masses.values.sum
    val fl = masses.map { case (s0, n) => s0 -> (B * n / tot) }
    val rem = masses.map { case (s0, n) => s0 -> (B * n % tot) }
    val short = B - fl.values.sum
    val topUp = rem.toSeq.sortBy { case (s0, r) => (-r, s0) }
      .take(short.toInt).map(_._1).toSet
    val expected = masses.map { case (s0, n) =>
      s0 -> ((n, fl(s0) + (if (topUp(s0)) 1L else 0L)))
    }
    val got = q("pipe7_token_budget").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    // the Hamilton identity: quotas sum to the budget EXACTLY
    assert(got.values.map(_._2).sum == B)
    // and each source sits within one token of its exact share
    for ((s0, (_, alloc)) <- got)
      assert(alloc == fl(s0) || alloc == fl(s0) + 1, s"source $s0")
  }

  // ---- dq4 --------------------------------------------------------

  test("dq4: the Benford audit replays exactly from local digit " +
    "counts, the expectation constants sum to exactly one million, " +
    "all nine digits report, and rows conserve the order count") {
    val consts = operators.AnalyticsOps.DQ4_BENFORD_PPM
    assert(consts.map(_._2).sum == 1000000L)
    val prices = Tables.orders(spark, sf)
      .select(col("o_totalprice")).collect().map(_.getDouble(0))
    val counts = prices
      .map(p => math.floor(p).toLong.toString.head.asDigit)
      .groupBy(identity).map { case (dg, xs) => dg -> xs.length.toLong }
    val tot = prices.length.toLong
    val got = q("dq4_benford").collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet === (1 to 9).toSet)
    for ((dg, exp) <- consts) {
      val n = counts.getOrElse(dg, 0L)
      val obs = 1000000L * n / tot
      assert(got(dg) === ((n, obs, exp, obs - exp)), s"digit $dg")
    }
    assert(got.values.map(_._1).sum == tot)
    // TPC-H's uniform price generator is NOT Benford — the audit's
    // whole point is that this deviation is visible
    assert(got.values.map(d => math.abs(d._4)).max > 10000,
      "deviation column no longer detects the uniform generator")
  }

  // ---- er4 --------------------------------------------------------

  test("er4: the blocking census replays exactly from a local " +
    "probe-set sweep with the bit-pinned JW kernel, hits never " +
    "exceed gold or candidates, and both census axes are exercised") {
    import graft.functions.{JaroWinklerKernel => JW}
    import graft.functions.Fns.md5LongLocal
    val K = operators.DedupOps.ER4_SAMPLE_K
    val minJw = operators.DedupOps.ER4_JW_MIN
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_name"), col("p_size")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    def noun(name: String) = name.split(" ")(1)
    val probe = parts
      .sortBy { case (k, _, _) => (md5LongLocal(k.toString), k) }.take(K)
    var (nPairs, nGold, nCand, nHit) = (0L, 0L, 0L, 0L)
    for ((ka, na, sza) <- probe; (kb, nb, szb) <- parts if kb != ka) {
      nPairs += 1
      val jw = math.floor(JW.similarity(na, nb) * 1000000 + 0.5) / 1000000
      val gold = jw >= minJw
      val cand = noun(na) == noun(nb) && sza == szb
      if (gold) nGold += 1
      if (cand) nCand += 1
      if (gold && cand) nHit += 1
    }
    val r = q("er4_blocking_eval").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((nPairs, nGold, nCand, nHit)))
    assert(r.getLong(4) == 1000000L * nHit / nGold)
    assert(r.getLong(5) == 1000000L * (nPairs - nCand) / nPairs)
    // the census only measures anything if both axes are inhabited
    assert(nGold > 0 && nCand > 0)
    assert(nHit <= nGold && nHit <= nCand)
  }

  // ---- w16 --------------------------------------------------------

  test("w16: the streak census replays exactly from a local run-" +
    "length walk, conserves the dense calendar, and alternating runs " +
    "differ by at most one between sides") {
    val days = Tables.events(spark, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .collect().map(_.getLong(0))
    val (d0, d1) = (days.min, days.max)
    val counts = days.groupBy(identity)
      .map { case (d, xs) => d -> xs.length.toLong }
    val x = (d0 to d1).map(d => counts.getOrElse(d, 0L))
    val mu = x.sum / x.length
    val sides = x.map(_ > mu)
    val runs = sides.foldLeft(List.empty[(Boolean, Long)]) {
      case ((s, n) :: t, v) if s == v => (s, n + 1) :: t
      case (acc, v) => (v, 1L) :: acc
    }
    val expected = runs.groupBy(_._1).map { case (side, rs) =>
      side -> ((rs.length.toLong, rs.map(_._2).max, rs.map(_._2).sum))
    }
    val got = q("w16_streaks").collect()
      .map(r => r.getBoolean(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    // conservation: every dense-calendar day is in exactly one run
    assert(got.values.map(_._3).sum == (d1 - d0 + 1))
    // runs alternate sides, so counts differ by at most one
    assert(math.abs(got(true)._1 - got(false)._1) <= 1)
  }

  // ---- pipe8 ------------------------------------------------------

  test("pipe8: the budget fill replays exactly from a local greedy " +
    "walk over pipe7's quotas in x2-quality order, never overfills " +
    "a quota, and the cutoff is EXERCISED (some docs are left out)") {
    val quotas = q("pipe7_token_budget").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val scored = q("x2_quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1).length.toLong))
    val expected = docs.groupBy(_._2).map { case (src, xs) =>
      val ordered = xs.sortBy { case (id, _, _) => (-scored(id), id) }
      var (cum, sel, used) = (0L, 0L, 0L)
      for ((_, _, nt) <- ordered) {
        cum += nt
        if (cum <= quotas(src)) { sel += 1; used += nt }
      }
      src -> ((xs.length.toLong, sel, used, quotas(src),
        1000000L * used / quotas(src)))
    }
    val got = q("pipe8_budget_fill").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got === expected)
    for ((src, (nDocs, sel, used, alloc, _)) <- got) {
      assert(used <= alloc, s"$src overfilled")
      assert(sel <= nDocs)
    }
    // the greedy cutoff must actually cut: the budget constant is
    // sized under the corpus mass so selection is a real decision
    assert(got.values.exists { case (n, sel, _, _, _) => sel < n },
      "every doc selected everywhere — the budget no longer binds")
  }

  // ---- an6 --------------------------------------------------------

  test("an6: the suppression curve replays exactly from the QI class " +
    "sizes and is monotone non-decreasing in k") {
    val ks = operators.AnalyticsOps.AN6_KS
    val classes = Tables.customer(spark, sf)
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(identity).map(_._2.size.toLong).toSeq
    val pop = classes.sum
    val got = q("an6_kanon_curve").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet === ks.toSet)
    for (k <- ks) {
      val ok = classes.count(_ >= k).toLong
      val sup = classes.filter(_ < k).sum
      assert(got(k) === ((ok, sup, 1000000L * sup / pop)), s"k=$k")
    }
    // monotone: raising k can only suppress more
    val ordered = ks.map(got(_)._2)
    assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b })
  }

  // ---- w17 --------------------------------------------------------

  test("w17: the inter-arrival histogram replays exactly from local " +
    "per-user walks, conserves gaps to events minus users, and " +
    "shares sum to at most one million") {
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("tu"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gaps = events.groupBy(_._1).values.flatMap { xs =>
      val ts = xs.sortBy(e => (e._3, e._2)).map(_._3)
      ts.zip(ts.tail).map { case (a, b) => b - a }
    }.toSeq
    def bucket(g: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(
      math.max(g, 1L))
    val expected = gaps.groupBy(bucket)
      .map { case (b, xs) => b -> xs.size.toLong }
    val tot = gaps.size.toLong
    val got = q("w17_interarrival").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === expected.keySet)
    for ((b, n) <- expected)
      assert(got(b) === ((n, 1000000L * n / tot)), s"bucket $b")
    // conservation: each user's n events contribute n-1 gaps
    val nUsers = events.map(_._1).distinct.length
    assert(tot == events.length - nUsers)
    assert(got.values.map(_._2).sum <= 1000000L)
  }

  // ---- d14 --------------------------------------------------------

  test("d14: the S-curve census replays exactly from a local " +
    "shingle/minhash sweep, conserves the probe pairs, and both " +
    "curve ends are inhabited (random pairs low, planted dups high)") {
    import graft.functions.Fns.{bigramShinglesLocal, md5LongLocal}
    val K = operators.DedupOps.D14_PROBE_K
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .flatMap { case (id, text) =>
        val sh = bigramShinglesLocal(text)
        if (sh.isEmpty) None
        else Some((id, sh.map(md5LongLocal).distinct.toSet,
          Array.tabulate(8)(k => sh.map(x => md5LongLocal(s"$k:$x")).min)))
      }
    val probe = docs.sortBy { case (id, _, _) =>
      (md5LongLocal(id.toString), id)
    }.take(K)
    val cells = scala.collection.mutable.HashMap
      .empty[Long, (Long, Long)].withDefaultValue((0L, 0L))
    for ((pid, psh, pmh) <- probe; (id, sh2, mh) <- docs if id != pid) {
      val inter = (sh2 & psh).size.toLong
      val jac = 1000000L * inter / (sh2.size + psh.size - inter)
      val collide = (0 until 4).exists(b =>
        mh(b * 2) == pmh(b * 2) && mh(b * 2 + 1) == pmh(b * 2 + 1))
      val dec = jac / 100000L
      val (n, c) = cells(dec)
      cells(dec) = (n + 1, c + (if (collide) 1L else 0L))
    }
    def theo(dec: Long): Long = {
      val sMid = math.min(dec * 0.1 + 0.05, 1.0)
      val q = 1.0 - sMid * sMid
      math.floor((1.0 - q * q * q * q) * 1000000 + 0.5).toLong
    }
    val got = q("d14_lsh_scurve").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet === cells.keySet.toSet)
    for ((dec, (n, c)) <- cells)
      assert(got(dec) === ((n, c, 1000000L * c / n, theo(dec))),
        s"decile $dec")
    // conservation: K probes x (docs-with-shingles - 1) directed pairs
    assert(got.values.map(_._1).sum == K.toLong * (docs.length - 1))
    // the curve must have both ends to measure anything: a random-
    // pair mass in the low deciles and the planted near-dups up top
    assert(got.keySet.min <= 1L && got.keySet.max >= 8L)
  }

  // ---- al2 --------------------------------------------------------

  test("al2: the committee census replays exactly from the two " +
    "served classifiers, conserves the query slice, and the QBC " +
    "premise holds — agreement cells are at least as accurate as " +
    "disagreement cells") {
    val knn = q("cls3_knn_classify").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    // local Rocchio: integer-thousandths quantization, truncate-div
    // centroids, (dist2, label) argmin — the cls5 arithmetic verbatim
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    val cents = vecs.groupBy(_._2).map { case (lbl, xs) =>
      lbl -> Array.tabulate(xs.head._3.length)(i =>
        xs.map(_._3(i)).sum / xs.length)
    }
    def rocchioPred(v: Array[Long]): Long =
      cents.toSeq.map { case (lbl, c) =>
        (v.indices.map(i => (v(i) - c(i)) * (v(i) - c(i))).sum, lbl)
      }.min._2
    val expected = vecs.filter(v => knn.contains(v._1))
      .groupBy { case (id, _, emb) =>
        (knn(id)._2, rocchioPred(emb).toInt)
      }
      .map { case ((kp, rp), xs) =>
        (kp, rp) -> ((kp == rp, xs.length.toLong,
          xs.count { case (id, _, _) => knn(id)._1 == kp }.toLong,
          xs.count { case (id, t, _) => t.toInt == rp }.toLong))
      }
    val got = q("al2_committee").collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getBoolean(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got === expected)
    // conservation: cells partition the held-out query slice
    assert(got.values.map(_._2).sum == knn.size.toLong)
    // agree flag is consistent with the cell key
    for (((kp, rp), (agree, _, _, _)) <- got)
      assert(agree == (kp == rp), s"cell ($kp,$rp)")
    // correctness counts never exceed the cell size
    for ((cell, (_, n, kc, rc)) <- got) {
      assert(kc <= n && rc <= n, s"cell $cell")
    }
    // both halves of the census must be inhabited — an all-agree or
    // all-disagree committee measures nothing. The QBC premise
    // itself (agreement mass more accurate than disagreement mass)
    // is what the census REPORTS, not a law: on a 40-query slice of
    // synthetic embeddings it measurably fails for kNN at this sf —
    // which is exactly the kind of fact the harness exists to
    // surface before anyone ships the labeling queue.
    assert(got.values.exists(_._1) && got.values.exists(!_._1))
  }

  // ---- dq5 --------------------------------------------------------

  test("dq5: the cardinality census replays exactly, the declared " +
    "single-column keys are unique, dimension columns duplicate, and " +
    "the census CATCHES the generator's non-unique lineitem " +
    "composite — the finding that proves the audit measures") {
    val entries = operators.AnalyticsOps.DQ5_KEYS
    val got = q("dq5_cardinality").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet ===
      entries.map { case (t, cs) => (t, cs.mkString(",")) }.toSet)
    for ((tbl, cols) <- entries) {
      val df = tbl match {
        case "customer" => Tables.customer(spark, sf)
        case "orders" => Tables.orders(spark, sf)
        case "lineitem" => Tables.lineitem(spark, sf)
        case "events" => Tables.events(spark, sf)
        case "documents" => Tables.documents(spark, sf)
      }
      val rows = df.select(cols.map(col): _*).collect()
        .map(_.toSeq.toList)
      val (n, nd) = (rows.length.toLong, rows.distinct.length.toLong)
      assert(got((tbl, cols.mkString(","))) ===
        ((n, nd, n - nd, 1000000L * nd / n)), s"$tbl ${cols.mkString(",")}")
    }
    // declared single-column keys hold
    for (k <- Seq(("customer", "c_custkey"), ("orders", "o_orderkey"),
      ("events", "event_id"), ("documents", "doc_id")))
      assert(got(k)._3 == 0L, s"$k not unique")
    // dimensions duplicate (the NDV half is exercised)
    assert(got(("documents", "lang"))._3 > 0L)
    // THE FINDING: the synthetic generator does not enforce the
    // TPC-H composite (l_orderkey, l_linenumber) — if this ever
    // starts passing uniqueness, the fixture changed; re-read dq5's
    // doc before "fixing" this assertion
    assert(got(("lineitem", "l_orderkey,l_linenumber"))._3 > 0L)
  }

  // ---- qr5 --------------------------------------------------------

  test("qr5: the recall census replays exactly from the two served " +
    "rankings, hits never exceed pairs, and champion hits are a " +
    "subset of the exhaustive ranking's query set") {
    val ex = q("qr1_batch_bm25").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ch = q("idx5_champion_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nQ = ex.map(_._1).distinct.length.toLong
    val nHit = ex.count(ch).toLong
    val r = q("qr5_champion_recall").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((nQ, ex.length.toLong, nHit, 1000000L * nHit / ex.length)))
    assert(nHit <= ex.length)
    // every query the exhaustive ranking serves gets a champion row
    // (the candidate union always contains each term's top champions)
    assert(ch.map(_._1).subsetOf(ex.map(_._1).toSet) ||
      ex.map(_._1).toSet.subsetOf(ch.map(_._1)))
  }

  // ---- ts6 --------------------------------------------------------

  test("ts6: the variance decomposition replays exactly from a local " +
    "EWMA + weekday fold, every component is non-negative, and the " +
    "total row is the identity") {
    val days = Tables.events(spark, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .collect().map(_.getLong(0))
    val counts = days.groupBy(identity)
      .map { case (d, xs) => d -> xs.length.toLong }
    val span = (days.min to days.max).toArray
    val x = span.map(counts.getOrElse(_, 0L))
    val mu = x.sum / x.length
    val t = new Array[Long](x.length)
    var ema = 0L
    for (i <- x.indices) {
      ema = if (i == 0) x(i) else (3L * ema + x(i)) / 4L
      t(i) = ema
    }
    val r = x.indices.map(i => x(i) - t(i))
    val dow = span.map(dd => ((dd + 4) % 7).toInt)
    val sDow = r.indices.groupBy(dow(_)).map { case (w, idx) =>
      w -> idx.map(r).sum / idx.length
    }
    def sq(v: Long) = v * v
    val ssTot = x.map(v => sq(v - mu)).sum
    val expected = Map(
      "trend" -> t.map(v => sq(v - mu)).sum,
      "seasonal" -> x.indices.map(i => sq(sDow(dow(i)))).sum,
      "remainder" -> x.indices.map(i => sq(r(i) - sDow(dow(i)))).sum,
      "total" -> ssTot)
    val got = q("ts6_decompose").collect()
      .map(row => row.getString(0) -> ((row.getLong(1), row.getLong(2))))
      .toMap
    assert(got.keySet === expected.keySet)
    for ((c, ss) <- expected) {
      assert(got(c) === ((ss, 1000000L * ss / ssTot)), s"component $c")
      assert(ss >= 0L)
    }
    assert(got("total")._2 == 1000000L)
  }
}
