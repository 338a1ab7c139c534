package graft

/** Benchmark main — driver contract: run headline queries on
  * `SPARK_GRAFT_SF_DIR`, print ONE JSON line
  * `{"metric":…,"value":N,"unit":"sec","queries":{…},"sf":…}`.
  *
  * Each query is timed end-to-end (plan + execute + count). A warmup
  * pass on the flagship query absorbs one-time JVM/codegen cost so the
  * numbers reflect steady-state throughput, which is what comparing
  * against the single-node baseline means.
  */
object Bench {
  /** The stdout-record key for a query: its unique prefix before the
    * first '_' (d9_substring_spans -> d9). private[graft] so
    * BenchContractSpec pins the SAME function bijective against
    * SparkEntry.queries — a rename that collides two timings fails at
    * test time, not mid-bench. */
  private[graft] def shortKey(name: String): String = name.takeWhile(_ != '_')

  /** `--quick` tier: one representative per operator family — the
    * escape valve for when the full surface brushes a timeout budget.
    * Curated, not sampled: each entry is its family's heaviest
    * REPRESENTATIVE shape (scan+agg, shuffle join, window, LSH, graph
    * rounds, inverted index, decontam join, sketch pass, …), so a
    * regression anywhere in the engine moves at least one quick line. SourceInvariantSpec pins membership ⊆
    * SparkEntry.queries so a rename can't silently shrink the tier. */
  private[graft] val quickTier: Set[String] = Set(
    "a2_group_count", "g1_rollup", "g11_cms_freq", "j2_inner_join",
    "j8_salted_join", "t1_topk", "u4_union_concat", "w2_rank_per_group",
    "w10_retention", "r3_interval_overlap", "x10_tfidf", "x8_contamination",
    "d2_minhash_lsh", "d4_ngram_jaccard", "s3_ann_ivf", "s6_ann_recall",
    "er1_fuzzy_block", "gr2_triangles", "gr7_kcore", "idx1_inverted",
    "qr1_batch_bm25", "pipe6_decontam_split", "sm2_split_assign",
    "ts4_mase_backtest", "an1_kanon", "mm1_media_features",
    "m4_upsert_latest", "dq1_fk_orphans", "emb3_standardize",
    "cls1_nb_model", "al1_uncertain_topk", "f1_phone_clean",
    "r1_asof_join", "bpe1_pair_merge")

  /** The cross-query one-time [[Memo]] builds a full run primes and
    * times as their OWN lines (so member-query timings stay order-
    * independent); the last element builds the line's memos in order.
    * The middle element is the line's CONSUMER short-keys: a
    * partial run (--quick or named queries) that selects any consumer
    * primes-and-times the memo too, so the build cost appears as its
    * own line instead of silently landing on (or vanishing from,
    * under min-of-two) the first consumer's timing. The gate-coverage
    * spec derives BENCH_X10.json's expected key set from these names —
    * add a memo here and the gate re-runs or the suite goes red, by
    * construction. */
  private[graft] val memoBuilds: Seq[(String, Set[String], (org.apache.spark.sql.SparkSession, String) => Unit)] = {
    import graft.operators.{DedupOps, GraphOps, PipelineOps, RetrievalOps}
    def inOrder(memos: Memo[_]*): (org.apache.spark.sql.SparkSession, String) => Unit =
      (s, d) => memos.foreach(_(s, d))
    Seq(
      ("memo_copurchase_edges",
        Set("gr2", "gr3", "gr4", "gr5", "gr6", "gr7", "gr8"),
        inOrder(GraphOps.artifacts)),
      // independent builds (different source scans, no shared subtree)
      ("memo_pipeline_perdoc",
        Set("pipe5", "pipe6", "pipe9", "pipe10"),
        (s, d) => Memo.overlap(PipelineOps.pipe5PerDoc(s, d), PipelineOps.pipe6Hits(s, d))),
      ("memo_dedup_sigs",
        Set("d2", "d7", "d10", "d12", "d13", "d14", "d15", "d17", "leak1"),
        inOrder(DedupOps.signatures, DedupOps.bandedCandidates, DedupOps.d2Pairs,
          DedupOps.verdicts)),
      ("memo_nb_scores",
        Set("cls2", "cls4", "cal1", "al1"),
        inOrder(RetrievalOps.nbDocScores)))
  }

  /** A failed line keeps its cause: `[graft] <name> failed: <class>:
    * <message>` on stderr, while the line itself records -1. */
  private def reportFailure(name: String, e: Throwable): Unit =
    System.err.println(s"[graft] $name failed: ${e.getClass.getName}: ${e.getMessage}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    // warmup: JVM + whole-stage-codegen compile paths
    try SparkEntry.entry(spark).count()
    catch { case e: Throwable => reportFailure("warmup", e) }
    // Optional args = query names (full or short-key) to bench alone,
    // for local iteration on one operator, or `--quick` for the
    // curated per-family tier. The driver always calls with no args ->
    // full surface, and only a FULL run may overwrite BENCH_FULL.json
    // (a partial run must never clobber the record).
    // Flags and names compose: `Bench --quick g5` benches the quick
    // tier plus g5; an unknown dash-prefixed arg fails loudly instead
    // of silently becoming a never-matching query name.
    val (flags, names) = args.partition(_.startsWith("-"))
    val badFlags = flags.filterNot(_ == "--quick")
    require(badFlags.isEmpty, s"unknown flags: ${badFlags.mkString(",")}")
    val wanted =
      if (flags.contains("--quick")) quickTier ++ names else names.toSet
    val selected =
      if (wanted.isEmpty) SparkEntry.queries.toSeq
      else SparkEntry.queries.toSeq.filter { case (n, _) =>
        wanted.contains(n) || wanted.contains(shortKey(n)) }
    // The shared cross-query memos are primed FIRST and each build is
    // recorded as its own line in BENCH_FULL.json: otherwise whichever
    // consumer ran first would absorb the build, making the member
    // timings order-dependent. The build is real work, so it counts
    // toward the total either way; this only fixes the ATTRIBUTION.
    // Full runs prime every memo; a partial run primes (and times)
    // the memo names selected PLUS any memo whose consumer family
    // intersects the selection, so quick totals stay comparable to
    // full totals. The gate's isolated retrial can still re-measure a
    // flagged memo line by name, the same way it re-measures a query.
    val selectedKeys = selected.map { case (n, _) => shortKey(n) }.toSet
    val memoLines: Seq[(String, Double)] =
      memoBuilds.filter { case (name, consumers, _) =>
        wanted.isEmpty || wanted.contains(name) ||
          consumers.exists(selectedKeys.contains)
      }.map { case (name, _, prime) =>
        val t0 = System.nanoTime()
        val t = try { prime(spark, sfDir); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable => reportFailure(name, e); -1.0 }
        name -> t
      }
    // THREE timed runs per query, min reported, spread recorded —
    // and the runs are INTERLEAVED as three full passes over the
    // query list, not back-to-back per query. Back-to-back min-of-3
    // shares one contention window: when the box is loaded for the
    // ~30 s a query's three trials span, all three minima inflate
    // together and the "min" records the noise. With full passes,
    // a loaded window inflates ONE pass's reading for each query it
    // overlaps; the per-query min across passes (taken ~minutes
    // apart) survives, and the inflation lands in the spread, where
    // it belongs. The per-query relative spread (max-min)/min across
    // passes goes to BENCH_FULL as its own map, so a round-over-round
    // diff can tell a real regression (stable spread, moved min) from
    // box noise (spread comparable to the delta). Memo builds stay
    // single-shot — a second prime hits the memo, so only their first
    // run is real.
    // SPARK_GRAFT_BENCH_RUNS overrides the per-query run count (the
    // x100 probe uses 2 — at 60M-row inputs a third run buys little
    // precision for a lot of wall; official records keep the default)
    // malformed values fail LOUDLY before any query runs (a bare
    // .toInt inside the run loop would crash mid-bench)
    val nRuns = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_RUNS").map { v =>
        require(scala.util.Try(v.toInt).isSuccess,
          s"SPARK_GRAFT_BENCH_RUNS is not an int: '$v'")
        v.toInt
      }.getOrElse(3))
    val ordered = selected.sortBy(_._1)
    // a failed query reports -1, never a (fast) bogus elapsed time
    def once(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        // time FULL materialization of the query's own plan, not
        // df.count(): Catalyst prunes every column count() doesn't
        // need, so a projection-heavy query (cleaning chains,
        // p1-class selects) would be under-measured.
        // toRdd executes the final physical plan and produces each
        // output row; count() on the RDD forces every partition.
        fn(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable => reportFailure(name, e); -1.0 }
    }
    // nRuns FULL passes over the whole list; each query's scratch
    // cache is cleared after its run in EVERY pass, so pass 2/3 time
    // the same cold-cache work as pass 1 (JIT/codegen warmth carries
    // over, which is what min-of-N was for in the first place).
    val passes: Seq[Seq[Double]] = Seq.fill(nRuns) {
      ordered.map { case (name, fn) =>
        val t = once(name, fn)
        // cached tables some operators persist are per-query scratch
        spark.catalog.clearCache()
        t
      }
    }
    val results = ordered.zipWithIndex.map { case ((name, _), i) =>
      val runs = passes.map(_(i))
      val t = if (runs.exists(_ < 0)) -1.0 else runs.min
      val spread = if (t <= 0) -1.0 else (runs.max - t) / t
      (name, t, spread)
    }
    // any failed query (-1) poisons the headline: a smaller-is-better
    // total must never look BETTER because a query crashed
    val lines = memoLines ++ results.map { case (n, t, _) => (n, t) }
    val total =
      if (lines.exists(_._2 < 0)) -1.0 else lines.map(_._2).sum
    // The stdout JSON line must fit the driver's 2000-char stdout tail
    // (with sbt's "[success] …" trailer after it) or the driver records
    // parsed:null; a per-query map outgrows it (~2.4k chars even with
    // short keys at 172 queries). The stdout record is TOTALS-ONLY
    // (~90 chars, fits at any surface size); the per-query map goes
    // only to BENCH_FULL.json next to the repo.
    // shortKey uniqueness still pinned: BENCH_FULL keys and the
    // `bench <key>` CLI selection depend on it.
    val shortKeys = results.map(r => shortKey(r._1))
    require(shortKeys.distinct.size == results.size,
      "query short-key collision: " +
        shortKeys.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }.mkString(","))
    val fullQs = lines.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // per-query relative spread across the timed runs, so a diff can
    // tell a moved min from box noise (memo lines are single-shot
    // builds and carry no spread entry)
    val spreads = results.map { case (k, _, sp) =>
      "\"" + k + "\":" + f"$sp%.2f" }.mkString("{", ",", "}")
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"queries":$fullQs,"spread":$spreads,"sf":"$sfDir"}"""
    if (wanted.isEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        (fullLine + "\n").getBytes("UTF-8"))
      // a read-only cwd must not fail the bench
      catch { case e: Throwable => reportFailure("BENCH_FULL.json write", e) }
    else
      // partial run: per-query (and per-memo) times for local
      // iteration and the gate's isolated retrial (never the
      // official record, so length doesn't matter here)
      lines.foreach { case (k, v) => System.err.println(f"[graft]   $k%-28s $v%.3f s") }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"sf":"$sfDir"}""")
    if (lines.exists(_._2 < 0)) {
      System.err.println("[graft] bench FAILED queries: " +
        lines.filter(_._2 < 0).map(_._1).mkString(", "))
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
