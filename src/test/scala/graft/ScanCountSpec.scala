package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Corpus-scan ratchet over EVERY registered query.
  *
  * Why this exists: Spark's ReuseExchange only unifies canonically
  * identical subtrees, and per-consumer filter inference (each join
  * key pushes its own `isnotnull` into the subtree) silently breaks
  * that identity — a relation consumed twice then re-plans its whole
  * scan+transform lineage per consumer. A plan audit this round caught
  * the corpus tokenize+aggregate executing 3× in x12 and 2× in
  * x10/x11 that way. At 100 TB a duplicated corpus subtree is the
  * single most expensive silent regression an edit can introduce, so
  * this spec pins every query to its adjudicated FileScan / kernel
  * budget from that audit.
  *
  * Counting walks the operator TREE, not the plan string: a persisted
  * relation (x10/x11/x12 cache their corpus tf exactly because of the
  * audit) re-prints its definition in the string under every
  * InMemoryTableScan, but in the tree that scan is a leaf — only
  * nodes actually in the tree execute per consumer.
  *
  * The budgets are MAXIMA. The unlisted default is the STRICT budget
  * (1 scan, 0 kernels) — a new single-pass query passes it on merit,
  * and anything richer fails until its shape is adjudicated into the
  * map. Listed exceptions: multi-table joins and set ops legitimately
  * scan 2 tables; m6 constructs three synthetic change sets from the
  * base (4 scans, fixture shape); s3/s5 are multi-pass ANN by design
  * (codebook/centroid pass + assignment + query + documented re-rank
  * re-read); x8 shingles two splits (2 scans, 2 kernels); d5's corpus
  * side is memoized (0 scans) but keeps its verification kernel.
  * Note x10/x11 still plan ONE real scan each — their 1-row
  * corpus-stats branch — which the strict default covers; x12 and the
  * memoized dedup queries (d2/d10) plan 0.
  */
class ScanCountSpec extends SparkSpec {

  /** (maxFileScans, maxKernels) per query, from the adjudicated audit. */
  private val budget: Map[String, (Int, Int)] = {
    val twoScans = Seq("j1_lookup_group_array", "j2_inner_join",
      "j3_semi_join", "j4_join_mismatch_filter", "j5_self_join",
      "j6_anti_join", "j7_bloom_prejoin", "j8_salted_join",
      "m4_upsert_latest",
      "m7_snapshot_diff", "r3_interval_overlap", "s1_ann_brute",
      "s2_ann_lsh", "s4_knn_join", "u3_union_columns", "u4_union_concat",
      "u6_intersect", "u7_except", "u9_except_all", "w8_global_bin",
      // w9's 1-row "now" anchor agg re-reads the 3-column pruned
      // events projection rather than caching the corpus
      "w9_decay_score",
      // sm6's mixture-rate branch re-reads the 2-column pruned
      // (doc_id, source) projection rather than caching the corpus
      "sm6_temperature_mix",
      // sm7's bucket-totals branch re-reads the 2-column pruned
      // (doc_id, n_chars) projection for the offset/step dimensions
      "sm7_systematic_sample",
      // voc1's vocab pass and probe pass each re-read the pruned
      // (doc_id, text) projection — the vocab pass reduces to V rows
      // so caching the exploded corpus between the passes costs more
      // than the second scan
      "voc1_oov_rate",
      // cls1's token-count pass and doc-prior pass re-read pruned
      // projections ((lang, text) and (lang)); both aggregate to
      // vocabulary-/|langs|-sized outputs immediately
      "cls1_nb_model",
      // cls3's constant-size query slice and the corpus are disjoint
      // filters of the same table — two pruned reads, s1's shape
      // with the held-out split
      "cls3_knn_classify",
      // geo3's radius self-join reads the 1-column pruned orderkey
      // projection on both sides (probe fan-out + home cells) — the
      // j5/gr2 self-join adjudication
      "geo3_radius_pairs",
      // gr4 builds the same co-purchase edge set (2 pruned reads);
      // the degree agg and moment joins consume the persisted edges
      "gr4_assortativity",
      // w10's first-activity agg and the activity join each re-read
      // the 2-column pruned (user_id, ts) projection — the
      // fn1/w9 events adjudication
      "w10_retention",
      // m8's calendar-midpoint anchor is a 1-row agg beside m5's
      // interval window — the w9 "now"-anchor adjudication: a 3-column
      // pruned re-read beats caching the corpus for a 1-row reduce
      "m8_asof_state")
      .map(_ -> ((2, 0)))
    val kernel = Seq("d4_ngram_jaccard", "d6_minhash_udaf",
      "mm1_media_features", "mm2_frame_sample", "mm3_audio_chunk",
      "x7_top_ngrams").map(_ -> ((1, 1)))
    (twoScans ++ kernel ++ Seq(
      "d5_embedding_neardup" -> ((0, 1)), // corpus side memoized
      // d12 scores the memoized signature table (0 scans, d2's
      // adjudication) with its one containment kernel
      "d12_containment" -> ((0, 1)),
      // two-pass standardization by design: the stats pass reduces
      // to 64 rows immediately, so two pruned embedding reads beat
      // caching the 64×-exploded corpus (the voc1/cls1 adjudication)
      "emb3_standardize" -> ((2, 0)),
      // mmr1's relevance pass is s1's 2-scan broadcast shape plus
      // one more pruned embedding read to attach candidate vectors
      // (rankings-sized join) — the greedy itself is a per-query
      // flatMapGroups kernel (MapGroups, not MapPartitions) over
      // the pooled candidates
      "mmr1_diverse_topk" -> ((3, 0)),
      // fn2's view and purchase anchors are two type-filtered pruned
      // reads, each reduced to (user, long) immediately (the fn1
      // adjudication)
      "fn2_time_to_convert" -> ((2, 0)),
      "m6_cdc_apply" -> ((4, 0)),
      // x18's corpus-stats branch (1-row N) re-reads the pruned
      // projection beside the moments pass — the x10/x11 shape
      "x18_burstiness" -> ((2, 0)),
      // x19's unigram and bigram passes each aggregate to
      // vocabulary-sized counts immediately (the cls1 two-pass
      // adjudication); the bigram relation persists for its head
      // cut + total
      "x19_collocation_lift" -> ((2, 0)),
      // dq1 audits four FK edges off TWO persisted fact-key
      // projections (lineitem, orders — the r10 ×10-probe fix; was 12
      // scans) — only the three dimension parents scan per run
      "dq1_fk_orphans" -> ((3, 0)),
      // dq2 censuses TWO tables (documents + events); each side is
      // exactly one all-columns aggregate pass — the adjudicated
      // minimum for a two-table audit
      "dq2_null_profile" -> ((2, 0)),
      // cls2 serves the cls1-style model: model pass (lang, text),
      // prior pass (lang), scoring pass (doc_id, lang, text) — each
      // aggregates immediately, so three pruned re-reads beat caching
      // the corpus-sized exploded token relation (the voc1/cls1
      // adjudication)
      "cls2_nb_confusion" -> ((3, 0)),
      // cal1 rides cls2's exact 3-pass shape (shared nbDocScores);
      // the margin lead() reuses the same per-doc window
      "cal1_margin_calibration" -> ((3, 0)),
      // al1 is cal1's window over the same shared nbDocScores 3-pass
      // shape, ending in a TakeOrderedAndProject bottom-K
      "al1_uncertain_topk" -> ((3, 0)),
      // pipe5 aggregates the memoized per-doc verdict checkpoint
      // (0 FileScans — the d2/d12 memo adjudication); the strict
      // default covers it
      // sm8's min-class-k agg and the rank window each re-read the
      // 2-column pruned (doc_id, lang) projection — the sm6/sm7 shape
      "sm8_class_balance" -> ((2, 0)),
      // voc2 composes registered tok1 (1 scan + its merge kernel,
      // r13) with the 2-column pruned lang attachment — the
      // constituents'-sum rule
      "voc2_fertility" -> ((2, 1)),
      // x21's doc-list left join re-reads the 1-column pruned
      // projection beside the gram build (the voc1 adjudication)
      "x21_dup_ngrams" -> ((2, 0)),
      // qr3 composes registered qr1 (1 scan) with the conjMatches
      // pseudo-qrels pass (1 pruned documents scan) — the s6/rrf1
      // constituents'-sum rule
      "qr3_mrr" -> ((2, 0)),
      // qr2 = qr1's scoring pass (1 scan, persisted hits) + one
      // broadcast-semi re-read of the pruned (doc_id, text)
      // projection to fetch the |Q|·3 feedback docs — only feedback
      // rows ever explode, so the re-read beats caching corpus text
      "qr2_prf_expand" -> ((2, 0)),
      // one type-filtered read of the 3-column pruned events
      // projection per funnel step — each reduces to (user, long)
      // immediately, so three pruned scans beat caching the corpus
      // (the cls2/voc1 adjudication)
      "fn1_funnel" -> ((3, 0)),
      "s3_ann_ivf" -> ((4, 0)),
      // pipe4 composes registered dsir1 (cached tf → 0-1 scans),
      // d11 (1 rewrite scan + cached segs) and tok1 (1 scan + its
      // merge kernel, r13); the measured tree is 2 FileScans — the
      // constituents' sum
      "pipe4_domain_tilt" -> ((2, 1)),
      // rrf1 composes the registered x11 (1 scan + cached hits) and
      // s1 (2 embedding scans) verbatim; fusion adds NO scan of its
      // own — the budget is exactly the constituents' sum
      "rrf1_hybrid_fuse" -> ((3, 0)),
      "s5_ann_pq" -> ((4, 1)),
      // s8's three adjudicated reads: the bounded 16-row model fetch
      // (pqModel), the ONE fused encode-kernel corpus pass (cells +
      // codes with both models as closure literals), and the exact
      // re-rank's second read of the ~100 shortlisted full-precision
      // rows (the s5 posture: a vec_id-partitioned layout prunes it
      // to matching files at cluster scale). The kernel is the
      // index build — the whole point of the fused form.
      "s8_ann_ivfpq" -> ((3, 1)),
      // s6 evaluates the registered s2+s3(np2)+s3(np1)+s5+s7+s8
      // against cached s1 ground truth — the budget is the
      // constituents' sum (2+4+4+4+2+3 scans, the s5 + s8 kernels)
      // with the exact set persisted; the np1 row is the recall/cost
      // curve, priced accordingly
      "s6_ann_recall" -> ((19, 2)),
      // s7's [mn, mx] model pass + the dequantize-and-score pass —
      // the g11 two-pruned-reads adjudication (the model pass reduces
      // to 64 rows immediately)
      "s7_ann_sq" -> ((2, 0)),
      "x8_contamination" -> ((2, 2)),
      // pipe6 censuses the memoized per-doc hit checkpoint (0
      // FileScans; the build's two split scans are paid once in the
      // memo_pipeline_perdoc line) — strict default covers it
      // two-pass by design: MG candidate kernel, then the exact
      // count pass re-scans behind the broadcast semi-join
      "g9_heavy_hitters" -> ((2, 1)),
      // g12 shares g11's two-pass shape (sketch cells + exact probe
      // head) — the whole (d, w) sweep derives from the ONE width-64
      // cell pass, so widening the sweep never adds a scan
      "g12_cms_error_curve" -> ((2, 0)),
      // d15 reads the memoized d2 pair checkpoint (0 FileScans) plus
      // d3's fingerprint pass over pruned (doc_id, text); the second
      // scan only appears when the spec session hasn't built the d2
      // memo yet and the plan inlines the pair pipeline
      "d15_simhash_fidelity" -> ((2, 0)),
      // g11's sketch pass and exact-top pass each re-read the pruned
      // text projection (the g9 two-pass adjudication, no kernel —
      // the sketch is a declarative 64-cell agg)
      "g11_cms_freq" -> ((2, 0)),
      // er4's fixed probe head and the catalog sweep are two pruned
      // part reads (the cls3 probe-set adjudication)
      "er4_blocking_eval" -> ((2, 0)),
      // pipe9 joins the memoized pipe5/pipe6 verdict checkpoints —
      // its ONLY FileScan is the fingerprint projection of the train
      // split (r11 verdict #6: was 5 scans re-deriving both memos);
      // strict default covers it
      // pipe8's scored pass + pipe7's token-mass quota pass (which
      // reduces to |sources| rows immediately — the voc1/cls1
      // two-pruned-reads adjudication)
      "pipe8_budget_fill" -> ((2, 0)),
      // dq5 audits five tables, one pruned scan each (the dq2
      // one-agg-per-table adjudication; cost independent of entry
      // count)
      "dq5_cardinality" -> ((5, 0)),
      // al2 = cls3's two pruned embedding reads + rocchio's centroid
      // pass and literal-centroid assignment scan (each member keeps
      // its own adjudicated shape)
      "al2_committee" -> ((4, 0)),
      // x9's bigram build + distinct count is a typed kernel (r13 —
      // the buildSignatures/pipe6 dense-hashing boundary; interpreted
      // HOF evaluation measured ~4x the kernel); one pruned scan
      // feeds it
      "x9_repetition" -> ((1, 1)),
      // tok2's incremental merge-fold kernel over the pruned text
      // column (r13 — same boundary; the five budgets are prefixes
      // of ONE fold, partial-summed per partition)
      "tok2_merge_curve" -> ((1, 1)),
      // x14's per-doc char histogram is a zero-exchange kernel (r13
      // — the pipe5PerDoc in-row discipline: the old explode paid a
      // corpus-chars agg for a per-row statistic)
      "x14_char_stats" -> ((1, 1)),
      // tok1's merge chain is the shared tok1PerWordLocal kernel
      // (r13 — the pipe6/x9/tok2 boundary), one pruned scan
      "tok1_bpe_apply" -> ((1, 1)),
      // gr2 consumes the memoized edge/degree/bloom artifacts (0
      // FileScans once the memo exists; 2 pruned lineitem reads when
      // this spec's session builds it inline) plus its r14 wedge-
      // enumeration kernel — per-pair hashing + bloom probes are the
      // d2/tok2 dense-work boundary, ~4-10× faster as a JIT'd loop
      // than as interpreted join+filter rows
      "gr2_triangles" -> ((2, 1)),
      // gr3's r16 wedge kernel became VISIBLE to this audit in r18:
      // the broadcast-anti tail removed the cn persist whose
      // InMemoryRelation used to hide the kernel subtree from
      // executedPlan.collect — same memoized-artifact posture as gr2
      "gr3_link_predict" -> ((2, 1)))).toMap
      .withDefaultValue((1, 0))
  }

  private def physical(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  test("no query plans more corpus scans or kernels than its " +
    "adjudicated budget — a duplicated subtree (the ReuseExchange-" +
    "defeat class of bug) fails here by name") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val phys = physical(fn(spark, sf).queryExecution.executedPlan)
        spark.catalog.clearCache()
        val scans = phys.collect { case f: FileSourceScanExec => f }.length
        val kernels = phys.collect { case m: MapPartitionsExec => m }.length
        val (maxS, maxK) = budget(name)
        if (scans > maxS || kernels > maxK)
          Some(s"$name: FileScan=$scans (max $maxS), " +
            s"MapPartitions=$kernels (max $maxK)")
        else None
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
