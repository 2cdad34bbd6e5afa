package graft.queries

import graft.SparkTestBase

/** Physical-plan regressions for the scale-critical properties the
  * queries rely on: pushdown, pruning, top-K without global sort, and
  * unhinted join selection. These lock the plans SURVEY §8 claims —
  * a refactor that silently loses one fails here, not at 100 TB.
  */
class PlanShapeSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q06 global top-K plans TakeOrderedAndProject, not a global sort") {
    val p = plan(Parity.q06GlobalTop100(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(300))
  }

  test("q07 pushes both string filters into the parquet scans") {
    val p = plan(Parity.q07FullDataset(spark, sf))
    assert(p.contains("EqualTo(c_mktsegment,MACHINERY)"), "customer filter not pushed")
    assert(p.contains("EqualTo(o_orderstatus,P)"), "orders filter not pushed")
  }

  test("q16 scan prunes to exactly the referenced document columns") {
    val p = plan(TextQueries.q16TextStats(spark, sf))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.linesIterator.find(_.contains("ReadSchema")).getOrElse("?"))
  }

  test("q02 has no forced broadcast on the scaling customer table") {
    // nation (fixed 25-row dim) may be hinted; customer must be left to
    // Catalyst/AQE (VERDICT r1 flagged a hard customer hint as a
    // 100 TB OOM). Hints survive analysis as ResolvedHint nodes; each
    // hint's immediate subtree must be the nation relation only.
    val analyzed = Parity.q02Top10PerNation(spark, sf)
      .queryExecution.analyzed.toString
    val hintSubtrees = analyzed.split("ResolvedHint").drop(1).map(_.take(300))
    assert(hintSubtrees.nonEmpty, "expected the nation broadcast hint to survive analysis")
    hintSubtrees.foreach { sub =>
      assert(sub.contains("nation"), s"hint over unexpected subtree: $sub")
      assert(!sub.contains("customer.parquet"), s"customer is hint-broadcast: $sub")
    }
  }

  test("q01 aggregates partially before the exchange (map-side combine)") {
    val p = plan(Parity.q01PricingSummary(spark, sf))
    assert(p.contains("partial_"), "no partial aggregation before shuffle")
  }

  test("q31 approx percentiles aggregate partially before the exchange") {
    // the sketch's point is bounded per-group state that combines
    // map-side; a plan that shipped raw values to the reducers would
    // be q30's scale problem wearing q31's name
    val p = plan(PipelineQueries.q31PercentilesApprox(spark, sf))
    assert(p.contains("partial_approx_percentile"),
      p.linesIterator.filter(_.contains("approx_percentile")).take(2).mkString("\n"))
  }

  test("q39 joins the eval gram set by broadcast — the training side never shuffles on the gram") {
    val p = plan(TextQueries.q39Decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "eval gram set should broadcast")
    // the contaminated-flag left join keeps zero-overlap docs; it must
    // also be a broadcast (overlap counts are small), never a
    // sort-merge of the full training side against itself
    assert(!p.contains("SortMergeJoin"),
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("q38 both shingle aggregations combine map-side before their exchanges") {
    val p = plan(TextQueries.q38RepetitionFilter(spark, sf))
    assert(p.contains("partial_count"), "no partial aggregation before shuffle")
  }

  test("q37 split assignment is a pure projection over the scan — no joins, no aggregates") {
    val p = plan(PipelineQueries.q37DeterministicSplit(spark, sf))
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      p.linesIterator.take(12).mkString("\n"))
  }

  test("q52 HLL cardinality aggregates partially before the exchange") {
    // the sketch's point is fixed-size mergeable per-group state; a
    // plan that shipped raw user_ids to the reducers would be q51's
    // scale problem wearing q52's name
    val p = plan(PipelineQueries.q52CardinalityApprox(spark, sf))
    assert(p.contains("partial_approx_count_distinct"),
      p.linesIterator.filter(_.contains("approx_count_distinct")).take(2).mkString("\n"))
  }

  test("q45 as-of join is one exchange + window — no join operator at all") {
    // the operator's whole point: the naive key+inequality join (pair
    // blowup) and the pure range join (nested loop) never appear; the
    // match is a window over a union
    val p = plan(RelationalQueries.q45AsofJoin(spark, sf))
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      "expected the carry-forward window")
  }

  test("q46/q48 manufactured-equi-key joins plan hash joins, never nested loops") {
    for ((name, df) <- Seq(
        "q46" -> RelationalQueries.q46RangeJoin(spark, sf),
        "q48" -> RelationalQueries.q48OverlapJoin(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name: " + p.linesIterator.filter(_.contains("Join")).mkString("\n"))
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"$name: expected an equi-join on the bucket key")
    }
  }

  test("q54 top-100 n-grams plans TakeOrderedAndProject over the aggregate") {
    val p = plan(CorpusOpsQueries.q54BoilerplateNgrams(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(300))
    assert(p.contains("partial_"), "n-gram counts must combine map-side")
  }

  test("q55 joins the tiny strata aggregates by broadcast, not shuffle") {
    // strata cardinality = |langs| — a genuine always-small side, so
    // the explicit broadcast hint is the right call (contrast q02's
    // customer rule); the corpus side must never shuffle for the join
    val p = plan(CorpusOpsQueries.q55StratifiedSample(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.linesIterator.filter(_.contains("Join")).take(3).mkString("\n"))
    assert(!p.contains("SortMergeJoin"),
      "corpus shuffled for a |langs|-row join: " +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("q57 hopping-window aggregate combines map-side before its exchange") {
    val p = plan(CorpusOpsQueries.q57HoppingWindows(spark, sf))
    assert(p.contains("partial_"), "no partial aggregation before shuffle")
    assert(!p.contains("CartesianProduct"), "window generation must not join")
  }

  test("q60 rollup plans one Expand + one aggregate, not three scans") {
    val p = plan(AnalyticsOpsQueries.q60RollupScorecard(spark, sf))
    assert(p.contains("Expand"), "rollup must plan an Expand over grouping sets")
    assert(p.contains("partial_"), "no partial aggregation before shuffle")
    assert(countScans(p, "documents") == 1,
      "rollup re-scanned the fact table for subtotal levels")
  }

  test("q61 declared-values pivot runs zero discovery scans") {
    val p = plan(AnalyticsOpsQueries.q61PivotLengthClasses(spark, sf))
    assert(countScans(p, "documents") == 1,
      "pivot ran an extra distinct-scan to discover its columns")
    assert(p.contains("partial_"), "no partial aggregation before shuffle")
  }

  test("q62 reuses one user_id exchange for both the window and the agg") {
    val p = plan(AnalyticsOpsQueries.q62EventDeltas(spark, sf))
    val exchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(p).size
    assert(exchanges == 1,
      s"expected one user_id exchange (window + agg co-partitioned), got $exchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q64 snapshot diff plans an anti join with the A side pruned") {
    val p = plan(AnalyticsOpsQueries.q64SnapshotDiff(spark, sf))
    assert(p.contains("LeftAnti"), "diff must plan an anti join")
    // the A (old snapshot) side must carry only the hash column into
    // the join — source/lang/n_chars pruned at its scan
    assert(!p.contains("ReadSchema: struct<doc_id:bigint,text:string,lang"),
      "A-side scan reads payload columns the anti join never uses")
  }

  private def countScans(plan: String, table: String): Int =
    s"$table\\.parquet".r.findAllIn(plan).size

  test("q68 buckets without any window or per-row sort — q63's scale swap") {
    val p = plan(AnalyticsOpsQueries.q68DecileBuckets(spark, sf))
    assert(!p.contains("Window"), "bucket-join variant must not plan a window")
    // the only Sort allowed is the output orderBy over 10 rows — no
    // sort may sit below the bucket aggregate
    val belowAgg = p.split("HashAggregate").last
    assert(!belowAgg.contains("Sort"),
      "full-table sort below the bucket aggregate defeats the design")
  }

  test("q70 session_window plans the native session aggregate, no window exec") {
    val p = plan(AnalyticsOpsQueries.q70SessionWindow(spark, sf))
    assert(p.contains("UpdatingSessions") || p.contains("session_window"),
      p.take(400))
    assert(!p.contains("Window "), "manual window chain defeats the operator")
    assert(countScans(p, "events") == 1)
  }

  test("q71/q72 broadcast their tiny sides; the fact table never shuffles for the join") {
    val p72 = plan(AnalyticsOpsQueries.q72TemperatureMixture(spark, sf))
    assert(p72.contains("BroadcastHashJoin"), "per-lang rates must broadcast")
    assert(!p72.contains("SortMergeJoin"),
      "corpus shuffled for a |langs|-row join:\n" +
        p72.linesIterator.filter(_.contains("Join")).mkString("\n"))
    val p71 = plan(AnalyticsOpsQueries.q71JsonExtract(spark, sf))
    assert(p71.contains("partial_"), "no map-side combine under the JSON parse")
  }

  test("q92 epoch materialization broadcasts rates; the corpus never shuffles") {
    // the copy decision is a map-side projection + generate — any
    // SortMergeJoin here means the corpus shuffled for a |langs|-row join
    val p = plan(AnalyticsOpsQueries.q92EpochMaterialize(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "per-lang rates must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus shuffled for the rate join:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("Generate"), "copy explode missing from the plan")
  }

  test("q76 cube plans ONE Expand — four grouping sets, one pass, one shuffle") {
    val p = plan(CurationOpsQueries.q76CubeScorecard(spark, sf))
    assert(p.contains("Expand"), "cube should plan an Expand")
    assert(p.sliding("Expand".length).count(_ == "Expand") <= 2, // node + its detail line
      "more than one Expand — grouping sets split into multiple passes")
    assert(p.contains("partial_"), "no map-side combine under the Expand")
    assert(countScans(p, "documents") == 1, "cube must not re-scan per grouping set")
  }

  test("q77 broadcasts only the 1-row total; vocabulary counts combine map-side") {
    val p = plan(CurationOpsQueries.q77UnigramSurprisal(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the grand-total row must broadcast, not shuffle")
    assert(p.contains("partial_count"), "vocabulary counts must partial-aggregate")
  }

  test("q78 tile generation is join-free: one window over the tile hash, one per-doc aggregate") {
    val df = CurationOpsQueries.q78PassageDupFraction(spark, sf)
    val p = plan(df)
    assert(!p.contains("Join"),
      "occurrence counting must be a window, not a self-join:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("Window"), p.take(300))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must prune to doc_id+text: " +
        p.linesIterator.find(_.contains("ReadSchema")).getOrElse("?"))
  }

  test("q79 window input is hour-grain: aggregate before the per-type window, no joins") {
    val p = plan(CurationOpsQueries.q79EventAnomalies(spark, sf))
    assert(!p.contains("Join"), "stats must come from windows, not joins")
    assert(p.contains("partial_count"), "hourly rollup must partial-aggregate")
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && winIdx < aggIdx,
      "window must sit ABOVE the hourly aggregate (bottom-up plan prints top-down)")
  }

  test("q67 pushes the user_id bounds into the z-layout scan") {
    val p = plan(ScaleOpsQueries.q67ZorderScan(spark, sf))
    // the literal dimension filter must reach the parquet reader so
    // row-group min/max stats (narrow under Z-order) can skip splits;
    // the ts bounds are computed from data, so they filter post-scan
    assert(p.contains("GreaterThanOrEqual(user_id,10)")
      && p.contains("LessThanOrEqual(user_id,19)"),
      p.linesIterator.filter(_.contains("PushedFilters")).take(3).mkString("\n"))
  }

  test("q65/q66 sketch probes are native expressions — no ScalaUDF anywhere") {
    // the bloom/CMS probes were the repo's last per-row Scala UDFs on
    // 100-TB paths (VERDICT r15 #3); both now ride codegen expressions
    val p65 = plan(ScaleOpsQueries.q65BloomDecontaminate(spark, sf))
    assert(!p65.contains("ScalaUDF"), "q65 still carries a UDF")
    assert(p65.contains("bloom_might_contain"), "q65 lost the bloom prune")
    val p66 = plan(ScaleOpsQueries.q66HeavyHittersCms(spark, sf))
    assert(!p66.contains("ScalaUDF"), "q66 still carries a UDF")
    assert(p66.contains("cms_estimate"), "q66 lost the CMS probe")
  }

  test("q87 cut scan prunes to doc_id+text; no window, no sort of the word stream") {
    val p = plan(CurationOpsQueries.q87DedupCut(spark, sf))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "documents scan must prune to doc_id+text: " +
        p.linesIterator.find(_.contains("ReadSchema")).getOrElse("?"))
    // r21 shape: canonical-copy detection is a map-side-combined
    // aggregate per window hash joined back (never a window sorting the
    // window stream), the flag join and the doc-grain rebuild join are
    // equi-joins, and the rebuild explodes nothing (array_except +
    // element_at in-row — no posexplode, no (doc, pos) anti join)
    assert(!p.contains("Window"),
      "a window crept back into the occurrence counting")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "occurrence aggregate must combine map-side")
    val joins = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joins.forall(l => !l.contains("NestedLoop") && !l.contains("Cartesian")),
      "unexpected join kind:\n" + joins.mkString("\n"))
  }

  test("q20 brute-force top-k is a bounded partial aggregate — no global window") {
    // the scale killer this locks out: row_number over ALL N scored
    // corpus ids per query; the topk_by aggregate ships at most k
    // entries per (split, query) through the exchange
    val p = plan(SimilarityQueries.q20KnnBruteForce(spark, sf))
    assert(p.contains("partial_topk_by"),
      "top-k must pre-aggregate per split:\n" + p.take(400))
    assert(!p.contains("Window"),
      "no window may rank the full scored set:\n" +
        p.linesIterator.filter(_.contains("Window")).mkString("\n"))
  }

  test("q116 weighted sample is a bounded partial aggregate — no window, no global sort of the corpus") {
    // same scale argument as q99: the A-ES ranking must ride topk_by
    // (≤ k entries per split), never a window/sort over every doc
    val p = plan(CorpusOpsQueries.q116WeightedSample(spark, sf))
    assert(p.contains("partial_topk_by"),
      "weighted sample must pre-aggregate per split:\n" + p.take(400))
    assert(!p.contains("Window"), "no window may rank the corpus")
  }

  test("q117 PMI top-100 is TakeOrderedAndProject; N broadcast; vocabulary joined not broadcast") {
    val p = plan(CorpusOpsQueries.q117PmiCollocations(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), "top-100 must not globally sort")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row token total must broadcast")
  }

  test("q118 basket cap is bounded and windows nothing; baskets build once") {
    // r21: the capped basket relation is eagerly checkpointed (it feeds
    // the item counts AND both self-join sides), so the topk_by cap
    // itself runs inside the checkpoint — its bounded partial combine
    // is locked by TopKAggSpec; what the final plan must prove is that
    // no window ranks anything and no consumer re-derives the baskets
    // from raw events
    val p = plan(AnalyticsOpsQueries.q118ItemCooccurrence(spark, sf))
    assert(!p.contains("Window"), "no window may rank per-user items")
    assert(countScans(p, "events") == 0,
      "a basket consumer re-scanned raw events instead of the checkpointed baskets")
    assert(p.contains("partial_count"),
      "pair support must combine map-side")
  }

  test("q126 RRF ranks ride bounded aggregates — no window ranks either score space") {
    val p = plan(RetrievalQueries.q126HybridRrf(spark, sf))
    assert(p.contains("partial_topk_by"),
      "both rankings must pre-aggregate per split:\n" + p.take(400))
    assert(!p.contains("Window"), "no window may rank a score space")
  }

  test("q121 join-size profile audits the join without running one — key-grain agg + 1-row broadcast") {
    val p = plan(ScaleOpsQueries.q121JoinSizeProfile(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not globally sort")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the audited self-join must never execute:\n" + p.take(400))
  }

  test("q123 nearest as-of composes two no-join as-of passes") {
    // both directions ride the q45 union+window shape; a real join
    // operator appearing here means the as-of machinery regressed
    val p = plan(RelationalQueries.q123AsofNearest(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("NestedLoop"),
      "nearest as-of must not plan a join operator:\n" + p.take(400))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      "expected the as-of running windows")
  }

  test("q99 exact-k sample is a bounded partial aggregate — no per-stratum window") {
    // the scale killer: row_number over every doc shuffled to its
    // stratum's partition (one hot stratum = one hot partition); the
    // topk_by aggregate ships at most k entries per (split, stratum)
    val p = plan(CorpusOpsQueries.q99StratifiedExactK(spark, sf))
    assert(p.contains("partial_topk_by"),
      "exact-k sample must pre-aggregate per split:\n" + p.take(400))
    assert(!p.contains("Window"),
      "no window may rank full strata:\n" +
        p.linesIterator.filter(_.contains("Window")).mkString("\n"))
  }

  test("q102 funnel reuses ONE user exchange for sessionizer + all stage windows") {
    // partitioning by user_id satisfies the (user_id, session_idx)
    // clustering of the stage windows — a second exchange would mean
    // the funnel re-shuffles per stage
    val p = plan(RelationalQueries.q102SessionFunnel(spark, sf))
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1, s"funnel must shuffle once on user_id, saw $shuffles:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q100 gap-fill plans the as-of shape: no join operator, no nested loop") {
    val p = plan(RelationalQueries.q100GapFillGrid(spark, sf))
    assert(!p.contains("NestedLoop"), "grid fill must never plan a nested loop")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "as-of carry-forward needs no join operator:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("q85 Hamming candidate cut pre-aggregates per split before any window") {
    // stage 1 (N×Q Hamming scores) must be the bounded aggregate; the
    // only window allowed is the stage-2 rerank over C×Q candidates
    val p = plan(RetrievalQueries.q85HammingAnn(spark, sf))
    assert(p.contains("partial_topk_by"),
      "Hamming cut must pre-aggregate per split:\n" + p.take(400))
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("ObjectHashAggregate")
    assert(aggIdx >= 0, "no ObjectHashAggregate for the candidate cut")
    assert(winIdx < 0 || winIdx < aggIdx,
      "a window ranks below the candidate cut (full-corpus input)")
  }

  test("q90 PQ-ADC cut pre-aggregates per split; codes-only scan feeds the cut") {
    // stage 1 (N×Q ADC scores) must be the bounded aggregate fed by the
    // stored CODE table (no embedding payload in the scored stream);
    // the only window allowed is the stage-2 rerank over C×Q candidates
    val p = plan(RetrievalQueries.q90PqAnn(spark, sf))
    assert(p.contains("partial_topk_by"),
      "ADC cut must pre-aggregate per split:\n" + p.take(400))
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("ObjectHashAggregate")
    assert(aggIdx >= 0, "no ObjectHashAggregate for the candidate cut")
    assert(winIdx < 0 || winIdx < aggIdx,
      "a window ranks below the candidate cut (full-corpus input)")
    assert(p.contains("pq_index"), "stored PQ code table not scanned")
  }

  test("q109 reuses ONE user_id exchange across both windows and the peak agg") {
    val p = plan(RelationalQueries.q109PeakBurst(spark, sf))
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(exchanges == 1,
      s"range-frame window, per-user max, and agg must co-partition, got $exchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q110 co-moments combine map-side; one aggregate, no window") {
    val p = plan(AnalyticsOpsQueries.q110CorrProfile(spark, sf))
    assert(p.contains("partial_"), "co-moment sums must pre-aggregate map-side")
    assert(!p.contains("Window"), "closed-form stats need no window")
    assert(countScans(p, "lineitem") == 1, "profile must be one pass of the fact table")
  }

  test("q111 blocked fuzzy dedup joins on the prefix key — hash join, never nested loop") {
    val p = plan(CurationOpsQueries.q111FuzzyDedup(spark, sf))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "blocking must plan an equi-join:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "no hash/merge join on the block key")
  }

  test("q113 top-50 paths plan TakeOrderedAndProject; one user_id exchange feeds sessionizer + path agg") {
    val p = plan(RelationalQueries.q113SessionPaths(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), "top-50 must not global-sort")
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(exchanges == 1,
      s"sessionizer window and path aggregate must co-partition, got $exchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q114 island stitching is join-free on ONE user_id exchange") {
    val p = plan(RelationalQueries.q114IntervalIslands(spark, sf))
    assert(!p.contains("Join"), "interval union must not self-join")
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(exchanges == 1,
      s"boundary window, island sum, and aggregates must co-partition, got $exchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q115 Gram partials combine map-side; mean vector joins by broadcast only") {
    val p = plan(SimilarityQueries.q115EmbeddingCovariance(spark, sf))
    assert(p.contains("partial_"), "Gram sums must pre-aggregate map-side")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the d-row mean vector must come back by broadcast:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("q112 broadcasts the per-source stats back — the corpus never shuffles for a join") {
    val p = plan(CurationOpsQueries.q112RobustOutliers(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "per-source medians must come back by broadcast:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("q136 schedule reuses ONE source exchange for rank + count; total by broadcast") {
    val p = plan(CorpusOpsQueries.q136EpochSchedule(spark, sf))
    val exchanges = "Exchange hashpartitioning\\(source".r.findAllIn(p).size
    assert(exchanges == 1,
      s"in-source rank and per-source count must co-partition, got $exchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "N must ride a broadcast, never shuffle the corpus:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("q140 dedup reuses ONE identity exchange across lag, island sum, and island min") {
    val p = plan(RelationalQueries.q140EventDedupWindow(spark, sf))
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(exchanges == 1,
      s"all three windows share the identity partitioning (subset rule), got $exchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Join"), "delivery dedup is window-only, no self-join")
  }

  test("q142 coverage never sorts the vocabulary — no corpus scan past the block checkpoint") {
    // r21: the frequency-block relation (tokenize + vocabulary
    // aggregate + the tiny block-grain cumulative window) is eagerly
    // checkpointed — it feeds the total, the candidate filter and the
    // pick join. The final plan must read ONLY the checkpointed blocks
    // (zero document scans — re-deriving the vocabulary per consumer
    // was the r21 finding) and may sort nothing bigger than the
    // ≤|distinct-frequency| candidate relation.
    val df = CorpusOpsQueries.q142VocabCoverage(spark, sf)
    val p = plan(df)
    assert(countScans(p, "documents") == 0,
      "a coverage consumer re-derived the vocabulary from the corpus:\n" +
        p.linesIterator.filter(_.contains("Scan")).mkString("\n"))
    assert(!p.contains("Window"),
      "no window may run in the post-checkpoint tail")
  }

  test("q164 grouping sets plan ONE Expand over one scan — the 2-set cut of cube's 8") {
    val p = plan(CurationOpsQueries.q164GroupingSets(spark, sf))
    assert(p.contains("Expand"), "grouping sets should plan an Expand")
    assert(p.sliding("Expand".length).count(_ == "Expand") <= 2, // node + detail line
      "more than one Expand — the sets split into multiple passes")
    assert(p.contains("partial_"), "no map-side combine under the Expand")
    assert(countScans(p, "documents") == 1, "grouping sets re-scanned the fact table")
  }

  test("q173 skyline is join-free: windows only, no self-join, no cartesian") {
    val p = plan(AnalyticsOpsQueries.q173ParetoSkyline(spark, sf))
    assert(p.contains("Window"), "skyline must use the window formulation")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "skyline planned a join — the O(n^2) shape:\n" +
        p.linesIterator.filter(l => l.contains("Join")).mkString("\n"))
    assert(countScans(p, "documents") == 1, "skyline re-scanned the corpus")
  }

  test("q167 novelty is window-free: gram hash aggregates + one equi-join") {
    val p = plan(TextQueries.q167NgramNovelty(spark, sf))
    assert(!p.contains("Window"), "novelty must not sort anything per-row")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "novelty planned a non-equi join")
    assert(p.contains("partial_"), "gram aggregate must combine map-side")
  }

  test("q189 grouped top-k runs the bounded aggregate — no rank window anywhere") {
    val p = plan(AnalyticsOpsQueries.q189GroupedTopK(spark, sf))
    assert(p.contains("partial_topk_by"),
      "grouped top-k must map-side combine through topk_by")
    assert(!p.contains("Window"),
      "a rank window crept back into the bounded top-k path")
  }

  test("q176 trigram profile: one scan, map-side combine before the lang/gram exchange") {
    val p = plan(TextQueries.q176CharTrigramProfile(spark, sf))
    assert(countScans(p, "documents") == 1, "profile re-scanned the corpus")
    assert(p.contains("partial_"), "gram counts must combine map-side")
    // r21: the per-lang top-5 is the bounded string-keyed aggregate —
    // ≤5 entries per split per lang through the exchange, never a sort
    // of a whole language's vocabulary on one reducer (the q189 lock)
    assert(p.contains("partial_topk_by_str"),
      "per-lang top-5 must pre-aggregate per split")
    assert(!p.contains("Window"),
      "a rank window crept back into the trigram profile")
  }

  test("q192 distinctive terms: bounded per-source top-5, no vocabulary window") {
    val p = plan(CorpusOpsQueries.q192DistinctiveTerms(spark, sf))
    assert(p.contains("partial_topk_by_str"),
      "per-source top-5 must pre-aggregate per split")
    assert(!p.contains("Window"),
      "a rank window crept back into the distinctive-terms path")
  }

  test("q95 sparse similarity: no rank window anywhere in the pair path") {
    // the bounded per-doc profile aggregate itself runs inside the
    // eager vecs checkpoint (invisible to the final plan — TopKStrAgg's
    // partial combine is locked by TopKStrAggSpec); what the final plan
    // must prove is that nothing downstream re-introduced a window or
    // re-derived the profile subtree (one LogicalRDD feeds all readers)
    val p = plan(CorpusOpsQueries.q95SparseSimilarity(spark, sf))
    assert(!p.contains("Window"),
      "a rank window crept back into the pair path")
    assert(countScans(p, "documents") == 0,
      "pair path re-scanned the corpus instead of reading the checkpointed profiles")
  }

  test("q205 drift is ONE dim-keyed aggregate: map-side combine, no window, no join") {
    val p = plan(SimilarityQueries.q205EmbeddingDrift(spark, sf))
    assert(p.contains("partial_"), "dim sums must combine map-side")
    assert(!p.contains("Window"), "per-dim means need no window")
    assert(!p.contains("Join"), "snapshot split is a projection, never a join")
    assert(countScans(p, "embeddings") == 1, "both snapshots read in one pass")
  }

  test("q207 pair mining broadcasts the anchors; ranking is the bounded aggregate") {
    val p = plan(SimilarityQueries.q207HardNegatives(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the bounded anchor set must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus shuffled for the anchor join:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("partial_topk_by"),
      "per-(anchor, role) ranking must pre-aggregate per split")
    assert(!p.contains("Window"), "no window may rank the scored corpus")
  }

  test("q209 license propagation rides q41's plan: split-partitioned window, no join") {
    val p = plan(PipelineQueries.q209LicensePropagation(spark, sf))
    assert(!p.contains("Join"), "license tags are projections, never a join")
    assert(p.contains("Window"), "expected the q41 running-sum window")
    assert(countScans(p, "documents") == 1, "propagation re-scanned the corpus")
  }

  test("q211 watermark audit: user-partitioned running max, no join, one events scan") {
    val p = plan(AnalyticsOpsQueries.q211WatermarkAudit(spark, sf))
    assert(!p.contains("Join"), "lateness comes from a window, never a self-join")
    assert(p.contains("Window"), "expected the running-max window")
    assert(countScans(p, "events") == 1)
  }

  test("q212 shard manifest: content-keyed assignment, no join, no row-number window") {
    val p = plan(PipelineQueries.q212ShardManifest(spark, sf))
    assert(!p.contains("Join"), "shard assignment is a projection")
    // the only window is the per-(split, shard) running sum; a
    // row_number-based assignment would partition by split alone
    // (3-way funnel at scale)
    assert(!p.contains("row_number"), "row-number shard assignment crept back")
    assert(countScans(p, "documents") == 1)
  }

  test("q213 source matrix joins the id-keyed source map — equi-joins only, never nested loops") {
    val p = plan(TextQueries.q213SourceDupMatrix(spark, sf))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "source-map joins must be equi-joins:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("SHJ preference is stats-bounded: an over-bound build side still plans SortMergeJoin") {
    // Sessions sets preferSortMergeJoin=false (guide §3.1): the planner
    // may statically pick ShuffledHashJoin, whose build-side hash map
    // does not spill — safe only because the pick is bounded by
    // canBuildLocalHashMap (stats < autoBroadcastJoinThreshold ×
    // shuffle.partitions = 64 MB × cores here). This locks the safety
    // story the r21 ADVICE flagged: a join where BOTH sides' stats
    // exceed the bound (and neither is 3× smaller) must fall back to
    // sort-merge, which spills gracefully. spark.range carries exact
    // size stats, so the bound is exercised deterministically with no
    // data materialized.
    import spark.implicits._
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").toLong
    val bound = threshold * spark.conf.get("spark.sql.shuffle.partitions").toLong
    val rows = bound / 8 * 2 // 2× over the local-map bound at 8 B/row
    val big1 = spark.range(rows).toDF("id")
    val big2 = spark.range(rows).withColumnRenamed("id", "id2")
    val over = plan(big1.join(big2, $"id" === $"id2"))
    assert(over.contains("SortMergeJoin"),
      s"an over-bound build side must plan SMJ, got:\n" +
        over.linesIterator.filter(_.contains("Join")).mkString("\n"))
    // and the optimization itself stays on: an in-bound, non-broadcastable
    // build side (> the broadcast threshold, < the local-map bound, 3×
    // smaller than the probe side) plans ShuffledHashJoin. Halfway
    // between threshold and bound keeps both margins at any partition
    // count ≥ 2.
    val buildBytes = threshold + (bound - threshold) / 2
    val build = spark.range(buildBytes / 8).toDF("id")
    val probe = spark.range(buildBytes / 8 * 4).withColumnRenamed("id", "id2")
    val in = plan(build.join(probe, $"id" === $"id2"))
    assert(in.contains("ShuffledHashJoin"),
      s"an in-bound build side should plan SHJ, got:\n" +
        in.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("q87 dedup-cut inventory is hash-aggregated — the min(struct) SortAggregate must not return") {
    // the r22 finding: min(struct(doc_id, i)) is not a HashAggregate-
    // mutable buffer type, so the whole window relation silently
    // sorted on both sides of its exchange; the packed-long form must
    // keep the aggregate hash-based with a map-side partial
    val p = plan(CurationOpsQueries.q87DedupCut(spark, sf))
    assert(!p.contains("SortAggregate"),
      "dedup-cut inventory regressed to SortAggregate:\n" +
        p.linesIterator.filter(_.contains("Aggregate")).mkString("\n"))
  }

  test("q26 self-pair jaccard stays in-row: one scan, no aggregate, sort below the shingling") {
    // both shingle sets are functions of the same row's text — rows
    // must never explode or regroup, and the presentation sort must
    // sample the bare scan, not the double-regex projection (a Sort
    // above the projection evaluates it twice via range sampling)
    val p = plan(TextQueries.q26NgramJaccard(spark, sf))
    assert(countScans(p, "documents") == 1, "q26 must scan documents once")
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      "q26 must not aggregate:\n" + p.take(300))
    val sortLine = p.linesIterator.indexWhere(_.contains("Sort"))
    val genLine = p.linesIterator.indexWhere(_.contains("array_intersect"))
    assert(sortLine >= 0 && (genLine < 0 || genLine < sortLine),
      "the jaccard projection must sit ABOVE the sort (tree prints top-down):\n" +
        p.linesIterator.take(12).mkString("\n"))
  }

  test("q129 presentation sort sits below the tile projection") {
    // same range-sampling rule: the Sort must consume bare
    // (doc_id, text) rows, with the tile dedup pass above it
    val p = plan(CurationOpsQueries.q129IntraDocDedup(spark, sf))
    val lines = p.linesIterator.toSeq
    val sortIdx = lines.indexWhere(l => l.contains("+- Sort") || l.contains(": Sort"))
    val tileIdx = lines.indexWhere(_.contains("array_distinct"))
    assert(sortIdx >= 0, "expected a Sort in q129's plan")
    assert(tileIdx < sortIdx,
      s"tile projection (line $tileIdx) must print above the Sort (line $sortIdx):\n" +
        lines.take(14).mkString("\n"))
  }

  test("q111 fuzzy dedup: block-keyed equi-joins under a width aggregate — no nested loops, no window") {
    // the r19 finding: an uncapped prefix block is s²/2 on one key. The
    // r21 shape computes block width/min as a map-side-combined
    // AGGREGATE joined back onto narrow (id, len, key) rows (the former
    // width window shuffled full document text), and text attaches only
    // to the deduped pair set — the plan must stay equi-keyed with no
    // window and no payload sort
    val p = plan(CurationOpsQueries.q111FuzzyDedup(spark, sf))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "fuzzy blocking must stay equi-keyed:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("Window"), "a width window crept back")
    // the width/min block aggregate itself runs inside the eager
    // candidate checkpoint (invisible here); the visible tail must be
    // the narrow (id, id) dedup aggregate feeding the two text joins
    assert(p.contains("HashAggregate"),
      "pair dedup must be a hash aggregate over bare ids")
  }
}
