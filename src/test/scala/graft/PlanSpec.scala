package graft

/** Plan-quality assertions: the physical plans the 100 TB design depends on
  * must stay the plans Catalyst actually picks — dims broadcast, windows
  * and rollups sharing one exchange, watermark predicates reaching the
  * parquet scan. A regression here is a scale bug even when results stay
  * correct. */
class PlanSpec extends SparkSpec {

  private def planString(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("j4_join_rollup broadcasts all three dimension tables") {
    val p = planString("j4_join_rollup")
    assert(countOccurrences(p, "BroadcastHashJoin") == 3, p)
    // the fact table is never broadcast: two hash exchanges (the
    // long-accumulator two-stage agg), both carrying only per-(nation,
    // partition) partial rows — never fact-table rows
    assert(countOccurrences(p, "Exchange hashpartitioning") == 2, p)
  }

  test("flagship pipeline runs all windows + rollup on a single exchange") {
    val p = planString("flagship_wallet_features")
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(countOccurrences(p, "Window") >= 3, p)
  }

  test("flagship_auc runs its ten windows on one wallet exchange") {
    // The 100x ScaleBench exponent (0.46) is accepted BECAUSE the program
    // is linear-in-one-exchange: every wallet-wide AND (wallet, contract)
    // window reuses the single hashpartitioning(wallet_address) shuffle —
    // HashPartitioning(wallet) satisfies ClusteredDistribution(wallet,
    // contract), so the by-contract windows only re-sort, never re-shuffle.
    // A second wallet-carrying exchange here is the regression this pin
    // exists to catch: it would double the dominant term at 100 TB. The
    // remaining exchanges all sit on the tiny price-fixture side.
    val p = planString("flagship_auc_features")
    assert(countOccurrences(p, "Exchange hashpartitioning(wallet_address") == 1, p)
    assert(countOccurrences(p, "windowspecdefinition(wallet_address") >= 10, p)
  }

  test("flagship_coin_balances runs its whole window program on one wallet exchange") {
    // Root cause of the 0.40 100× exponent (COVERAGE.md table): the program
    // is per-EVENT output (every row keeps three running balances plus the
    // min/max-ever analytics), so its work is Ω(N·log run-length) — and the
    // measured 6.2× cost for 100× data is that linear term off a ~0.3 s
    // scheduling floor, the flagship_auc class, NOT a second shuffle
    // creeping in. The pin: hashpartitioning(wallet_address) satisfies
    // ClusteredDistribution(wallet, contract), so the per-contract windows
    // and the merge-state join must only re-sort — exactly ONE
    // wallet-carrying exchange in the whole plan.
    val p = planString("flagship_coin_balances")
    assert(countOccurrences(p, "Exchange hashpartitioning(wallet_address") == 1, p)
    assert(countOccurrences(p, "windowspecdefinition(wallet_address") >= 4, p)
  }

  test("a58_heavy_hitters: the CM lookup is broadcast — no vocabulary-wide merge join") {
    // The two-pass design only pays off if the 512-cell grid reaches the
    // token stream as a broadcast: a sort-merge join here would shuffle
    // the whole token stream by bucket and erase the pattern's point.
    val p = planString("a58_heavy_hitters")
    assert(countOccurrences(p, "BroadcastHashJoin") >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("j18_interval_overlap: grid join is EQUI on the week cell — never a nested loop") {
    // The whole point of the grid form: Catalyst must see an equality on
    // wk and plan a hash join; a BroadcastNestedLoopJoin means the θ-join
    // leaked through and the plan is quadratic when both sides scale.
    val p = planString("j18_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("incremental watermark predicate is pushed into the parquet scan") {
    val p = planString("p3_incremental_filter")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"), p)
  }

  test("q1_agg: two-stage decimal accumulation, all exchanges carry only partials") {
    // The long-accumulator pattern: stage 1 groups by (flags, partition id)
    // — its partial aggregation collapses every input partition to
    // #groups rows BEFORE the exchange, so both exchanges move a few dozen
    // rows regardless of table size; decimal arithmetic only touches the
    // merged partials. 4 HashAggregates (partial+final per stage), 2
    // hash exchanges, zero full-row shuffles.
    val p = planString("q1_agg")
    assert(countOccurrences(p, "HashAggregate") == 4, p)
    assert(countOccurrences(p, "Exchange hashpartitioning") == 2, p)
    // the row-scale work (the per-row decimal casts feeding the long
    // accumulators) runs before the FIRST partial aggregate: both
    // exchanges carry only already-aggregated long partials
    assert(p.indexOf("partial_sum") > p.indexOf("Exchange hashpartitioning"), p)
  }

  test("ann_bruteforce_topk broadcasts the probe side") {
    val p = planString("ann_bruteforce_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("w15_sess runs both windows and the session rollup on one exchange") {
    val p = planString("w15_sess")
    // HashPartitioning(user_id) satisfies the (user_id, session_id)
    // grouping (subset key), so Catalyst must not insert a second exchange
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(countOccurrences(p, "Window") >= 2, p)
  }

  test("d_lines broadcasts the boilerplate set; the corpus side never shuffles for the join") {
    val p = planString("d_lines")
    assert(countOccurrences(p, "BroadcastHashJoin") == 1, p)
    // exactly two shuffles: the segment-frequency agg and the doc reassembly
    assert(countOccurrences(p, "Exchange hashpartitioning") == 2, p)
  }

  test("a11_kmv's rank filter keeps a bounded 64-row heap per group") {
    // the query returns a materialized (cached) result; its real plan sits
    // inside the InMemoryRelation, whose AQE dump prints the executed
    // final plan first and the initial plan again below — count only the
    // executed section
    val p = planString("a11_kmv").split("== Initial Plan ==")(0)
    // WindowGroupLimit partial (map-side, before the source exchange) +
    // final — the sketch state is k rows per group, never a full sort
    assert(countOccurrences(p, "WindowGroupLimit") == 2, p)
  }

  test("a12_roll expands grouping sets inside one aggregate pass") {
    val p = planString("a12_roll")
    assert(p.contains("Expand"), p)
    // one corpus read, one exchange — never three unioned scans
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
  }

  test("column pruning reaches the scan for narrow projections") {
    val p = planString("t_token_count")
    // only doc_id + text are read, not lang/source/n_chars
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("t_domain_cap's rank filter compiles to WindowGroupLimit") {
    val p = planString("t_domain_cap")
    // the per-source top-15 must keep a bounded heap per partition, not
    // sort every group — the difference between top-k and full-sort at scale
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("t_group_sample_k's rank filter compiles to WindowGroupLimit") {
    val p = planString("t_group_sample_k")
    // exactly-k-per-stratum must keep a bounded k-heap per partition —
    // a full per-language sort at 100 TB is the regression this pins
    assert(p.contains("WindowGroupLimit"), p)
    assert(countOccurrences(p, "Exchange SinglePartition") == 0, p)
  }

  test("t_shards never funnels the data path through a single partition") {
    val p = planString("t_shards")
    // the operator exists to avoid the naive global-window sort: exactly
    // ONE SinglePartition exchange is allowed — the 16-row bucket-offsets
    // dim — and the document-scan path must stay hash/range partitioned.
    // Two or more would mean the rank regressed to a global window.
    assert(countOccurrences(p, "Exchange SinglePartition") <= 1, p)
    // the data-side window is partitioned by the hash-prefix bucket
    assert(p.contains("hashpartitioning(bkt"), p)
  }

  test("t_token_pack never packs a whole language in one window partition") {
    val p = planString("t_token_pack")
    // the data-side cumulative window must partition by (lang, bucket),
    // not lang alone — a lang-only window serializes the dominant
    // language into one task at corpus scale (mirror of the t_shards
    // global-rank pin). The only lang-alone window allowed is the one
    // over the tiny offsets dim, which rides a broadcast, so the DATA
    // exchange must carry the bucket column.
    assert(p.contains("hashpartitioning(lang") && p.contains("_pk_bkt"), p)
    // SinglePartition exchanges are allowed ONLY as packChunks' 1-row
    // bounds aggregate (min/max of the order column, r19's lazy form —
    // one partial row per upstream partition crosses, a scalar
    // reduction, not a data funnel; it prints once per consumer branch
    // before AQE dedupes it). Structurally: every such exchange's child
    // must be the partial min/max aggregate — anything else would be a
    // real single-partition data path.
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Min, Partial}
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def unwrap(c: SparkPlan): SparkPlan = c match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case other => other
    }
    planNodes(SparkEntry.queries("t_token_pack")(spark, sf)).foreach {
      case x: ShuffleExchangeExec if x.outputPartitioning == SinglePartition =>
        val scalarBounds = unwrap(x.child) match {
          case h: HashAggregateExec => h.aggregateExpressions.exists(a =>
            a.mode == Partial && a.aggregateFunction.isInstanceOf[Min])
          case _ => false
        }
        assert(scalarBounds, s"non-scalar SinglePartition exchange:\n$x")
      case _ => ()
    }
    val dataExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(lang"))
      .toSeq
    assert(dataExchanges.exists(_.contains("_pk_bkt")),
      s"no (lang, bucket) data exchange found:\n$p")
  }

  test("d_substr probes the census with a semi join, never a pair join") {
    val p = planString("d_substr")
    // the duplicate census must come back as LeftSemi (existence), not an
    // inner join that could multiply shingle rows by their occurrence count
    assert(p.contains("LeftSemi"), p)
  }

  test("cube/grouping-sets expand inside one aggregate pass (one exchange)") {
    for (q <- Seq("a12b_cube", "a12c_gsets")) {
      val p = planString(q)
      assert(p.contains("Expand"), s"$q: no Expand\n$p")
      assert(countOccurrences(p, "Exchange hashpartitioning") == 1, s"$q:\n$p")
    }
  }

  test("a18b_unpivot is scan-shaped: an Expand, no shuffle at all") {
    val p = planString("a18b_unpivot")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("a19_tumble buckets inside one hash-agg exchange") {
    val p = planString("a19_tumble")
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
  }

  test("t_bigram_lm takes its top-k without materializing a global sort") {
    val p = planString("t_bigram_lm")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("w17_range_frame runs count/sum/avg on ONE user exchange and window") {
    val p = planString("w17_range_frame")
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(countOccurrences(p, "Window") == 1, p)
  }

  test("pregel supersteps are size-aware: broadcast while |V| fits, shuffled beyond") {
    import org.apache.spark.sql.functions._
    import graft.queries.GraphQueries
    // the superstep state join's broadcast is guarded by the measured |V|,
    // never pinned: the small regime (|V| under the guard -> BHJ) and the
    // large regime (|V| over it -> shuffle-based join, no broadcast to
    // OOM the driver at 100x) must BOTH plan cleanly from the same code
    val adj = GraphQueries.adjacency(spark, sf, lit(true))
    try {
      val nV = adj.count()
      assert(nV <= GraphQueries.broadcastStateMaxRows) // fixture is the small regime
      val ranks0 = adj.select(col("src").as("node"), lit(1000000L).as("pr"))
      val labels0 = adj.select(col("src").as("node"), col("src").as("cc"))
      // the superstep's own join sits ABOVE the cached adjacency; the
      // InMemoryRelation dump below it replays the adjacency BUILD (whose
      // dimension joins legitimately broadcast) — truncate before it so
      // the assertions see only the superstep's join strategy
      def executed(df: org.apache.spark.sql.DataFrame): String = {
        df.collect()
        df.queryExecution.executedPlan.toString.split("InMemoryRelation")(0)
      }
      val smallPr = executed(GraphQueries.prSuperstep(adj, ranks0, nV))
      assert(smallPr.contains("BroadcastHashJoin"), smallPr)
      val smallCc = executed(GraphQueries.ccSuperstep(adj, labels0, nV))
      assert(smallCc.contains("BroadcastHashJoin"), smallCc)
      // large regime: claim a state over the guard; disable the automatic
      // thresholds too so AQE cannot re-elect a broadcast for this small
      // FIXTURE — what is pinned is the plan family the guard chooses
      val conf = spark.conf
      val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> conf.get(k, null))
      try {
        saved.foreach { case (k, _) => conf.set(k, "-1") }
        val big = GraphQueries.broadcastStateMaxRows + 1
        val bigPr = executed(GraphQueries.prSuperstep(adj, ranks0, big))
        assert(!bigPr.contains("BroadcastHashJoin"), bigPr)
        assert(bigPr.contains("SortMergeJoin") || bigPr.contains("ShuffledHashJoin"), bigPr)
        val bigCc = executed(GraphQueries.ccSuperstep(adj, labels0, big))
        assert(!bigCc.contains("BroadcastHashJoin"), bigCc)
      } finally saved.foreach { case (k, v) =>
        if (v == null) conf.unset(k) else conf.set(k, v)
      }
    } finally graft.queries.CacheScope.freeCheckpoint(adj) // checkpoint-staged since r19
  }

  test("readWhere's residual filter reaches the parquet scan of the pruned file list") {
    // manifest zone maps shrink the FILE LIST; the residual box predicate
    // must still land in the scan as PushedFilters so surviving files
    // row-group-skip on their footers — two pruning tiers, one plan
    val p = planString("snap_stats_pruned")
    assert(p.contains("PushedFilters: [IsNotNull(event_id)"), p)
    // the plan string TRUNCATES long filter lists, so pin the leading
    // typed-literal comparison (the one a double-cast residual would
    // lose) rather than the full set
    assert(p.contains("GreaterThanOrEqual(event_id,"), p)
    // the footer-pruned twin (z-order store) pushes its residual the same way
    val z = planString("z3_pruned_scan")
    assert(z.contains("PushedFilters: [IsNotNull("), z)
    assert(z.contains("GreaterThanOrEqual(user_id,"), z)
  }

  test("t_weighted_sample never funnels the corpus through a single partition") {
    val p = planString("t_weighted_sample")
    // the whole point of the sharded prefix sum: the only SinglePartition
    // exchanges allowed are the #shards-row offsets dim and the 1-row
    // grand-total aggregate (both carry bounded partials, never document
    // rows), while the document-side cumulative window stays
    // shard-partitioned. A THIRD single-partition exchange — or a window
    // without the shard key — means the prefix sum regressed to a global
    // window over the corpus.
    assert(countOccurrences(p, "Exchange SinglePartition") <= 2, p)
    assert(p.contains("hashpartitioning(shard"), p)
    // the document-row cumulative sum is PARTITIONED by shard: a
    // windowspecdefinition over n_chars that leads with the sort key
    // instead of the shard key is the global-cumsum regression
    val docWindows = p.linesIterator
      .filter(l => l.contains("sum(n_chars") && l.contains("windowspecdefinition"))
      .toSeq
    assert(docWindows.nonEmpty &&
      docWindows.forall(_.contains("windowspecdefinition(shard")), p)
  }

  test("ann_label_consistency broadcasts the audited sample; corpus scan never shuffles for pairs") {
    val p = planString("ann_label_consistency")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // downstream of the pair scan everything is keyed on the (small)
    // q_id side: no data-sized single-partition funnel anywhere
    assert(countOccurrences(p, "Exchange SinglePartition") == 0, p)
  }

  test("a28_mad runs every selection pass entity-partitioned") {
    val p = planString("a28_mad")
    // both positional-median windows and all rollups partition on
    // user_id; a SinglePartition window here would serialize the events
    // table onto one task (the exact failure a27's form exists to avoid
    // for the one-giant-group case)
    assert(p.contains("hashpartitioning(user_id"), p)
    assert(countOccurrences(p, "Exchange SinglePartition") == 0, p)
  }

  test("dq_gaps shares one user exchange between the LAG window and the rollup") {
    val p = planString("dq_gaps")
    // HashPartitioning(user_id) satisfies both the window and the
    // groupBy — a second user-keyed exchange is a wasted shuffle of the
    // whole events table
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(countOccurrences(p, "Exchange SinglePartition") == 0, p)
  }

  test("dq_chi2_cells joins its marginals broadcast, never re-shuffling the cells") {
    val p = planString("dq_chi2_cells")
    // rt/ct ride BroadcastHashJoin, the 1-row total rides
    // BroadcastNestedLoopJoin; the event-level work is exactly the one
    // (event_type, bucket) cell rollup — every other exchange
    // (marginal rollups, the 1-row total's SinglePartition finals)
    // carries cell-count partials, bounded by the contingency size
    assert(countOccurrences(p, "BroadcastHashJoin") >= 2, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("hashpartitioning(event_type"), p)
  }

  test("ann_range_search broadcasts the query set; the corpus scan never shuffles") {
    val p = planString("ann_range_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(countOccurrences(p, "Exchange hashpartitioning") == 0, p)
  }

  test("g_triangles takes its top-20 as TakeOrdered, never a global-window sort") {
    val p = planString("g_triangles")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("the round-15 window family runs on ONE user exchange each") {
    // w18's 7 lags, w19's running-peak + argmax pick, and w20's 5-row
    // frame all partition by user_id: each must reuse a single
    // hashpartitioning(user_id) shuffle — a second one doubles the
    // dominant cost at 100 TB for a pure window program
    Seq("w18_ewma", "w19_drawdown", "w20_rolling_median").foreach { q =>
      val p = planString(q)
      assert(countOccurrences(p, "Exchange hashpartitioning") == 1, s"$q:\n$p")
    }
  }

  test("dq_outlier_iqr plans NO sort and NO window — fence probe only") {
    val p = planString("dq_outlier_iqr")
    // quartiles come from the bucketed-histogram exact selection (r16):
    // bounded side-jobs resolved before this plan exists. The returned
    // plan is ONLY the fence probe — the 5-row quartile table joins
    // BROADCAST, and the per-type positional sort that made the r15 form
    // a near-global sort per type (100× exponent 0.60) must never
    // reappear here
    assert(countOccurrences(p, "BroadcastHashJoin") >= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p)
    // one DISTINCT exchange — the final per-type rollup carrying map-side
    // partials — rendered twice: the InMemoryRelation dump embeds the
    // cached child plan alongside the outer scan
    assert(countOccurrences(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("j17_nearest_event rides ONE user exchange — no pair join, no band") {
    val p = planString("j17_nearest_event")
    // the nearest-neighbor-in-time is two frames over one per-user window
    // sort; a join-shaped plan (banded or otherwise) here is a regression
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("g_lpa's vote argmax is an aggregate, never a per-node sort window") {
    val p = planString("g_lpa")
    assert(!p.contains("Window"), p)
    assert(!p.contains("row_number"), p)
  }

  test("t_char_entropy is a pure map: zero exchanges, zero joins") {
    // five pinned-ln calls per row inside the scan's codegen stage — any
    // exchange or join appearing here means the per-row log stopped
    // being free at 100 TB
    val p = planString("t_char_entropy")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("the pinned-log DQ family rolls up once; log math runs on bounded relations") {
    // dq_entropy / dq_mutual_info: ONE raw-scan exchange (the map-side-
    // combinable count rollup); every window/log step downstream operates
    // on the |types×buckets|-bounded relation. A second raw exchange (or
    // a window before the rollup) re-shuffles the 100 TB scan.
    Seq("dq_entropy", "dq_mutual_info").foreach { q =>
      val p = planString(q)
      assert(countOccurrences(p, "Exchange hashpartitioning") <= 3, s"$q:\n$p")
      assert(countOccurrences(p, "ln_nanos") >= 1, s"$q:\n$p")
    }
    // dq_psi additionally broadcasts the 1-row w0 scalar — never a shuffle
    val p = planString("dq_psi")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(countOccurrences(p, "Exchange hashpartitioning") <= 1, p)
  }

  test("w22_bollinger shares ONE user exchange across its moment windows") {
    val p = planString("w22_bollinger")
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("g_adamic_adar takes its top-20 as TakeOrdered over exact-integer scores") {
    // the g_triangles contract: candidate scores reduce via TakeOrdered
    // (per-partition heaps + driver merge), never a global-window sort;
    // the AA weight must come from the pinned log, not libm
    val p = planString("g_adamic_adar")
    assert(p.contains("TakeOrdered"), p)
    assert(countOccurrences(p, "ln_nanos") >= 1, p)
  }

  test("a39_hhi is one map-side-combinable rollup") {
    val p = planString("a39_hhi")
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(countOccurrences(p, "HashAggregate") == 2, p)
    assert(!p.contains("Window"), p)
  }

  test("the trend tests join their pairwise space broadcast on the bounded daily relation") {
    // a45/a46's O(d²) pair join must ride BroadcastHashJoin over the
    // persisted daily rollup — a sort-merge pair join here would drag
    // the calendar-bounded relation through a needless exchange pair
    Seq("a45_mann_kendall", "a46_theil_sen").foreach { q =>
      val p = planString(q)
      assert(countOccurrences(p, "BroadcastHashJoin") >= 1, s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
    }
  }

  test("w23_rsi shares ONE user exchange across the lag and the frame windows") {
    val p = planString("w23_rsi")
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
  }

  test("a48_attribution is one user window plus one bounded channel rollup") {
    val p = planString("a48_attribution")
    assert(p.contains("Window"), p)
    // user_id window exchange + the ≤|channels|-cardinality rollup
    // (carrying map-side partials only)
    assert(countOccurrences(p, "Exchange hashpartitioning") <= 2, p)
    assert(!p.contains("Join"), p)
  }

  test("g_bipartite_proj explodes pairs join-free: two exchanges, TakeOrdered") {
    val p = planString("g_bipartite_proj")
    // collect_set gather on orderkey + pair rollup — the DISTINCT +
    // self-join oracle shape (4 exchanges) must never be the plan
    assert(!p.contains("Join"), p)
    assert(countOccurrences(p, "Exchange hashpartitioning") == 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("no query in the inventory plans a CartesianProduct") {
    // every deliberate cross join in the inventory is against a bounded
    // broadcast side (1-row scalars, centroid codebooks) and must compile
    // to BroadcastNestedLoopJoin; a CartesianProduct anywhere is a scale
    // regression even when results stay correct
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = planString(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }
}
