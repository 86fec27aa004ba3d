package graft

import org.apache.spark.sql.functions._

/** Executable evidence for the two physical-layout levers that carry a
  * repeated-join / time-filtered workload at 100 TB, beyond what any
  * single-query plan can show:
  *
  *  - BUCKETING: both join sides pre-bucketed on the join key join with NO
  *    shuffle exchange at all — on a cluster this converts every future
  *    join on that key from a full network shuffle into a local merge.
  *  - PARTITION PRUNING: a date-partitioned layout turns a time-range
  *    filter into directory pruning — the scan never opens the other
  *    partitions' files.
  *
  * Both asserted on the executed plan, not just on results.
  */
class ScaleSpec extends SparkSpec {

  test("bucketed tables join without any shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force a non-broadcast join so the demo proves bucketing (a broadcast
    // would also be shuffle-free, but only because one side is tiny)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
      Tables.orders(spark, sf).write
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("b_orders")
      Tables.customer(spark, sf).write
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("b_customer")

      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"))
      joined.write.format("noop").mode("overwrite").save()

      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange"), s"expected NO exchange in:\n$plan")

      // same rows as the plain shuffled join
      val expected = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf),
          col("o_custkey") === col("c_custkey"))
        .count()
      assert(joined.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("date-partitioned layout prunes non-matching partitions at scan") {
    val dir = "/tmp/graft_part_events"
    val events = Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
    events.write.partitionBy("day").mode("overwrite").parquet(dir)

    val oneDay = events.select(min(col("day"))).head.getDate(0)
    val pruned = spark.read.parquet(dir).filter(col("day") === lit(oneDay))
    // collect() executes pruned's own QueryExecution — count() or a write
    // would spawn a fresh one whose metrics this plan instance never sees
    val nPruned = pruned.collect().length.toLong

    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    val scanStr = scan.toString
    assert(scanStr.contains("PartitionFilters"), scanStr)
    // the pruned scan reads exactly the one matching partition
    val partitionCount = events.select(col("day")).distinct().count()
    assert(partitionCount > 1, "fixture must span multiple days")
    val selected = scan.metrics.get("numPartitions").map(_.value)
    assert(selected.contains(1L),
      s"expected 1 selected partition of $partitionCount, got $selected")
    assert(nPruned ===
      events.filter(col("day") === lit(oneDay)).count())
  }

  test("dynamic partition pruning derives fact partitions from a dim filter") {
    // the runtime half of partition pruning: the filter lives on a DIM
    // column that is NOT the join key, so no static rule can derive the
    // fact partitions (constraint propagation only transfers join-key
    // predicates). DPP must inject a runtime subquery into the fact scan's
    // PartitionFilters — at 100 TB this is what turns "star join filtered
    // by dim attributes" from a full fact scan into a one-partition read.
    val dir = "/tmp/graft_dpp"
    val events = Tables.events(spark, sf).withColumn("day", to_date(col("ts")))
    events.write.partitionBy("day").mode("overwrite").parquet(s"$dir/fact")
    val oneDay = events.select(min(col("day"))).head.getDate(0)
    events.select(col("day")).distinct()
      .withColumn("tag",
        when(col("day") === lit(oneDay), "pick").otherwise("skip"))
      .write.mode("overwrite").parquet(s"$dir/dim")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("tag") === "pick")
    val joined = fact.join(dim, Seq("day"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val rows = joined.collect()
    assert(rows.map(_.getLong(1)).sum ===
      events.filter(col("day") === lit(oneDay)).count())

    // AQE wraps the executed tree in LeafExecNode shells (AdaptiveSparkPlan,
    // QueryStage, ReusedExchange) — collectLeaves stops at each, so unwrap
    // recursively to reach the true scans
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def trueLeaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => trueLeaves(a.executedPlan)
      case q: QueryStageExec => trueLeaves(q.plan)
      case r: ReusedExchangeExec => trueLeaves(r.child)
      case leaf if leaf.children.isEmpty => Seq(leaf)
      case other => other.children.flatMap(trueLeaves)
    }
    val factScans = trueLeaves(joined.queryExecution.executedPlan)
      .filter(_.toString.contains("graft_dpp/fact"))
    assert(factScans.nonEmpty, "fact scan not found in plan")
    assert(factScans.exists(_.toString.contains("dynamicpruning")),
      s"expected a dynamicpruning subquery in PartitionFilters:\n" +
        factScans.mkString("\n"))
    val nPart = events.select(col("day")).distinct().count()
    assert(nPart > 1, "fixture must span multiple days")
    // AQE can leave several instances of the scan in the final plan; the
    // one that executed carries the partition-read metric
    val selected = factScans
      .flatMap(s => s.metrics.get("numPartitions").map(_.value))
    assert(selected.nonEmpty,
      s"no fact scan exposed numPartitions; metrics seen: " +
        factScans.map(_.metrics.keys.mkString("[", ",", "]")).mkString(" "))
    assert(selected.exists(_ === 1L),
      s"DPP should select 1 of $nPart partitions, got $selected")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // the runtime half of the skew story: q55's salting is the MANUAL tool
    // for skewed AGGREGATES; for skewed JOINS the engine leans on AQE,
    // which detects the oversized partition post-shuffle and splits it
    // across tasks. Thresholds are lowered so local-scale data trips the
    // same code path a hot key would at 100 TB.
    val dir = "/tmp/graft_skew"
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
    ).map(k => k -> conf.get(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 95% of the fact rows share one key — one shuffle partition gets
      // nearly everything
      spark.range(200000).selectExpr(
        "CASE WHEN id % 20 = 0 THEN id % 50 ELSE 0L END AS k",
        "repeat('x', 64) AS pad")
        .write.mode("overwrite").parquet(s"$dir/fact")
      spark.range(50).selectExpr("id AS k", "concat('d', id) AS dv")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val joined = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), "k")
      // execute THIS QueryExecution (a write/count would spawn a fresh one
      // whose finalized AQE plan this instance never sees)
      joined.queryExecution.toRdd.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // semi-join reduction at runtime: a selective filter on the build side
    // becomes a bloom filter applied to the probe side BEFORE its shuffle,
    // so the exchange carries only rows that can possibly match — at
    // 100 TB this is the difference between shuffling the whole fact table
    // and shuffling the matching sliver. Thresholds lowered to trip the
    // injection on local-scale data.
    val dir = "/tmp/graft_bloom"
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
    )
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      spark.range(100000).selectExpr("id AS k", "md5(cast(id AS string)) AS v")
        .write.mode("overwrite").parquet(s"$dir/fact")
      spark.range(10000).selectExpr("id AS k", "id % 100 AS cat")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val joined = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim").filter(col("cat") === 7), "k")
      joined.queryExecution.toRdd.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter on the probe side:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("single-pass operators scan their source exactly once") {
    // these queries are documented as one-scan plans (window/aggregate
    // stages sharing a partitioning); a second Scan leaf means someone
    // reintroduced a recompute-the-subtree shape (q69 once scanned and
    // re-tokenized the whole corpus twice for its 1-row totals side)
    for (name <- Seq("q67_seq_packing", "q69_domain_mixture",
      "q71_scd2_compact", "q72_int8_quant", "q82_pii_redact",
      "q83_doc_chunks", "q111_drift_psi", "q112_weighted_sample")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans === 1, s"$name plans $scans scans:\n$plan")
    }
  }

  test("q92's windows and session rollup share ONE user_id exchange") {
    // both lag/cumsum windows and the per-session aggregate are declared on
    // user_id(+) keys; Catalyst must satisfy all three from a single hash
    // exchange — a second shuffle would mean the window partitionings
    // stopped aligning (the q71 shared-partitioning discipline)
    val q92 = graft.queries.Analytic.q92SessionsBatch.fn(spark, sf)
    q92.write.format("noop").mode("overwrite").save()
    val plan = q92.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"q92 plans $exchanges hash exchanges:\n$plan")
  }

  test("candidate generators never plan a cartesian or nested-loop join") {
    // the near-dup / ANN pair sources must stay banded EQUI-joins at any
    // scale — a cartesian/BNLJ here is the difference between O(n) and
    // O(n²) at 100 TB. q36's centroid assignment crossJoins a BROADCAST
    // 10-row centroid table by design (bounded side), so broadcast NLJ is
    // asserted absent only for the corpus-sized pair generators.
    for (name <- Seq("q32_minhash_neardup", "q51_ngram_jaccard", "q64_ann_srp",
      "q66_decontaminate", "q96_fuzzy_linkage", "q102_semantic_dedup",
      "q103_pq_encode", "q104_pq_adc_topk", "q126_embedding_covariance",
      "q127_frame_dedup", "q132_prefix_jaccard_join",
      "q136_boilerplate_strip", "q138_simhash_hamming_join",
      "q185_containment_join", "q187_substring_dup",
      "q190_label_propagation", "q191_substring_decontaminate")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name planned a nested-loop join:\n$plan")
    }
    // the IVF queries keep their DESIGNED bounded exception (the 10-row
    // broadcast centroid crossJoin for assignment/probing); an unbounded
    // cartesian is still forbidden, and their member-candidate joins must
    // hash on the cluster key
    for (name <- Seq("q36_ann_ivf", "q100_ann_ivf_nprobe")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"$name candidate join must be a broadcast hash join:\n$plan")
    }
    // q124's histogram merge must stay aggregate-shaped: no join of any
    // kind on the corpus path (the semi-join against active buckets is
    // bucket-cardinality-sized), and no RANGE-frame window — the explode
    // into trailing windows + hash aggregate IS the design (a window
    // here would mean the rejected dense-grid shape crept back)
    val p124 = SparkEntry.queries("q124_rolling_p95_sketch")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p124.contains("CartesianProduct") &&
      !p124.contains("BroadcastNestedLoopJoin"), p124)
    assert(!p124.toLowerCase.contains("specifiedwindowframe(rangeframe"),
      s"q124 regressed to a RANGE-frame rolling window:\n$p124")
  }

  test("round-10 family: no cartesian anywhere, basket pair-gen stays equi") {
    // q153/q157's only pair generator is the basket-keyed equi self-join
    // (Σ|basket|² work); q154/q155/q156/q158/q159 are aggregate/window
    // shaped with at most 1-row broadcast joins (which plan as bounded
    // BroadcastNestedLoop by design, the q146 shape) — an unbounded
    // cartesian is forbidden for all of them.
    for (name <- Seq("q153_basket_lift", "q154_ab_test",
      "q155_ols_normal_eq", "q156_chi2_terms", "q157_bfs_hops",
      "q158_interval_coalesce", "q159_bpe_merges")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
    }
  }

  test("mining/eval family (q163–q171): no cartesian; nested-loop only " +
      "for designed bounded broadcasts") {
    // run-keyed equi joins and windows over value runs everywhere —
    // nothing here may plan an unbounded pair generator. q167 (5-row
    // anchor broadcast, the q35 shape) and q169/q171 (1-row corpus-max
    // broadcast, the q146 shape) keep their DESIGNED bounded
    // nested-loop; everything else forbids BNLJ outright.
    for (name <- Seq("q163_spearman_corr", "q164_bootstrap_ci",
      "q165_pareto_skyline", "q166_winsorized_mean", "q168_seq_triples",
      "q170_lsh_recall_eval")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name planned a nested-loop join:\n$plan")
    }
    for (name <- Seq("q167_hard_negatives", "q169_rfm_segments",
      "q171_churn_hazard")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
    }
    // q172 (two 1-row smoothing constants), q173 (three 1-row merge
    // broadcasts + 1-row totals), q174 (1-row temporal midpoint) keep
    // designed bounded broadcasts; q175 is window+aggregate only.
    for (name <- Seq("q172_dsir_weights", "q173_bpe_encode",
      "q174_calibration_brier", "q175_ngram_novelty")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
    }
    val p175 = SparkEntry.queries("q175_ngram_novelty")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p175.contains("BroadcastNestedLoopJoin"), p175)
    // q176's range join broadcasts the score-CARDINALITY-bounded pooled
    // run table (bounded by design, like the IVF centroid crossJoin);
    // q177 broadcasts two 1-row scalar frames. Unbounded cartesians stay
    // forbidden for both.
    for (name <- Seq("q176_quantile_normalize", "q177_cuped")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
    }
    // q178/q179 are aggregate+window shaped; q178's 5-row baseline join
    // may broadcast but nothing may plan a cartesian or corpus-sized NLJ
    for (name <- Seq("q178_burst_windows", "q179_behavior_entropy",
      "q180_cusum_peak", "q186_linear_attribution")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
    }
    // q181/q182's only pair generator is the basket-keyed equi self-join
    // (the q153/q157 shape); degree/peeling joins are node-keyed equi;
    // q183's pair source is the label-blocked equi self-join (q34 shape)
    for (name <- Seq("q181_degree_assortativity", "q182_kcore",
      "q183_reciprocal_nn", "q184_embedding_outliers")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
    }
  }

  test("q143/q144: multi-join analytics broadcast only bounded dims") {
    for (name <- Seq("q143_local_supplier_revenue", "q144_market_share")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
      // the region→nation dims must come in as broadcast hash joins; the
      // fact-chain joins may be whatever AQE picks, but never nested-loop
      assert(plan.contains("BroadcastHashJoin"), s"$name:\n$plan")
    }
  }

  test("q123's temporal lookup rides ONE user exchange — no interval join") {
    // the SCD2 point-in-time join must stay the union+window as-of: a
    // single hash exchange on user_id (the final orderBy's range exchange
    // is presentation, not data movement between operators)
    val q123 = graft.queries.Analytic.q123TemporalLookup.fn(spark, sf)
    q123.write.format("noop").mode("overwrite").save()
    val plan = q123.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"q123 plans $exchanges hash exchanges:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("q115's snapshot diff is one keyed full-outer join, not a loop") {
    // full outer cannot broadcast; the only scalable plan is both sides
    // hash-partitioned on the PK into a merge/shuffled-hash join — a BNLJ
    // here would be O(n²) the day the snapshots stop fitting in memory
    val plan = SparkEntry.queries("q115_snapshot_diff")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("FullOuter"), s"diff lost its full-outer core:\n$plan")
  }

  test("q52 computes document frequency without a vocabulary join") {
    // the df (document-frequency) side is vocabulary-sized at 100 TB, so
    // q52 must neither FORCE it broadcast nor join it back at all: df is a
    // count over a Window partitioned by term, so the tf rows flow through
    // ONE term exchange and no second tokenize+aggregate subtree exists.
    // Disabling size-based broadcasts must leave zero hash/merge joins —
    // only the 1-row n_docs frame keeps its explicit broadcast (a bounded
    // BroadcastNestedLoopJoin Cross of exactly one row)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q52 = graft.queries.TextAnalysis.q52Tfidf.fn(spark, sf)
      q52.write.format("noop").mode("overwrite").save()
      val plan = q52.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin")
          && !plan.contains("BroadcastHashJoin"),
        s"q52 must carry df via a window, not a term join:\n$plan")
      assert(plan.contains("windowspecdefinition(term"),
        s"expected df as count(1) over a term-partitioned window:\n$plan")
      val termExchanges = "Exchange hashpartitioning\\(term".r
        .findAllIn(plan).size
      assert(termExchanges == 1,
        s"expected exactly one term exchange, saw $termExchanges:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("round-12 family (q197–q206): no cartesian; nested-loop only for " +
      "designed bounded broadcasts") {
    // pair generators are all keyed equi joins: q198's item-item self-join
    // shuffles on user_id, q201's 7-day band rides the user equi key,
    // q206's O(n²) lattice rides the event_type equi key with the k ≥ j
    // range as a residual condition — none may plan an unbounded pair
    // scan. q204/q203 are grid/window shaped; q202's joins are
    // (doc, run)/term keyed.
    for (name <- Seq("q198_adamic_adar", "q201_position_attribution",
      "q202_rake_keywords", "q203_brown_trend", "q204_mase_eval",
      "q206_isotonic_pava")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name planned a nested-loop join:\n$plan")
    }
    // q197 (1-row n), q199 (1-row corpus total), q200 (1-row totals ×3 +
    // the |langs|×|sources| margin grid), q205 (3×3 literal label grid +
    // 1-row totals) carry DESIGNED bounded broadcasts that plan as
    // BroadcastNestedLoop; an unbounded cartesian is still forbidden.
    for (name <- Seq("q197_benford_audit", "q199_js_divergence",
      "q200_contingency_assoc", "q205_cohens_kappa")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
    }
  }
  test("round-13 family (q207–q228): pair generators stay equi-keyed; " +
      "bounded broadcasts only") {
    // q208/q209's day-pair and q227's term-keyed self-joins, q222/q225's
    // membership joins, and q207/q215's window shapes must never plan an
    // unbounded cartesian or a corpus-sized nested loop
    for (name <- Seq("q207_mann_whitney",
      "q209_theil_sen", "q211_ohlc_bars", "q212_hill_tail",
      "q213_phrase_search", "q215_gini_stump", "q216_bh_fdr",
      "q217_page_hinkley", "q221_acf_ljungbox", "q222_leaderboard_churn",
      "q226_runs_test", "q227_cosine_profiles",
      "q228_haar_energy", "q229_cliffs_delta", "q230_good_turing",
      "q231_mann_kendall", "q234_exp_gap_ks",
      "q235_overdispersion", "q237_rank_biased_overlap",
      "q240_newey_west", "q242_means_profile",
      // round-13 late additions: q243's moment grid, q244's profile/
      // truncation-lag equi joins, q245's run-length window — all
      // strictly keyed, no bounded-broadcast waiver needed
      "q243_jarque_bera", "q244_seasonal_ewma", "q245_kruskal_wallis",
      // q246's lag window and q248's grid/cell aggregates are join-free
      // or equi-keyed; q247's 5-row moment frame is an explicit
      // broadcast HASH join on event_type, not a nested loop
      "q246_burstiness", "q247_mean_excess", "q248_hod_anova",
      // q250's 16-row head table is an explicit broadcast HASH join;
      // q251's K×D centroid fan is pos-keyed
      "q250_oov_rate", "q251_silhouette")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name planned a nested-loop join:\n$plan")
    }
    // q210's pair×value grid and the 1-row span/bounds broadcasts in
    // q208/q214/q220/q224/q225 ARE broadcast nested-loop shapes BY
    // DESIGN (sources²×values, a |types|×1 grid seed, or a scalar
    // frame — all category-bounded, never row-proportional); only an
    // unbounded cartesian is forbidden
    for (name <- Seq("q208_kendall_tau", "q210_wasserstein1",
      "q214_stickiness", "q218_zipf_slope", "q219_cmh_strata",
      "q220_rolling_corr", "q223_cochran_armitage", "q224_diff_in_diff",
      "q225_capture_recapture", "q232_theil_decomposition",
      "q233_bayes_average", "q236_wilson_ci",
      "q238_growth_accounting", "q239_entropy_rate",
      "q241_disparate_impact",
      // q249's global-bounds 1-row grid seed is a designed broadcast
      "q249_james_stein")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
    }
  }

  test("round-14 family: experiment-health and detectability operators " +
      "stay window/equi-keyed — no cartesian, no nested loop") {
    // q252/q253 are window-total shapes over arm/stratum aggregates;
    // q254 reuses the q235 dense-grid equi join; q257 is q234's
    // equi-keyed moment join. q255/q256 carry the q174/q177 1-row
    // midpoint broadcast (checked in the waiver group below).
    // q258's residual scan and q260's rank window are join-free or
    // strictly equi-keyed like their q234/q142 parents
    // q262's demand-point window and q263's median/moment joins are
    // strictly equi-keyed like their q235 parent
    for (name <- Seq("q252_srm_check", "q253_post_strat_ate",
      "q254_mde_power", "q257_cramer_von_mises", "q258_durbin_watson",
      "q260_ansari_bradley", "q262_croston", "q263_brown_forsythe",
      // q264's 3-lag window and q266's gap window are join-free beyond
      // the grid equi join; q265's argmax rides the same moment join
      "q264_pacf", "q265_grubbs", "q266_greenwood",
      // q267's islands are window-only; q268's identity needs no pairs
      // at all (pos-keyed + per-row folds); q269's self-join is the
      // q183 label-blocked equi shape
      "q267_streaks_records", "q268_anisotropy", "q269_twonn",
      // q271/q272 are window finishes over tiny group counts; q274's
      // normalizers are window-only
      "q271_temperature_mixture", "q272_class_balanced",
      "q274_topsis",
      // q276 is per-row string ops + one aggregate; q277's chains are
      // user-keyed band joins (the q08 theta shape); q278 is q234's
      // window + moment aggregate
      "q276_flesch", "q277_window_funnel", "q278_gap_model_llr",
      // q279/q280's lag windows and q281's residual/influence scans
      // ride the same grid equi joins as their q235/q258 parents
      "q279_turning_points", "q280_bartels_rvn",
      "q281_cooks_distance",
      // q282's closed form is one (doc, token) lag window + equi join;
      // q284's intersection is the q227 token-keyed equi shape
      "q282_mattr", "q284_vocab_overlap",
      // q285's lag window and q287's cell algebra are join-free or
      // strictly keyed
      "q285_double_fire", "q287_simpson_audit",
      // q288's grid moments and q290's hod-blocked day pairs are
      // strictly equi-keyed
      "q288_negbinomial_fit", "q290_seasonal_mann_kendall",
      // q292 is grid moments only
      "q292_volume_hhi",
      // q294's spectrum and q296's gap moments are scan + hash
      // aggregates, join-free
      "q294_yule_k", "q296_gap_burstiness",
      // q297/q298 are per-user collapses (q298's midpoint is a
      // 2-scalar driver probe, not a broadcast); q299 rides the q265
      // dense-grid equi join; q300 is the q126 join-free fused explode
      "q297_odds_ratio", "q298_mcnemar", "q299_dow_seasonality",
      "q300_participation_ratio",
      // q303's moment join is type-bounded; q305 is two hash
      // aggregates plus a window over the tiny spectrum frame
      "q303_theil_index", "q305_dup_cluster_spectrum",
      // q318 is q305's shape at chunk grain (explode → two hash
      // aggregates → per-source spectrum window); q319 is q32's banded
      // pipeline over pre-collapsed chunk reps — bucket equi-joins
      // only, candidates bounded by distinct-text count per bucket
      "q318_chunk_dup_spectrum", "q319_chunk_neardup",
      // q320's self-join is hash-keyed (per-hash source multiplicity
      // bounds candidates); q321 is one aggregate + a per-source rank
      // over the distinct-chunk frame
      "q320_source_overlap", "q321_boilerplate_chunks",
      // q329's ntile window is docs-per-source-bounded; the novelty
      // join is (source, doc) equi-keyed
      "q329_chunk_novelty",
      // q322's orderkey join and q323's custkey join + customer-keyed
      // lag windows are strictly equi/partition-keyed; percentiles ride
      // run-sized windows (q315's device)
      "q322_shipping_delay", "q323_repeat_intervals",
      // q324's rank window is vocabulary-sized per source; q325 rides
      // the q221 span-bounded dense grid
      "q324_token_gini", "q325_effective_sample_size",
      // q328's pair join is pos-keyed and label-bounded (the q311
      // shape); its intra stage is one moment aggregate
      "q328_label_separation",
      // q306 is one orderkey equi join; q307/q308 are join-free scans
      "q306_order_dispersion", "q307_char_entropy",
      "q308_norm_drift",
      // q309's rank rides the q142 bins (probe, not broadcast);
      // q311's pair join is strictly pos-keyed
      "q309_wilcoxon_signed_rank", "q311_centroid_distances",
      // q312 is one moment aggregate; q313's dims are a designed
      // broadcast equi join (the q143 shape); q315/q316/q317 are
      // join-free run-decomposed percentiles (windows over run tables)
      "q312_size_price_corr", "q313_nation_revenue_share",
      "q315_user_activity_percentiles", "q316_doc_length_percentiles",
      "q317_gap_percentiles")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name planned a nested-loop join:\n$plan")
    }
    // q255/q256's 1-row midpoint probe is the q174/q177 designed
    // broadcast (scalar frame, never row-proportional); q259's
    // |types|×1 global-bounds grid seed is the q249 designed broadcast;
    // an unbounded cartesian is still forbidden
    // q261's 4-element block-size fan is a designed bounded broadcast
    // q270's unblocked n² 1-NN is a nested loop BY DESIGN (cross-label
    // neighbors are the measurement; it is the exact audit-scale
    // evaluator); only a cartesian is forbidden here
    // q273's 10-bin seed and q275's 8-subset/3-channel grids are
    // literal bounded broadcasts (the q205 device)
    // q283's 1-row collection-stats frame is a designed scalar
    // broadcast (the q174 midpoint shape)
    for (name <- Seq("q255_reg_discontinuity", "q256_uplift_qini",
      "q259_friedman", "q261_hurst_rs", "q270_label_noise",
      "q273_ldiv_tcloseness", "q275_shapley_attribution",
      // q286's 1-row anchors (global d0, max week) and q289's 1-row
      // corpus-entropy frames are scalar broadcasts
      "q283_query_likelihood", "q286_cohort_ltv",
      // q293's 1-row chi frame and q291's 1-row half-vocabulary
      // counters are the same scalar shape
      "q289_order2_entropy", "q291_vocab_churn",
      "q293_priority_mix_shift",
      // q295's 1-row document-count frame is the same scalar broadcast;
      // q301's four 1-row moment frames and q302's 1-row bounds frame
      // are the q293 scalar shape
      "q295_token_burstiness", "q301_cronbach_alpha",
      "q302_kendall_w",
      // q304's scalar total/top-k frames are the same 1-row shape (the
      // DESC two-level rank itself joins by bin, strictly equi-keyed);
      // q310's 1-row day-bounds frame is the q302 scalar shape; q314's
      // 1-row chi frame is the q293 scalar shape
      "q304_customer_concentration", "q310_type_volume_spearman",
      "q314_source_language_mix",
      // q326 carries q174's 1-row midpoint probe (the designed scalar
      // broadcast); the decomposition itself is a 10-row finish
      "q326_brier_decomposition",
      // q327 carries q174's 1-row midpoint probe + a 9-row literal
      // decile grid (both designed bounded broadcasts)
      "q327_qq_drift")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
    }
  }
}
