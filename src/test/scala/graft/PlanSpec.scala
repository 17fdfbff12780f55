package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gate: the properties that make these queries
  * scale — pushdown reaching the parquet scan, pruned read schemas,
  * broadcast star joins, map-side partial aggregation, range-partitioned
  * global sort, rank-limit pushdown, top-k without a global sort — are
  * asserted on the actual plans, so a regression in plan shape fails CI
  * even while results stay correct. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString + "\n" +
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  test("q01: ship-date filter and column pruning reach the parquet scan; agg is partial+final") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("partial_sum"), "expected map-side combine (partial aggregation)")
    assert(!p.contains("l_orderkey"), "q01 must not read join keys it doesn't use")
  }

  test("q03: every dimension join in the star is broadcast, fact scan reads 3 columns") {
    val p = plan("q03_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "customer/orders-side dims should broadcast")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"))
    assert(!p.contains("SortMergeJoin"), "no SMJ expected in the dim star")
  }

  test("q04: rank<=k is pushed into WindowGroupLimit (no full per-group sort)") {
    val p = plan("q04_topk_orders_per_customer")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>"))
  }

  test("q13: global sort is a range-partitioned exchange (terasort shape)") {
    val p = plan("q13_global_sort_events")
    assert(p.contains("rangepartitioning(ts_us"))
  }

  test("q34: top-k pairs use TakeOrderedAndProject, not a global sort") {
    val p = plan("q34_embedding_pair_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("rangepartitioning"), "limit after order must not global-sort")
  }

  test("q80: scale equi-depth histogram has no window operator at all") {
    val p = plan("q80_equidepth_histogram_scale")
    assert(!p.contains("Window"), "range bucketing must not fall back to a window")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the 9 boundaries should reach rows via broadcast")
  }

  test("q82: salted aggregation shuffles on (key, salt), then merges per key") {
    val p = plan("q82_salted_skew_aggregation")
    assert("hashpartitioning\\(event_type#\\d+, salt#\\d+".r.findFirstIn(p).isDefined,
      "phase-1 exchange must fan each key over the salt space")
  }

  test("q24: SimHash pair search is the chunk-bucket equi-join, no nested loop") {
    val p = plan("q24_neardup_simhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "pigeonhole candidates must come from the (k, chunk) equi-join")
  }

  test("q74: the heavy collect_list window is partitioned by chunk") {
    val p = plan("q74_sliding_window_distance")
    val lists = p.linesIterator.filter(_.contains("collect_list")).toSeq
    assert(lists.nonEmpty, "expected a collect_list window in the plan")
    assert(lists.forall(_.contains("windowspecdefinition(chunk")),
      s"the sliding window must be partitioned by day chunk:\n${lists.mkString("\n")}")
    // its keyless distance join bands through RangeJoinRewrite
    assert(p.contains("__graft_range_bin"),
      "RangeJoinRewrite must fire on q74's range join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "q74's pairs must come from the bin equi-join, not an all-pairs scan")
  }

  test("q78: LSH-pruned pair top-k has no nested-loop pair scan") {
    val p = plan("q78_embedding_pair_topk_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "candidate generation must be the probe equi-join, not an all-pairs scan")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q83: LSH-pruned threshold near-dup has no nested-loop pair scan") {
    val p = plan("q83_embedding_neardup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "candidate generation must be the probe equi-join, not an all-pairs scan")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("hashpartitioning(probe"),
      "probe join must not shuffle on the probe key")
  }

  test("q84: E-step joins broadcast the centroid table, no pair scan") {
    val p = plan("q84_kmeans_label_centroids")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "distance computation must be the dim equi-join, not an all-pairs scan")
    assert(p.contains("BroadcastHashJoin"), "k x 64 centroid rows must broadcast")
  }

  test("q88: map-side assignment broadcasts k centroid arrays, fact never shuffles on dim") {
    val p = plan("q88_kmeans_broadcast_assign")
    // the k-row centroid-array side broadcasts (bounded-k contract, like
    // q31's query vectors); the vector table itself must not be exploded
    // or hash-partitioned per dimension
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("hashpartitioning(dim"),
      "the fact side must stay un-exploded; only centroid building may touch dim")
  }

  test("runtime bloom filter prunes the fact side of a selective fact-fact join") {
    // 100 TB posture check on Spark's own runtime filtering: when a
    // shuffle join's build side carries a selective predicate, Catalyst
    // injects a bloom filter that prunes the probe side BEFORE the
    // shuffle. The fixture is far below the production size thresholds,
    // so they are lowered to observe the mechanism; at scale the
    // defaults trigger on exactly this plan shape.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.sources.Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_extendedprice")
      val o = graft.sources.Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = li.join(o,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"expected an injected runtime bloom filter in:\n$p")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("events scan surfaces ts_us bigint whatever the fixture's physical ts type") {
    // Tables.events type-dispatches on the parquet footer (int64-ns
    // through round 7; µs TIMESTAMP_NTZ since the round-8 fixture
    // regeneration) and always derives epoch-µs `ts_us` — pin that the
    // scan reads ONE of the two known encodings and that the derived
    // column is bigint either way.
    val p = plan("q13_global_sort_events")
    assert(p.contains("ts:bigint") || p.contains("ts:timestamp_ntz")
      || p.contains("ts:timestamp"),
      "events.ts must scan as int64-ns or a timestamp type")
    assert(p.contains("ts_us#") && p.contains("L ASC"),
      "sort must run on the derived bigint ts_us")
  }

  test("q216: the lang filter prunes at the partition-directory level") {
    // The filter on the Hive partition column must become a
    // PartitionFilters entry on the scan of the partitioned layout —
    // directory-level pruning, not row-level post-filtering. (The query
    // writes the layout as a side effect of planning; temp-dir cost at
    // sf0.001 is negligible.)
    val p = plan("q216_partitioned_layout_pruning")
    assert(p.contains("PartitionFilters: [") && p.contains("lang#"),
      "lang filter must reach PartitionFilters on the partitioned scan")
    assert(p.contains("lang IN (en,de)") || p.contains("lang#") && p.contains(" IN (en,de)"),
      s"expected the IN filter over the partition column in:\n$p")
  }

  test("q206: neighbor lists broadcast into scoring; the scoring tail is ONE fused aggregate") {
    // The bounded top-10 neighbor list (plus its tombstone self-entries)
    // must broadcast (the candidate join never shuffles the train part
    // sets on the neighbor key); the neighbor truncation runs as the
    // k-bounded-heap aggregate and the WHOLE scoring tail — score sum,
    // train-set exclusion, top-5 — as the fused graft_topk_sum
    // aggregate: no rank window, no separate anti-join pass, and so no
    // sort-exchange-sort anywhere in the scoring chain.
    val p = plan("q206_cf_holdout_precision")
    assert(p.contains("BroadcastHashJoin"), "nb must broadcast into the scoring join")
    assert(p.contains("graft_topk_pairs"), "neighbor truncation must be the heap aggregate")
    assert(p.contains("graft_topk_sum"),
      "the scoring tail must be the fused sum+exclusion+top-k aggregate")
    assert(p.contains("ObjectHashAggregate"), "heap aggregates ride ObjectHashAggregate")
    assert(!p.contains("WindowGroupLimit"),
      "no rank window should remain in the scoring chain")
    assert(!p.contains("LeftAnti"),
      "exclusion is fused into graft_topk_sum — no anti-join pass remains")
  }

  test("q223: keyless range join runs as the band equi-join, no nested loop") {
    // the banded rewrite's whole point: the 5s-proximity self-join must
    // shuffle on the band key like any equi-join — an all-pairs
    // BroadcastNestedLoopJoin here is quadratic in the corpus
    val p = plan("q223_banded_burst_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "burst pairs must come from the band equi-join, not an all-pairs scan")
    assert("hashpartitioning\\(band#\\d+".r.findFirstIn(p).isDefined ||
      p.contains("band#"),
      "the join must key on the exploded time band")
  }

  test("q231: SemDeDup pair scan is cluster-keyed, never a global pair loop") {
    // the published SemDeDup trick: the near-dup pair join is an
    // EQUI-join on the cluster id (bounded per-cluster population),
    // not q60's global O(n²) scan; only the bounded-k centroid
    // broadcast may nested-loop (the q88/q31 contract)
    val p = plan("q231_semdedup_cluster_prune")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[clabel".r
      .findFirstIn(p).isDefined,
      "the pair scan must equi-join on the cluster id")
    assert(!p.contains("CartesianProduct"))
  }

  test("q230: NAIVE interval-overlap join is auto-banded (both sides explode)") {
    // window lengths are data-dependent and no session carries a
    // fallback width, so banding here proves the sampled-width path
    val p = plan("q230_overlap_incident_windows")
    assert(p.contains("__graft_range_bin_genl") &&
      p.contains("__graft_range_bin_genr"),
      "the overlap rewrite must band both window sides")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "overlapping windows must pair through the bin equi-join")
  }

  test("q227: NAIVE keyless range join is auto-banded by the optimizer rule") {
    // q223 bands by hand; q227 writes the plain theta join and
    // RangeJoinRewrite must turn it into the bin equi-join (static
    // width inference from the literal-offset bounds — no conf set)
    val p = plan("q227_auto_banded_click_rush")
    assert(p.contains("__graft_range_bin"),
      "RangeJoinRewrite must fire on the naive bounds")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "click-rush pairs must come from the bin equi-join, not an all-pairs scan")
  }

  test("q238/q239: fingerprint pairing and span detection are hash-keyed, never all-pairs") {
    val p8 = plan("q238_winnowing_fingerprints")
    assert(!p8.contains("CartesianProduct") && !p8.contains("BroadcastNestedLoopJoin"),
      "winnowing pairs must come from the fingerprint-value equi-join")
    // the consumer reads the MV parquet; the winnowing window lives in
    // the MV BUILD plan and must partition per document, never globally
    val build = graft.operators.Dedup.winnowFingerprints(
      graft.sources.Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(build.contains("windowspecdefinition(doc_id"),
      "the winnowing window must partition by doc_id")
    val p9 = plan("q239_dup_span_islands")
    assert(!p9.contains("CartesianProduct") && !p9.contains("BroadcastNestedLoopJoin"),
      "span detection must join positions to the duplicated-hash set by hash")
  }

  test("q243: SNM global rank is bucket-decomposed, neighbor pairing is an equi-join") {
    val p = plan("q243_sorted_neighborhood_neardup")
    // the heavy rank window must partition by the bucket column — a
    // Window with an empty partition spec over the corpus would be the
    // one-task global sort SNM is supposed to avoid
    assert(p.contains("windowspecdefinition(bkt"),
      "SNM rank window must partition by the key-prefix bucket")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "neighbor pairing must be the rank+d equi-join")
  }

  test("q244: the backfilled table's read is a plain partitioned parquet scan") {
    val p = plan("q244_partition_backfill_overwrite")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "the per-partition checksum must map-side combine")
  }

  test("q71: subqueries decorrelate to semi/anti/outer joins, no per-row re-execution") {
    val p = plan("q71_correlated_subqueries")
    assert(p.contains("LeftSemi"), "EXISTS must decorrelate to a left-semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must decorrelate to a left-anti join")
    assert(p.contains("LeftOuter"), "scalar COUNT must decorrelate to an outer agg join")
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("g71_")),
      "q71 must not leave its temp views on the caller's session")
  }

  test("q65: bucket self-join is broadcast (bucket assignment shuffles nothing)") {
    val p = plan("q65_ann_hyperplane_lsh")
    // bucket = pure per-row projection; the query side broadcasts, so the
    // candidate join needs no hash-partitioning exchange at all
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("hashpartitioning(bucket"),
      "bucket join must not shuffle on bucket")
    assert(p.contains("WindowGroupLimit"), "per-query top-3 should rank-limit early")
  }

  test("q92: the benchmark gram set broadcasts; the corpus never nested-loops") {
    val p = plan("q92_benchmark_decontamination")
    // the held-out gram set is tiny by construction — the overlap join
    // must be a broadcast hash join on the gram, and nothing all-pairs
    assert(p.contains("BroadcastHashJoin"), "bench gram set should broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "decontamination must stay an equi-join on the gram")
  }

  test("q93: the packing prefix sum is partitioned by source (no global window)") {
    val p = plan("q93_sequence_packing")
    // a single-partition window over the fact table is the scale killer
    // this operator is designed to avoid
    assert(p.contains("Window"), "packing uses a window cumsum")
    assert(!p.contains("SinglePartition"),
      "the cumsum window must ride source partitions, never one partition")
  }

  test("q99: query postings broadcast; the index never shuffles on the term key") {
    val p = plan("q99_tfidf_cosine_retrieval")
    assert(p.contains("BroadcastHashJoin"), "the query slice must broadcast")
    assert(!p.contains("hashpartitioning(w#"),
      "posting probe must not shuffle on the |vocab|-sized term key")
    assert("hashpartitioning\\(doc_id#\\d+L?, \\d+".r.findFirstIn(p).isDefined,
      "index repartitioned by doc_id so per-pair partials combine map-side")
  }

  test("q105: every window in the epoch shuffle order partitions by source") {
    val p = plan("q105_interleave_shuffle_order")
    // the one-row corpus total legitimately aggregates on a single
    // partition; what must NOT exist is a global (unpartitioned) window
    val ws = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(ws.nonEmpty, "expected the within-source rank window")
    assert(ws.forall(_.contains("windowspecdefinition(source")),
      s"positions must come from the closed form, never a global window:\n${ws.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the source-size table should broadcast")
  }

  test("q101: removal set broadcasts against documents; no pair scan") {
    val p = plan("q101_canonical_compaction")
    assert(p.contains("BroadcastHashJoin"),
      "the cluster-membership-sized removal set must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the representative window partitions by component, never globally
    assert(!p.contains("SinglePartition"),
      "per-component rank must not collapse to one partition")
  }

  test("q108: the pair side broadcasts into both source lookups; documents never shuffles") {
    val p = plan("q108_source_overlap_matrix")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "both endpoint-labeling joins must broadcast the pair side")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the documents scan must never shuffle on doc_id")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q112: whitening stats are one pass — no join, map-side combine") {
    val p = plan("q112_embedding_dim_stats")
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!p.contains(j), s"per-dim moments must not require a join ($j)"))
    assert(p.contains("partial_"), "dim aggregate should map-side combine")
  }

  test("q113: centroid arrays broadcast; the vector table never sort-merges") {
    val p = plan("q113_centroid_outlier_audit")
    assert(p.contains("BroadcastHashJoin"),
      "the k-row centroid/stat tables must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the vector scan must never shuffle for a k-row join side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q116: shard plan windows partition by source; positions stay closed-form") {
    val p = plan("q116_export_shard_plan")
    val ws = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(ws.nonEmpty, "expected the within-source rank window")
    assert(ws.forall(_.contains("windowspecdefinition(source")),
      s"sharding must never global-sort:\n${ws.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the source-size table should broadcast")
  }

  test("q111: curriculum windows partition by source — never a global sort") {
    val p = plan("q111_curriculum_phases")
    val ws = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(ws.nonEmpty, "expected the per-source ntile window")
    assert(ws.forall(_.contains("windowspecdefinition(source")),
      s"phase assignment must stay within source partitions:\n${ws.mkString("\n")}")
    assert(!p.contains("SinglePartition"),
      "no operator may collapse the corpus to one partition")
  }

  test("q117: export manifest broadcasts the removal set; windows stay per-component") {
    val p = plan("q117_training_export_manifest")
    assert(p.contains("BroadcastHashJoin"),
      "the cluster-membership-sized removal set must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    val ws = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(ws.nonEmpty && ws.forall(_.contains("windowspecdefinition(component_id")),
      "the representative rank must partition by component, never globally")
  }

  test("q123: RFM scores come from broadcast boundaries — no window operator at all") {
    val p = plan("q123_rfm_segmentation")
    assert(!p.contains("windowspecdefinition"),
      "quartile scoring must not use ntile/rank windows")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the one-row boundary aggregate should broadcast")
  }

  test("q124: basket affinity top-20 rides TakeOrdered, no cartesian pair scan") {
    val p = plan("q124_part_affinity")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-20 must not materialize a full sort")
    assert(!p.contains("CartesianProduct"),
      "the basket self-join must stay an equi-join on the order key")
    // round 11: the a-priori support floor moved INTO the copairs_sup2
    // materialized view (CoPurchaseSpec proves the view ≡ the inline
    // floored self-join) — the consumer plan must now be MV scans +
    // broadcast joins, with no basket self-join left at all
    assert("graft-mv".r.findAllIn(p).nonEmpty,
      "pair counts must come from the co-purchase MV parquet")
    // (the remaining o-keyed exchange is the n_orders COUNT(DISTINCT o)
    // over the incidence MV — a count, not a self-join)
    assert(!"SortMergeJoin .*\\(o#".r.findFirstIn(p).isDefined,
      "no order-keyed self-join should remain in the consumer")
  }

  test("q127: the multi-distinct profile is one scan through Expand") {
    val df = SparkEntry.queries("q127_column_profile")(spark, sf)
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("Expand"), "multi-distinct should plan via Expand")
    assert("Scan parquet".r.findAllIn(exec).size == 1,
      "profiling must not rescan events per column")
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin").foreach(j =>
      assert(!exec.contains(j), s"a one-table profile must not join ($j)"))
  }

  test("q131: the per-source rank <= 5 pushes into WindowGroupLimit") {
    val p = plan("q131_per_source_weighted_sample")
    assert(p.contains("WindowGroupLimit"),
      "per-source top-5 must stop each partition early")
    val ws = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(ws.nonEmpty && ws.forall(_.contains("windowspecdefinition(source")),
      "sampling must never total-order the corpus")
  }

  test("q114: snapshot diff fuses to one scan — no join of any kind") {
    val p = plan("q114_snapshot_diff")
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!p.contains(j), s"derivable membership must not join ($j)"))
    assert(p.contains("partial_"), "diff counts should map-side combine")
  }

  test("q115: the first-5 predicate pushes into WindowGroupLimit per user") {
    val p = plan("q115_user_journey_paths")
    assert(p.contains("WindowGroupLimit"),
      "rank <= 5 must stop each user group early, not sort full histories")
    assert(!p.contains("SinglePartition"),
      "the journey window must partition by user, never globally")
  }

  test("q102: quantization audit is a single pass — no join of any kind") {
    val p = plan("q102_embedding_quantization_error")
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!p.contains(j), s"per-vector scale must not require a self-join ($j)"))
    assert(p.contains("partial_"), "label aggregate should map-side combine")
  }

  test("q103: hard-negative mining is the probe equi-join, no nested loop") {
    val p = plan("q103_hard_negative_mining")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "candidates must come from the probe equi-join, not an all-pairs scan")
    assert(p.contains("WindowGroupLimit"), "per-anchor top-1 should rank-limit early")
  }

  test("q104: drift grid joins broadcast the vocab dims; corpus never sort-merges") {
    val p = plan("q104_vocab_drift_by_source")
    assert(p.contains("BroadcastHashJoin"), "per-source counts should broadcast-join")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q132: window fan-out is a static explode + broadcast equi-join, never an inequality join") {
    val p = plan("q132_rolling_7d_actives")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the [day-6, day] containment must become explode(0..6) + equi-join")
    assert(p.contains("BroadcastHashJoin"), "the observed-day dimension broadcasts")
    assert(!p.contains("Window"), "rolling distinct needs no window operator")
  }

  test("q133/q140/q141: every window partitions by user_id — no global sort of the event stream") {
    Seq("q133_user_state_intervals", "q140_pit_feature_snapshot",
      "q141_last_touch_attribution").foreach { q =>
      val p = plan(q)
      val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(specs.nonEmpty, s"$q should contain window operators")
      assert(specs.forall(_.contains("user_id")),
        s"$q windows must partition by user_id:\n${specs.mkString("\n")}")
      assert(!p.contains("SinglePartition"),
        s"$q must never funnel the stream through one partition")
    }
  }

  test("q134: salted join shuffles on (key, salt) when broadcast is off") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q134_salted_skew_join")
      assert("hashpartitioning\\(l_orderkey#\\d+L?, salt#\\d+L?".r
        .findFirstIn(p).isDefined,
        s"the fact exchange must fan each order key over the salt space:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q135: layout audit needs no join at all — static ranges, no sort") {
    val p = plan("q135_zorder_locality_audit")
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!p.contains(j), s"auditing a sort order must not join ($j)"))
    assert(!p.contains("rangepartitioning"),
      "static morton ranges replace any physical sort")
  }

  test("q136: profiler joins degree tables after map-side partial aggregation") {
    val p = plan("q136_join_cardinality_profiler")
    assert(p.contains("partial_count"),
      "each side must collapse to its degree table map-side before any join")
  }

  test("q137: the bloom position set reaches the corpus via broadcast") {
    val p = plan("q137_bloom_membership_audit")
    assert(p.contains("BroadcastHashJoin"),
      "the <=1024-row position set must broadcast into the probe")
    assert(!p.contains("SortMergeJoin"),
      "nothing in the bloom audit should sort-merge")
  }

  test("q142: the transition-probability denominator joins back broadcast") {
    val p = plan("q142_event_transition_matrix")
    assert(p.contains("BroadcastHashJoin"),
      "the event-type-domain denominator must broadcast, never sort-merge")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q144: diversity index is explode + two hash aggs — no join of any kind") {
    val p = plan("q144_token_diversity_index")
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!p.contains(j), s"a per-source diversity scan must not join ($j)"))
    assert(p.contains("partial_"), "grid counts should map-side combine")
  }

  test("q145: funnel windows are whole-partition per user — unordered, one exchange") {
    val p = plan("q145_sequential_funnel")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty)
    assert(specs.forall(_.contains("user_id")),
      s"funnel windows must partition by user_id:\n${specs.mkString("\n")}")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      "the three chained windows + per-user collapse must reuse ONE exchange")
  }

  test("q146: decile assignment is broadcast-boundary arithmetic, no window/ntile") {
    val p = plan("q146_decile_lift_table")
    assert(!p.contains("Window"),
      "deciles must come from broadcast boundaries, not a global ntile")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the 9 boundaries and the 1-row total should broadcast")
  }

  test("q147: HLL registers merge map-side (partial max) before any exchange") {
    val p = plan("q147_hll_set_algebra")
    assert(p.contains("partial_max"),
      "register MAX must combine map-side — the property that makes the sketch mergeable")
  }

  test("q148: OLS trend is two hash aggs + broadcast dim join, no window/sort") {
    val p = plan("q148_revenue_trend_ols")
    assert(!p.contains("Window"), "a regression needs sums, not sorts")
    assert(p.contains("BroadcastHashJoin"), "the customer dim should broadcast")
    assert(p.contains("partial_"), "moment sums must map-side combine")
  }

  test("q149: heavy rank/cumsum windows partition by (segment, bucket); prefixes broadcast") {
    // round-11 verdict item 3: the customer-sized window must NOT
    // partition by the 5-value segment alone (one task per segment
    // sorts everything) — it partitions by (segment, revenue bucket)
    // with the per-bucket prefix table broadcast back, q154 pattern
    val p = plan("q149_pareto_revenue_coverage")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty)
    val heavy = specs.filter(_.contains("segment"))
    assert(heavy.nonEmpty && heavy.forall(_.contains("bkt")),
      s"customer-sized pareto windows must partition by (segment, bkt):\n${specs.mkString("\n")}")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "both the bucket-prefix table and the per-segment totals should broadcast")
  }

  test("q91: the Gini rank window partitions by (segment, bucket); prefix broadcasts") {
    val p = plan("q91_revenue_gini_by_segment")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    val heavy = specs.filter(_.contains("c_mktsegment"))
    assert(heavy.nonEmpty && heavy.forall(_.contains("bkt")),
      s"the customer-sized rank must be bucket-partitioned:\n${specs.mkString("\n")}")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "customer dim + bucket-prefix table should broadcast")
  }

  test("q150: reconciliation is one co-partitioned agg + left join, no window") {
    val p = plan("q150_revenue_reconciliation_audit")
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "per-order compare must stay an equi-join on the order key")
  }

  test("q151: latest-wins rank pushes into WindowGroupLimit; deletes broadcast anti-join") {
    val p = plan("q151_cdc_merge_compaction")
    assert(p.contains("WindowGroupLimit"),
      "rn = 1 must stop each key group after one row")
    assert(p.contains("BroadcastHashJoin") &&
      ("LeftAnti".r.findFirstIn(p).isDefined),
      "the delete key set must broadcast into an anti-join")
  }

  test("engine-wide: every query plans, and no plan contains a CartesianProduct") {
    // The one physical operator with no at-scale excuse. The declared
    // all-pairs yardsticks (q22/q34/q60) express their pair scans as
    // broadcast nested-loop joins over a bounded side — a true
    // CartesianProductExec appearing anywhere means a join lost its
    // condition or a cross join grew two unbounded sides.
    val offenders = SparkEntry.all.flatMap { q =>
      val p = q.fn(spark, sf).queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct")) Some(q.name) else None
    }
    assert(offenders.isEmpty, s"CartesianProduct in: ${offenders.mkString(", ")}")
  }

  test("q154: the heavy skyline window partitions by price bucket") {
    val p = plan("q154_pareto_skyline")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.exists(_.contains("bkt")),
      s"the per-price running max must be bucket-partitioned:\n${specs.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"),
      "the bucket-prefix table must broadcast back")
  }

  test("q138/q139: boundary aggregates broadcast; no window operator anywhere") {
    Seq("q138_winsorized_segment_stats", "q139_zonemap_pruning_audit").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q must clip/classify map-side off broadcast boundaries, not window")
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
        s"$q boundaries should reach rows via broadcast")
    }
  }

  test("q156: retention join is a user-id equi-join with a map-side distinct reduce") {
    val p = plan("q156_signup_dn_retention")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "cohort x activity must stay an equi-join")
    // the distinct (user, day) reduction aggregates partially before the
    // exchange — the stream never shuffles raw
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      "expected partial aggregation before the join")
  }

  test("q157: the levenshtein verify runs only on block-equi-join candidates") {
    val p = plan("q157_fuzzy_ocr_relink")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "candidate generation must be the blk equi-join, never a pair scan")
    assert(p.contains("levenshtein"), "the verify must be in-plan (codegen'd)")
  }

  test("q159: PII audit is a pure scan + aggregate — no join anywhere") {
    val p = plan("q159_pii_redaction_audit")
    assert(!p.contains("Join"), "plant/flag/redact must all be per-row projections")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "source rollup should combine map-side")
  }

  test("q160: lifecycle audit joins on user_id only; no nested-loop anywhere") {
    val p = plan("q160_lifecycle_order_audit")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("partial_min"), "first-signup table should reduce map-side")
  }

  test("q161: every gap-fill window partitions by event_type; grid never joins unkeyed") {
    val p = plan("q161_hourly_gapfill_interpolation")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("event_type")),
      s"carry windows must partition by event_type:\n${specs.mkString("\n")}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q162/q163: shingle-family queries are equi-joins end to end") {
    Seq("q162_containment_pairs", "q163_boilerplate_fraction").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q: candidate/boilerplate joins must be keyed")
    }
    assert(plan("q163_boilerplate_fraction").contains("BroadcastHashJoin"),
      "the source doc-count table should broadcast")
  }

  test("q199/q200: histogram AUC and HRW audit never rank or join the fact side") {
    val p199 = SparkEntry.queries("q199_feature_auc")(spark, sf)
      .queryExecution.executedPlan.toString
    // the only window may run over the score domain, never user rows:
    // users must already be collapsed into the histogram by a hash agg
    assert(!p199.contains("windowspecdefinition(user_id"),
      "AUC must not rank per-user rows")
    assert(!p199.contains("SortMergeJoin") && !p199.contains("ShuffledHashJoin"),
      "cutoff scalar broadcasts; nothing shuffles a join")
    val p200 = SparkEntry.queries("q200_rendezvous_sharding_audit")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p200.contains("windowspecdefinition"),
      "HRW owners come from a max aggregate, not a rank window")
    Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!p200.contains(j), s"placement audit must be join-free ($j)"))
    assert("Scan parquet".r.findAllIn(p200).size == 1,
      "one documents scan feeds both epochs")
  }

  test("q201: CF cosine rides the q124 skeleton — prune, TakeOrdered, equi-join only") {
    val p = plan("q201_item_cf_cosine")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
    // round 11: the floored pair matrix comes from the copairs_sup2 MV
    // (floor proven at view build by CoPurchaseSpec); the consumer is
    // MV scan + broadcast popularity joins, no self-join left
    assert("graft-mv".r.findAllIn(p).nonEmpty,
      "pair counts must come from the co-purchase MV parquet")
    assert(p.contains("BroadcastHashJoin"),
      "popularity factors must broadcast onto the pair scan")
  }

  test("q196: churn snapshot is one fact aggregate with a broadcast cutoff scalar") {
    val df = SparkEntry.queries("q196_churn_training_snapshot")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // one scan feeds the cutoff scalar, one the feature aggregate — no
    // per-horizon rescans, no self-join, no window
    assert("Scan parquet".r.findAllIn(p).size == 2,
      "every horizon must come from the same single fact pass")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the cutoff scalar must broadcast, never shuffle the fact side")
    assert(!p.contains("windowspecdefinition"), "no window operator needed")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "feature sums must combine map-side")
  }

  test("q162: candidate generation is prefix-filtered, never the raw shingle self-join") {
    val p = plan("q162_containment_pairs")
    // the probe side must rank shingles (rarity order) and cut to the
    // ⌊sz/5⌋+2 prefix BEFORE any shingle-keyed pair join materializes
    assert(p.contains("pfx_rank"),
      "prefix rank must gate the probe side of the candidate join")
    assert(p.contains("windowspecdefinition"),
      "the per-doc rarity ranking window must be in the plan")
    // the cut shows as Filter (cast(pfx_rank#N as bigint) <= ((sz#M div 5) + 2))
    assert("pfx_rank#\\d+[^\\n]{0,30}<= \\(\\(sz#\\d+L? div 5\\) \\+ 2\\)".r
      .findFirstIn(p).isDefined,
      "the ⌊sz/5⌋+2 prefix-length cut must appear as a filter")
  }

  test("q125: agreement audit has no nested-loop pair scan (bucketed embed side)") {
    // executedPlan only (the formatted explain would double-count)
    val p = SparkEntry.queries("q125_dup_signal_agreement")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "q125 must not cartesian anywhere")
    // the embedding side must come through the LSH probe equi-join;
    // the only nested loops allowed are the two 1-row×1-row scalar
    // count combines — a third would be a pair scan sneaking back in
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "only the scalar count combines may nested-loop")
    assert("BroadcastHashJoin \\[probe#\\d+\\]".r.findFirstIn(p).isDefined,
      "embedding candidates must join on the LSH probe key")
  }

  test("q164/q165: audits are single-scan, join-free, map-side combinable") {
    Seq("q164_text_normalization_audit", "q165_correlation_matrix").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join anything")
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q aggregates must combine map-side")
    }
  }

  test("q166/q167: moment/percentile states combine map-side; no fact-sized cross") {
    val p166 = plan("q166_bootstrap_ci")
    assert(!p166.contains("Join"), "bootstrap is one aggregate + bounded explode")
    val p167 = plan("q167_cuped_adjustment")
    assert(p167.contains("partial_sum"), "CUPED moments must combine map-side")
    assert(!p167.contains("CartesianProduct"),
      "the 1-row theta table must broadcast, never cartesian")
  }

  test("q168: the cyclic snowflake broadcasts every dim and pushes the date filter") {
    val p = plan("q168_local_supplier_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "supplier/nation/region must broadcast")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || p.contains("GreaterThanOrEqual(o_orderdate"),
      "the order-date window must reach the orders scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("q169: the lookback join is user-keyed; the Z window partitions by purchase") {
    val p = plan("q169_timedecay_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the 7-day lookback must ride the user_id equi-join")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("pid")),
      s"normalizer window must partition by pid:\n${specs.mkString("\n")}")
  }

  test("q173: the throttle window partitions by (user, type, hour)") {
    val p = plan("q173_event_throttling")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(s =>
      s.contains("user_id") && s.contains("event_type") && s.contains("hr")),
      s"throttle must rank within the full (user, type, hour) key:\n${specs.mkString("\n")}")
  }

  test("q181: the retry pair scan is keyed on (custkey, price) — never a loop join") {
    val p = plan("q181_double_charge_audit")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "price equality must be part of the join key")
  }

  test("q184: the concurrency sweep partitions by event_type over user-domain boundaries") {
    val p = plan("q184_peak_concurrency")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("event_type")),
      s"sweep window must partition by type:\n${specs.mkString("\n")}")
    assert(p.contains("partial_min") || p.contains("partial_max"),
      "user spans must reduce map-side before the sweep")
  }

  test("q190: phrase probes are posting-list equi-joins, never document scans") {
    val p = plan("q190_phrase_search")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "adjacency must be part of the join key")
  }

  test("q158: the cumulative sketch window partitions by event_type") {
    val p = plan("q158_grid_quantile_sketch")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("event_type")),
      s"cum window must partition by event_type:\n${specs.mkString("\n")}")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "bin counts must combine map-side")
  }

  test("q203/q207: category and fold statistics broadcast back onto the fact") {
    for (name <- Seq("q203_loo_target_encoding", "q207_kfold_cv_mse")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name: the tiny stats side must broadcast")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$name: the fact must never shuffle for a <=5-row join side")
      assert(p.contains("partial_sum"),
        s"$name: the stats aggregate must combine map-side")
    }
  }

  test("q205: the CUSUM window runs only over the collapsed day axis; argmax is top-1") {
    val p = plan("q205_cusum_changepoint")
    // fact collapses to days (partial+final agg) BEFORE the running sum
    assert(p.contains("partial_sum"), "day collapse must combine map-side")
    assert(p.contains("windowspecdefinition"), "the running sum is a window")
    assert(p.contains("TakeOrderedAndProject"),
      "|CUSUM| argmax must be a top-1 cut, not a global sort")
    assert(!p.contains("CartesianProduct"),
      "scalar sides must broadcast, never cartesian")
  }

  test("AQE OptimizeSkewedJoin splits the hot partition of a plain shuffle join") {
    // Completes the skew narrative the MANUAL salting family started
    // (q82 salted agg, q134 salted shuffle join, q248 salted as-of):
    // for Spark's OWN join operators, the built-in AQE skew handler is
    // the first line of defense — a 90%-one-key shuffle join's hot
    // partition is split into advisory-sized slices at runtime, no
    // salting code required. The manual family exists because AQE only
    // understands Spark's join execs (a custom operator like AsOfJoinExec
    // gets nothing — its wrapper salts instead, AsOfJoinSpec). Thresholds
    // are lowered for the fixture-sized input; the assertion pins the
    // runtime plan's skew=true marker on the sort-merge join.
    import org.apache.spark.sql.functions.{col, lit, pmod, when}
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // left: 200k rows, 90% on key 0; right: 50 keys, 100 rows each
      val left = spark.range(0, 200000).select(
        when(pmod(col("id"), lit(10L)) =!= 0L, lit(0L))
          .otherwise(pmod((col("id") / lit(10L)).cast("long"), lit(50L)))
          .as("k"),
        col("id").as("v"))
      val right = spark.range(0, 5000)
        .select(pmod(col("id"), lit(50L)).as("k"), (col("id") * 2L).as("w"))
      // v and w ride through the join so the hot partition's shuffle
      // bytes stay above the lowered threshold (a constant-key,
      // payload-pruned partition compresses to almost nothing)
      val j = left.join(right, Seq("k")).groupBy("k")
        .agg(org.apache.spark.sql.functions.sum(col("v") + col("w")).as("n"))
      // collect() (not count()) so THIS Dataset's plan is the one that
      // executes — count() derives a new QueryExecution and would leave
      // j's adaptive plan unfinalized
      assert(j.collect().length == 50)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"expected the skew-split marker on the runtime join plan:\n${p.take(4000)}")
    } finally olds.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("q256: offset+limit fold into one bounded TakeOrdered heap, no global sort") {
    val p = plan("q256_offset_pagination")
    assert(p.contains("TakeOrderedAndProject"),
      "pagination must be a bounded heap cut")
    // offset folded INTO the heap (limit = offset + page), not a
    // separate pass over a sorted corpus — the exact node text, no
    // incidental-substring fallback (round-16 review: `contains("60") &&
    // contains("40")` matched expression ids and pinned nothing)
    assert(p.contains("TakeOrderedAndProject(limit=60, offset=40"),
      s"expected the folded offset in TakeOrderedAndProject:\n${p.take(1200)}")
    val sorts = p.linesIterator.filter(l =>
      l.trim.startsWith("Sort ") || l.contains("+- Sort ")).toSeq
    assert(sorts.isEmpty, s"no global Sort expected:\n${sorts.mkString("\n")}")
  }

  test("q257: the keyset page is an anchor-filtered top-20 heap — no offset anywhere") {
    val p = plan("q257_keyset_pagination")
    assert(p.contains("TakeOrderedAndProject(limit=20,"),
      "the page cut must be a plain bounded heap")
    assert(!p.contains("offset="),
      "keyset pagination must carry NO offset in any cut")
    // the strict-after anchor predicate runs BELOW the final heap, so
    // page depth never grows the heap state
    assert(p.linesIterator.exists(l => l.contains("Filter") &&
      l.contains("c_acctbal") && l.contains("c_custkey")),
      "the composite anchor filter must prune before the cut")
  }

  test("q255: the bucketed fact join carries ZERO exchange on either side") {
    // the whole point of the SMB layout: both tables were hash-
    // distributed into the same bucket count on the join key at WRITE
    // time, so the join subtree must contain no ShuffleExchange — the
    // only exchange allowed in the query is the one ABOVE the join
    // feeding the tiny per-priority aggregate.
    // broadcast is disabled for the PIN ONLY: at the fixture scale AQE
    // rightly broadcasts the small orders side (also exchange-free, but
    // vacuously); at 100 TB neither side broadcasts and the layout is
    // what removes the shuffle — so the pin checks exactly that shape.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    // AQE is also off for the pin: AdaptiveSparkPlanExec presents as a
    // leaf to collect(), hiding the join until execution — the static
    // plan shows the exchange placement directly.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    val oldAqe = spark.conf.get(aqeKey)
    spark.conf.set(key, "-1")
    spark.conf.set(aqeKey, "false")
    try {
      val df = SparkEntry.queries("q255_bucketed_smb_join")(spark, sf)
      val p = df.queryExecution.executedPlan
      val joins = p.collect {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }
      assert(joins.nonEmpty, "expected the bucketed fact join in the plan")
      for (j <- joins) {
        val ex = j.collect { case e: ShuffleExchangeLike => e }
        assert(ex.isEmpty,
          s"bucketed join must be exchange-free, found:\n${ex.mkString("\n")}")
      }
    } finally {
      spark.conf.set(key, old)
      spark.conf.set(aqeKey, oldAqe)
    }
  }

  test("q228/q233/q234: every corpus-sized rank rides the bucket decomposition") {
    // round-13 verdict item 3: the retrieval rankers' global row_number
    // windows must run as bucketedGlobalRank — local rank partitioned
    // by the score bucket plus a broadcast prefix — so NO WindowExec
    // sorts the whole scored corpus in one task. Every Window node in
    // these plans must therefore mention the bucket machinery: either
    // the __bkt partition key (the corpus-sized local rank) or the
    // __b_bkt prefix axis (the bucket-count-sized running sum, bounded
    // by the number of buckets, never the corpus).
    for (q <- Seq("q228_bm25_retrieval", "q233_rrf_hybrid_fusion",
        "q234_ndcg_ranking_eval")) {
      val p = plan(q)
      val winLines = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(winLines.nonEmpty, s"$q: expected bucketed rank windows")
      val stray = winLines.filterNot(l =>
        l.contains("__bkt#") || l.contains("__b_bkt#"))
      assert(stray.isEmpty,
        s"$q: corpus-sized unbucketed window remains:\n${stray.mkString("\n")}")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: the bucket prefix table must broadcast back")
    }
  }

  test("q86: the corpus cut is TakeOrderedAndProject; the rank window sees 20 rows") {
    // round-13 verdict item 5: the sample must take its 20 survivors
    // through a per-partition heap + driver merge FIRST — the rank
    // window (which the oracle states over the whole corpus) then runs
    // over exactly those 20 rows, so the single-partition WindowExec
    // that remains is a constant-size formality, never a corpus funnel.
    val p = plan("q86_weighted_hash_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-20 cut must be TakeOrderedAndProject, not a global sort")
    val lines = p.linesIterator.toSeq
    val winAt = lines.indexWhere(_.contains("Window"))
    val takeAt = lines.indexWhere(_.contains("TakeOrderedAndProject"))
    assert(winAt >= 0 && takeAt > winAt,
      "the 20-row cut must sit BELOW the rank window in the plan tree")
  }

  test("q206: no window pass anywhere; the support floor gates the co-join") {
    val p = plan("q206_cf_holdout_precision")
    // round 13: the last window left the plan — the last-order split is
    // a map-side-combinable max over the injective decimal packing of
    // (date, okey) joined back, and every truncation is a heap
    // aggregate. A window here would mean a sort-exchange-sort pass
    // crept back in.
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.isEmpty,
      s"q206 must be window-free (aggregate split + heap top-k):\n${specs.mkString("\n")}")
    // round 14: the split max rides the decimal packing so it stays a
    // HashAggregate — max(struct) would plan the whole orders scan
    // through a SortAggregate (struct buffers are not UnsafeRow-mutable)
    assert(!p.contains("SortAggregate"),
      "the last-order split must hash-aggregate (decimal-packed max)")
    // round 14: the directed co-matrix is an in-stage explode mirror,
    // so at most ONE logical Union remains (the tiny nb+tombstone
    // append) — a second union would mean the half-matrix pipeline is
    // planned twice again (each union branch re-executes the coPairs
    // scan, both fTrain broadcasts and the excluded-slice self-join)
    val unions = SparkEntry.queries("q206_cf_holdout_precision")(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }
    assert(unions.size <= 1,
      s"only the nb+tombstone union may remain in q206, found ${unions.size}")
    // round 11: the full-corpus pair matrix comes from the copairs_sup2
    // MV and the TRAIN floor is the delta filter np - np_exc >= 2
    // (applied after differencing; CoPurchaseSpec proves delta ≡ the
    // inline train-side floor+self-join)
    assert("graft-mv".r.findAllIn(p).nonEmpty,
      "co_all must come from the co-purchase MV parquet")
    assert(p.contains(">= 2)"),
      "the train-support floor (np - np_exc >= 2) must gate the delta")
    assert(!p.contains("CartesianProduct"),
      "scalar readout sides must broadcast-combine")
  }

  test("q210/q211: scalar-broadcast pipelines; q210's window only runs over the grid") {
    val p10 = plan("q210_conformal_coverage")
    assert(!p10.contains("SortMergeJoin") && !p10.contains("ShuffledHashJoin"),
      "q210: train stats / rank / q-hat must broadcast, never shuffle the fact")
    assert(p10.contains("windowspecdefinition"),
      "q210: the grid cumulative is a window")
    assert(p10.contains("partial_sum"), "q210: slice stats combine map-side")
    val p11 = plan("q211_ivf_balance_audit")
    assert(!p11.contains("SortMergeJoin") && !p11.contains("windowspecdefinition"),
      "q211: one aggregate + broadcast summary, nothing else")
    assert(p11.contains("partial_count") || p11.contains("partial_sum"),
      "q211: cell loads combine map-side")
  }

  test("q208/q209: vocabulary-keyed hashing; the rare-df filter gates the pair join") {
    val p8 = plan("q208_feature_hash_collisions")
    assert(p8.contains("partial_count") || p8.contains("partial_sum"),
      "bucket loads must combine map-side")
    assert(!p8.contains("Join") || !p8.contains("SortMergeJoin"),
      "no fact-sized join anywhere in the hashing audit")
    // the rarity gate moved into the rare_pairs_df23 MV BUILD plan when
    // the edge set became a maintained view (re-pin-after-MV-conversion
    // rule, SURVEY §5) — pin it there, and pin the consumer on the scan
    val build = graft.operators.Dedup.rareShinglePairsOf(
      graft.operators.Dedup.shingleSet(spark, sf))
      .queryExecution.optimizedPlan.toString
    assert("df#\\d+L? >= 2".r.findFirstIn(build).isDefined &&
      "df#\\d+L? <= 3".r.findFirstIn(build).isDefined,
      "the df BETWEEN 2 AND 3 rarity gate must precede the pair self-join in the MV build")
    val p9 = plan("q209_linkpred_resource_allocation")
    assert(p9.contains("rare_pairs_df23"),
      "q209 must read the maintained rare-pair view, not rebuild it")
    assert(!p9.contains("CartesianProduct"))
    assert(p9.contains("TakeOrderedAndProject"),
      "top-20 must be a TakeOrdered cut")
  }

  test("q249: the correlated LATERAL LIMIT decorrelates to a window + hash join") {
    val p = plan("q249_lateral_topk_per_nation")
    assert(p.contains("row_number()") && p.contains("windowspecdefinition(c_nationkey"),
      "the per-nation LIMIT 2 must become a row_number window keyed by the correlation column")
    assert(p.contains("BroadcastHashJoin"),
      "the outer join back to nation must be a broadcast hash join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "LATERAL must never plan a per-outer-row subquery replay")
  }

  test("q253: the lang filter reaches the ORC scan as a pushed predicate") {
    val p = plan("q253_orc_source_roundtrip")
    val orcScans = p.linesIterator.filter(_.contains("Scan orc")).size
    assert(orcScans >= 1, "the round-trip must read back through the ORC source")
    assert(p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      "the en filter must push into the ORC reader (row-group elimination at scale)")
  }

  test("q262: each recovery policy is ONE csv scan (no bare-count double read)") {
    // round-19 review: the PERMISSIVE branch once crossJoined a bare
    // count() scan with the clean-subset aggregation, reading the file
    // twice -- and the bare count would ALSO have skipped parsing
    // entirely under DROPMALFORMED (no columns referenced, nothing ever
    // malformed). One conditional aggregation per policy keeps each
    // path a single parsing scan; this pins it.
    // executedPlan only (plan() concatenates the formatted explain,
    // which lists every node twice more)
    val exec = SparkEntry.queries("q262_malformed_csv_policy")(spark, sf)
      .queryExecution.executedPlan.toString
    val csvScans = exec.linesIterator.count(_.contains("Scan csv"))
    assert(csvScans == 2,
      s"exactly one csv scan per policy (DROPMALFORMED + PERMISSIVE), got $csvScans")
  }

  test("q263: each recovery policy is ONE json scan (the q262 discipline on the JSON path)") {
    // same hazard as q262: a bare count() branch would read the file a
    // second time (and under DROPMALFORMED could change what counts as
    // malformed if the required schema degenerated) -- both policies
    // must stay single parsing scans of the corrupted export
    val exec = SparkEntry.queries("q263_malformed_json_policy")(spark, sf)
      .queryExecution.executedPlan.toString
    val jsonScans = exec.linesIterator.count(_.contains("Scan json"))
    assert(jsonScans == 2,
      s"exactly one json scan per policy (DROPMALFORMED + PERMISSIVE), got $jsonScans")
  }

  test("q264: normalization is map-side in a single scan; the variant explode never shuffles raw text twice") {
    val p = plan("q264_unicode_nfc_dedup")
    // executedPlan only: plan()'s formatted explain lists every node
    // again in its detail sections (the q262 lesson)
    val exec = SparkEntry.queries("q264_unicode_nfc_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = exec.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"one documents scan feeds both variants, got $scans")
    assert(p.toLowerCase.contains("graft_nfc"),
      "normalization must be the native NfcNormalize expression")
    assert(p.contains("Generate"),
      "the composed/decomposed variants ride an in-stage explode")
    assert(p.contains("Expand"),
      "the exact multi-distinct census plans as one Expand, not per-distinct scans")
    assert(!p.contains("Join"), "nothing in the census joins")
  }

  test("q266: URL variants and canonicalization are in-stage; the census is one Expand, never a join") {
    // The q264 census shape on the URL column: the variant pair rides
    // an in-stage explode off ONE documents scan, the whole
    // canonicalization chain is map-side string/regexp work, and the
    // exact multi-distinct aggregate plans as one Expand + hash
    // aggregate — at 100 TB the only shuffle is the groupBy(source).
    val exec = SparkEntry.queries("q266_url_canonical_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = exec.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"one documents scan feeds both variants, got $scans")
    assert(exec.contains("Generate"),
      "the raw/messy URL pair must ride an in-stage explode")
    assert(exec.contains("Expand"),
      "the exact multi-distinct census plans as one Expand, not per-distinct scans")
    assert(!exec.contains("Join"), "nothing in the census joins")
  }

  test("q265: one parquet scan per survival mode; the quarantine predicate prunes at the directory level") {
    // The PRUNE_QUARANTINE strategy only works because the pk filter
    // becomes a PartitionFilters entry — directory-level pruning means
    // the corrupt file is never OPENED, which is why the strict read
    // can succeed at all. If the filter ever degraded to a post-scan
    // predicate, the corrupt file would be read, the strict branch
    // would throw, and the gate would go red; this pins the shape.
    val exec = SparkEntry.queries("q265_corrupt_parquet_policy")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = exec.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 2, s"exactly one scan per survival mode, got $scans")
    // PartitionFilters payloads: one empty (IGNORE_CORRUPT reads all
    // directories), one carrying the pk <> 3 quarantine. The payload
    // is anchored on the trailing ", PushedFilters" marker (a bare
    // first-"]" scan would clip a bracket-bearing filter rendering),
    // and the quarantine is matched as the actual NOT-equals predicate
    // — a bare pk#/3 substring probe would false-green on exprId
    // digits like pk#13L (post-close review).
    val PF = """PartitionFilters: \[(.*)\], PushedFilters""".r.unanchored
    val pf = exec.linesIterator.collect { case PF(p) => p }.toSeq
    assert(pf.size == 2, s"both scans must expose PartitionFilters, got $pf")
    assert(pf.exists(_.trim.isEmpty),
      s"the IGNORE_CORRUPT scan must carry no partition filter, got $pf")
    assert(pf.exists(p => """NOT \(pk#\d+L? = 3\)""".r.unanchored.matches(p)),
      s"pk <> 3 must prune at the directory level, got PartitionFilters: $pf")
    assert(!exec.contains("Join"), "the two-mode audit never joins")
  }

  test("q252: PQ encode+ADC run map-side as native expressions; the corpus never joins") {
    val p = plan("q252_pq_adc_recall")
    // round-14 verdict item 3: the codebook AND the query LUT are model
    // constants (k×subspaces entries), so both ride ONE broadcast row
    // and the corpus side computes codes and per-query ADC scores in a
    // single projection — the plan must carry the two native
    // expressions and NO corpus-sized equi-join anywhere (the previous
    // shape exploded corpus×subspaces rows through a (sub, code) join
    // and re-aggregated corpus×subspaces×queries rows back down)
    assert(p.toLowerCase.contains("graft_pq_encode"),
      "the encode must be the native PqEncodeCodes expression")
    assert(p.toLowerCase.contains("graft_pq_adc"),
      "the ADC scoring must be the native PqAdcScores expression")
    assert(!p.contains("CartesianProduct"),
      "no unbounded pair scan anywhere in the PQ pipeline")
    // the only equi-joins left are the two 10-row top-1 readouts meeting
    // at the end (statically SMJ-sized; AQE broadcasts them at runtime)
    // — neither window input exceeds queries×corpus rows, and the
    // corpus itself reaches them WITHOUT having joined anything: pin it
    // STRUCTURALLY (a same-line regex over the rendered plan can never
    // match — round-15 review): every physical node evaluating a PQ
    // expression must have zero shuffle/merge joins in its subtree
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    val phys = SparkEntry.queries("q252_pq_adc_recall")(spark, sf)
      .queryExecution.sparkPlan
    val pqNodes = phys.collect {
      case n if n.expressions.exists(_.exists(e =>
        e.isInstanceOf[graft.functions.PqEncodeCodes] ||
          e.isInstanceOf[graft.functions.PqAdcScores])) => n
    }
    assert(pqNodes.nonEmpty, "expected the PQ expressions in the physical plan")
    pqNodes.foreach { n =>
      val bad = n.collect {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }
      assert(bad.isEmpty,
        s"no shuffle join may sit below the PQ scoring path:\n$n")
    }
    // plan() renders the tree twice (toString + formatted), so node
    // counts are ~2×; loop joins are the one-row codebook/LUT builds
    // and attaches (cbRow→lutRow, qv×cbRow, corpus×(cb,lut)) plus the
    // declared 10-query exact ground-truth scan — all broadcast sides
    // bounded by model constants, never the corpus
    val loops = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(loops <= 12,
      s"only bounded one-row/query attaches and the exact scan may loop (saw $loops)")
  }

  test("q250: the WITH RECURSIVE walk executes as a native UnionLoop, not an unrolled plan") {
    val df = SparkEntry.queries("q250_recursive_cte_hop_histogram")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("UnionLoop"),
      "Spark 4.1 must drive the recursion itself (UnionLoopExec); " +
        "an unrolled/absent loop means the recursive surface regressed")
    assert(!p.contains("CartesianProduct"),
      "each recursion level is an equi-join on the frontier")
    // the degree ceiling is load-bearing (sf0.01 has degree-77 hubs):
    // both endpoints of every walked edge must pass the deg <= 8 gate.
    // q250 truncates the edge set's lineage before the recursion (the
    // temp view would otherwise re-run the build per loop level), so
    // the ceiling is pinned on the exposed edge-build plan instead.
    val edges = graft.operators.Graph.cappedRareEdges(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert("deg#\\d+L? <= 8".r.findAllIn(edges).size >= 2,
      "both walk endpoints must pass the degree ceiling")
  }

  test("CBO: ANALYZE TABLE statistics flip a selective-filter join to broadcast BEFORE execution") {
    // Stats-informed planning next to the AQE pins (round-14 verdict
    // item 4): every other plan decision in this repo rides AQE runtime
    // stats or an explicit broadcast() hint. This pin demonstrates the
    // third leg — table/column statistics moving the INITIAL plan. A
    // dimension whose FILE size sits above the broadcast threshold gets
    // a selective equality filter; without statistics Spark's size-only
    // estimator propagates the child size through the Filter, so the
    // static plan sort-merges. `ANALYZE TABLE .. FOR ALL COLUMNS` +
    // spark.sql.cbo.enabled lets FilterEstimation price the predicate
    // (1/ndv selectivity from the column NDV), the post-filter estimate
    // drops below the threshold, and the SAME query plans a
    // BroadcastHashJoin — before a single task runs. What stats buy at
    // 100× that AQE cannot: AQE re-plans a join only AFTER the join
    // inputs' map stages have materialized shuffle output — the 100 TB
    // fact has already been hashed, serialized, and written once before
    // the runtime size is known. CBO prices the filter at PLANNING time
    // and never shuffles the fact at all; below the first exchange,
    // join-order and distribution choices are stats-or-nothing.
    // AQE is off for the pin only (static plans inspected directly).
    val dim = "graft_cbo_dim"
    val fact = "graft_cbo_fact"
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (256 * 1024).toString)
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    import org.apache.spark.sql.functions.{col, lit, pmod}
    try {
      // dim: 200k rows, ~1.5 MB parquet (> threshold); grp has NDV 1000,
      // so grp = 7 keeps ~200 rows (~2 KB estimated — far < threshold)
      spark.range(0, 200000)
        .select(col("id").as("k"), pmod(col("id"), lit(1000L)).as("grp"),
          (col("id") * 37L).as("pad1"), (col("id") * 101L).as("pad2"))
        .write.mode("overwrite").saveAsTable(dim)
      spark.range(0, 200000)
        .select(pmod(col("id"), lit(200000L)).as("k"), col("id").as("v"),
          (col("id") * 13L).as("fpad"))
        .write.mode("overwrite").saveAsTable(fact)
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      def shape(): String = spark.table(fact)
        .join(spark.table(dim).filter(col("grp") === 7L), Seq("k"))
        .groupBy("grp").agg(org.apache.spark.sql.functions.sum(col("v")).as("s"))
        .queryExecution.executedPlan.toString
      val noStats = shape()
      assert(noStats.contains("SortMergeJoin") && !noStats.contains("BroadcastHashJoin"),
        s"without stats the size-only estimator must sort-merge:\n${noStats.take(1500)}")
      spark.sql(s"ANALYZE TABLE $dim COMPUTE STATISTICS FOR ALL COLUMNS")
      val withStats = shape()
      assert(withStats.contains("BroadcastHashJoin"),
        s"with column stats + CBO the filtered dim must broadcast:\n${withStats.take(1500)}")
    } finally {
      olds.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      spark.sql(s"DROP TABLE IF EXISTS $dim")
      spark.sql(s"DROP TABLE IF EXISTS $fact")
    }
  }

  test("CBO: statistics REORDER a three-table join before execution (selective dim joins first)") {
    // The second stats-informed planning pin (round-15 verdict item 7):
    // the broadcast flip above moves a join's DISTRIBUTION; this one
    // moves its ORDER. A fact joins two dims in written order
    // fact ⋈ wide ⋈ narrow, where `narrow` carries a grp = 7 filter
    // (1/ndv ≈ 200 of 200k rows with stats) and `wide` does not.
    // Without statistics the optimizer keeps SYNTAX order — the full
    // fact⋈wide intermediate (200k rows) is built first and only then
    // cut down by the selective dim. With `ANALYZE .. FOR ALL COLUMNS`
    // on all three + spark.sql.cbo.{enabled,joinReorder.enabled}, the
    // DP reorderer prices the alternatives from row counts and
    // selectivities and joins fact ⋈ narrow FIRST, so every later
    // operator sees the ~200-row-selective intermediate. AQE can never
    // make this call: join order is fixed in the logical plan before
    // any stage runs, and at 100 TB the difference is shuffling the
    // full fact twice vs once. The pin inspects the OPTIMIZED LOGICAL
    // plan's innermost join (physical distribution is the other test's
    // concern): the order of leaf relations under the join tree.
    val fact = "graft_cbo3_fact"
    val wide = "graft_cbo3_wide"
    val narrow = "graft_cbo3_narrow"
    val confs = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    import org.apache.spark.sql.functions.{col, lit, pmod}
    try {
      spark.range(0, 200000)
        .select(pmod(col("id"), lit(200000L)).as("k1"),
          pmod(col("id") * 7L, lit(200000L)).as("k2"), col("id").as("v"))
        .write.mode("overwrite").saveAsTable(fact)
      spark.range(0, 200000)
        .select(col("id").as("k1"), (col("id") * 37L).as("wpad"))
        .write.mode("overwrite").saveAsTable(wide)
      spark.range(0, 200000)
        .select(col("id").as("k2"), pmod(col("id"), lit(1000L)).as("grp"),
          (col("id") * 101L).as("npad"))
        .write.mode("overwrite").saveAsTable(narrow)
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // STRUCTURAL readout: which dim sits under the INNERMOST join of
      // the optimized logical plan (i.e. is joined to the fact first).
      // collect is pre-order DFS, so the last Join it yields is the
      // deepest one regardless of left-deep vs bushy rendering.
      def innermostJoinSubtree(): String = {
        val plan = spark.table(fact)
          .join(spark.table(wide), Seq("k1"))
          .join(spark.table(narrow).filter(col("grp") === 7L), Seq("k2"))
          .groupBy("grp")
          .agg(org.apache.spark.sql.functions.sum(col("v")).as("s"))
          .queryExecution.optimizedPlan
        val joins = plan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }
        assert(joins.size == 2, s"expected a two-join tree, got ${joins.size}")
        joins.last.toString
      }
      val noStats = innermostJoinSubtree()
      assert(noStats.contains(wide) && !noStats.contains(narrow),
        s"without stats the join must keep syntax order (fact joins wide first):\n${noStats.take(800)}")
      Seq(fact, wide, narrow).foreach(t =>
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
      val withStats = innermostJoinSubtree()
      assert(withStats.contains(narrow) && !withStats.contains(wide),
        s"with stats + CBO join reorder the selective dim must join first:\n${withStats.take(800)}")
    } finally {
      olds.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      Seq(fact, wide, narrow).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
