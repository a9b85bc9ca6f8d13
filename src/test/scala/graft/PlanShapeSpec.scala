package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the physical-plan properties the 100 TB design depends on, so an
  * innocent-looking query edit that breaks pushdown or a broadcast shows
  * up as a test failure, not a 100x regression in production. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-plan-test")

  val sf = "/root/testdata/sf0.001"

  def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q1 pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q1 prunes the lineitem scan to the referenced columns") {
    val p = plan("q1_pricing_summary")
    assert(!p.contains("l_comment") && !p.contains("l_partkey"), p)
  }

  test("q4 reduces the fact side map-side (EXISTS -> partial max), no fact sort") {
    val p = plan("q4_priority_late")
    // the monotone-EXISTS rewrite: lineitem partially aggregates to one
    // (orderkey, max_shipdate) row in the scan stage — never sort-merges
    // the raw fact
    assert(p.contains("partial_max"), p)
    // quarter filter reaches the orders scan
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"), p)
    // lineitem pruned to the two referenced columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q5 broadcasts the dimension chain") {
    val p = plan("q5_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("counts_by_country broadcasts nation, aggregates partially") {
    val p = plan("counts_by_country")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("dedup_exact computes the digest map-side before its single shuffle") {
    val p = plan("dedup_exact")
    assert(p.contains("partial_min"), p) // canonical-id combine is map-side
  }

  test("sim_topk never plans corpus x corpus") {
    val p = plan("sim_topk")
    // the only nested-loop is the broadcast QUERY set against the corpus
    assert(p.contains("BroadcastNestedLoopJoin BuildRight") || p.contains("BroadcastHashJoin"), p)
  }

  test("topk_per_group plans the custom partial/final heap operator") {
    val p = plan("topk_per_group")
    assert("TopKPerGroup 3".r.findAllIn(p).size == 2, p)
  }

  test("text ops are single-projection (no exchange before the sort)") {
    val p = plan("text_quality")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("simhash signature is a zero-shuffle per-row projection") {
    val p = operators.Dedup.simhash(Tables.documents(spark, sf), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("simhash64"), p)
    // no Exchange at all: the signature never shuffles (the old explode +
    // 64-sums aggregation shuffled every token row in the corpus)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Generate"), p)
  }

  test("ivf cell assignment is the codegen kernel, not interpreted HOFs") {
    val p = plan("sim_ivf_topk")
    assert(p.contains("nearest_cells"), p)
    // the only remaining HOFs are the exact-decimal cosine/norm contract on
    // emitted values — cell assignment itself must not be a per-centroid
    // interpreted aggregate (the old shape had one zip_with PER CELL)
    assert(!p.contains("array_sort"), p)
  }

  test("lsh bucketing is the codegen kernel, not interpreted HOFs") {
    val p = plan("sim_lsh_topk")
    assert(p.contains("hyperplane_bucket"), p)
  }

  test("text_repetition is a zero-shuffle projection (no exchange before the sort)") {
    val p = plan("text_repetition")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("tfidf ranks through the heap TopKPerGroup operator with map-side tf partials") {
    val p = plan("tfidf_top_terms")
    assert("TopKPerGroup 3".r.findAllIn(p).size == 2, p) // partial + final heap
    assert(p.contains("partial_count"), p)               // tf combines map-side
  }

  test("approx distinct keeps HLL sketch state, merged map-side (one group shuffle)") {
    val exact = plan("distinct_users")
    val approx = plan("distinct_users_approx")
    assert(approx.contains("partial_approx_count_distinct"), approx)
    // the exact plan pays an extra shuffle for the distinct expansion; the
    // sketch path must group-shuffle exactly once
    val shuffles = "Exchange hashpartitioning".r
    assert(shuffles.findAllIn(approx).size == 1, approx)
    assert(shuffles.findAllIn(exact).size == 2, exact)
  }

  test("pii scrub, chunking and readability are zero-shuffle projections") {
    assert(!plan("pii_scrub").contains("Exchange hashpartitioning"), plan("pii_scrub"))
    assert(!plan("doc_chunks").contains("Exchange hashpartitioning"), plan("doc_chunks"))
    assert(!plan("text_readability").contains("Exchange hashpartitioning"),
      plan("text_readability"))
  }

  test("cohort retention is ONE user shuffle plus the rollup (no distinct+join)") {
    val p = plan("cohort_retention")
    // the single-pass formulation: per-user agg (user_id) + cohort rollup —
    // a regression to the distinct+join shape adds a third hash exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert(!p.contains("Join"), p)
  }

  test("quality_filter broadcasts the percentile threshold as one scalar") {
    val df = SparkEntry.queries("quality_filter")(spark, sf)
    val phys = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val bnlj = phys.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.size == 1, phys.toString)
    // the corpus (streamed) side reads the ONE checkpointed score frame
    // (scored once, consumed by threshold AND gate) with NO exchange:
    // the gate itself stays a zero-shuffle codegen'd comparison. The
    // threshold side may carry exchanges inside the distributed
    // quantile machinery — those move the reduced distinct-score
    // rollup, never the corpus.
    val streamed = bnlj.head.children.head
    assert(streamed.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, streamed.toString)
    assert(streamed.toString.contains("ExistingRDD"), streamed.toString)
  }

  test("price_percentiles rides the distributed quantile machinery — zero Window nodes") {
    // the old buffered-percentile agg held every distinct value of a
    // group in ONE reducer buffer (measured OOM at ~15M distinct); the
    // machinery's final plan reads the prefix-sum checkpoint, picks the
    // covering rows through a broadcast target join, and carries no
    // Window and no sort-merge join anywhere
    val df = SparkEntry.queries("price_percentiles")(spark, sf)
    val exec = df.queryExecution.sparkPlan
    val wins = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.isEmpty, exec.toString)
    val s = exec.toString
    assert(s.contains("ExistingRDD"), s) // the prefix-sum checkpoint scan
    assert(!s.contains("SortMergeJoin") && !s.contains("percentile("), s)
  }

  test("quality_filter_approx keeps the exact gate's zero-shuffle filter shape") {
    val p = plan("quality_filter_approx")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("decontaminate_bloom probes the filter map-side (might_contain in the scan filter)") {
    val p = plan("decontaminate_bloom")
    // the bloom probe must survive as a codegen'd Filter condition — if it
    // collapses away, every training fingerprint reaches the exact join
    assert(p.contains("might_contain"), p.take(2000))
  }

  test("ngram_contamination semi-joins the corpus against the HINTED bench-gram broadcast") {
    val p = plan("ngram_contamination")
    // the train gram stream must meet the bench set via broadcast semi join
    // (map-side prune) — never shuffle whole for a sort-merge join
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("semantic pair generation blocks through NearestCells, never corpus x corpus") {
    // the registered query's final plan is the components checkpoint scan
    // (the loop runs eagerly), so guard the pair-generation stage itself
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val p = graft.operators.Dedup
      .semanticPairs(emb, "vec_id", "embedding", tau = 0.35)
      .queryExecution.executedPlan.toString
    assert(p.contains("nearest_cells"), p.take(2000)) // codegen'd cell assignment
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("doc_chunks_cdc shares ONE doc shuffle between the window and the rollup") {
    val p = plan("doc_chunks_cdc")
    // the window partitions by doc_id and the (doc_id, chunk_id) rollup is
    // clustered by a subset of its keys — a second hash exchange means the
    // reuse broke
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("boilerplate_passages broadcasts the hot set (HINTED), drop decision map-side") {
    val p = plan("boilerplate_passages")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("fact_multi_role resolves every dim role via broadcast, no fact shuffle") {
    val p = plan("fact_multi_role")
    // the four HINTED dim joins (nation in both roles, date, supplier) must
    // be broadcast regardless of session thresholds — the fact rows never
    // hash-shuffle through a dim resolution (the fact-side lineitem/orders/
    // customer joins are AQE-decided: broadcast at test SF, legitimately
    // shuffled at 100 TB)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("range_join never plans a nested-loop over the range predicate") {
    val p = plan("range_join")
    // the bucketization turns the range predicate into an equi-join on
    // (bin, user); the exact bounds run as a post-join filter
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("dpp_scan: the lake scan is pruned DYNAMICALLY by the busy-day dim") {
    val df = SparkEntry.dppScanRead(spark, sf)
    // collect does not descend into AdaptiveSparkPlanExec — unwrap it
    val phys = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = phys.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains("graft_dpp_lake")) => f
    }
    assert(scans.size == 1, phys.toString)
    val scan = scans.head
    // the busy-day predicate is aggregate-derived — nothing static can
    // reach partitionFilters; pruning must be a DynamicPruningExpression
    // (runtime subquery against the reused broadcast)
    assert(scan.partitionFilters.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning])),
      scan.partitionFilters.mkString("; "))
    // and nothing leaks into post-scan dataFilters
    assert(scan.dataFilters.isEmpty, scan.dataFilters.map(_.sql).mkString(", "))
    // executing through the pruned scan returns only above-average days —
    // strictly fewer than the lake holds (the pruning did something)
    val lakeDays = sources.Staging.readStaged(spark,
      SparkEntry.dppLakePath(sf)).select("y", "m", "d").distinct.count()
    val gotDays = df.select("y", "m", "d").distinct.count()
    assert(gotDays > 0 && gotDays < lakeDays, s"$gotDays vs $lakeDays")
  }

  test("bloom_join: a runtime bloom filter guards the fact scan before the shuffle") {
    // generate the plan under the query's own confs (the round-9 rule);
    // autoBroadcastJoinThreshold=-1 forces the shuffle join the feature
    // exists for
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      val df = SparkEntry.bloomJoinFrame(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      // the injected semi-join reduction: might_contain(bloom subquery)
      // sits on the lineitem (application) side
      assert(p.contains("might_contain"), p)
      // and the join itself is the designed shuffle join, not a broadcast
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally prev.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("skew_join: AQE splits the hot-key partition at runtime") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      val df = SparkEntry.skewJoinFrame(spark, sf)
      df.collect() // AQE decides at runtime — the final plan needs a run
      val p = df.queryExecution.executedPlan.toString
      // the skew marker lands on the join node ("SortMergeJoin ... (skew=true)")
      assert(p.contains("skew=true"), p)
    } finally prev.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("cbo_reorder: column stats re-plan the mis-ordered join to dim-first") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    val prev = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      val df = SparkEntry.cboFrame(spark, sf)
      // assert on the OPTIMIZED logical plan (reorder is a logical rule;
      // physical broadcasts would muddy subtree membership)
      val opt = df.queryExecution.optimizedPlan
      val joins = opt.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      assert(joins.size == 2, opt.toString)
      // the INNERMOST join (no Join below it) must hold orders+customer
      // only — the fact joins the reduced frame above
      val innermost = joins.filter(j => j.children.forall(c =>
        c.collect { case jj: org.apache.spark.sql.catalyst.plans.logical.Join => jj }
          .isEmpty))
      assert(innermost.size == 1, opt.toString)
      val tables = innermost.head.collectLeaves().map(_.toString).mkString
      assert(tables.contains("ord_cbo_") && tables.contains("cust_cbo_") &&
        !tables.contains("li_cbo_"), opt.toString)
    } finally prev.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("session-4 reduced-frame queries: the corpus scan runs ONCE (checkpoint time)") {
    // each query's final plan must read only the checkpointed reduced
    // frame — a parquet scan in the plan means a consumer re-reads the
    // corpus (the keyness 3x regression class)
    for (q <- Seq("t_closeness", "source_keyness", "events_interpolate")) {
      val p = plan(q)
      assert(!p.contains("Scan parquet"), s"$q re-scans the corpus:\n$p")
    }
  }

  test("events_interpolate: prev/next carries fuse into ONE window pass") {
    val p = plan("events_interpolate")
    assert("Window ".r.findAllIn(p).size == 1, p)
  }

  test("source_keyness ranks on the heap top-k operator, not a per-source sort") {
    val p = plan("source_keyness")
    assert(p.contains("TopKPerGroup"), p)
  }

  test("incremental read-back prunes to the interval's partitions") {
    import org.apache.spark.sql.functions.col
    SparkEntry.queries("incremental_interval")(spark, sf).collect() // stage the slices
    val path = SparkEntry.stagingBase + "/graft_incremental_events"
    val scan = sources.Staging.readStaged(spark, path)
      .filter(col("y") === 2024 && col("m") === 1 && col("d") >= 10 && col("d") < 12)
      .queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .head
    // the y/m/d predicates must land in partitionFilters (directory
    // pruning), never in post-scan dataFilters
    val pf = scan.partitionFilters.map(_.sql).mkString(", ")
    assert(pf.contains("= 2024") && pf.contains(">= 10") && pf.contains("< 12"), pf)
    assert(scan.dataFilters.isEmpty, scan.dataFilters.map(_.sql).mkString(", "))
  }

  test("text_winnow: one doc-keyed shuffle feeds the window passes") {
    val p = plan("text_winnow")
    // two Window operators (the ordered lag/lead run chains + the
    // unordered per-doc max) must SHARE one per-document shuffle — the
    // doc-keyed Exchange is the only hash Exchange in the plan
    assert("Window ".r.findAllIn(p).size == 2, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("bm25_topk: broadcast query side, heap-ranked, no cartesian blowup") {
    // every join must be HINTED broadcast: disabling the auto threshold
    // (as BucketingSpec's leaked conf once did to this suite) must not
    // change the plan shape
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val p = try plan("bm25_topk")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert("TopKPerGroup 10".r.findAllIn(p).size == 2, p) // partial + final
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // doc length rides a per-id window over the id-partitioned tf — the
    // round-8 verdict's doc-sized dl join must stay gone: every join in
    // the plan is broadcast, and exactly one Window attaches __dl
    assert("Window ".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("dedup_incremental: the index side never shuffles data-sized") {
    // the batch hash set must reach the index stream as a broadcast
    // leftsemi (map-side prune) regardless of the auto threshold; the
    // only hash Exchanges are batch-bounded: the batch distinct hash set,
    // the batch keep-first window, and the leftsemi-pruned hit-set
    // distinct (partial-aggregated before it shuffles)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val p = try plan("dedup_incremental")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("LeftSemi, BuildRight"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3, p)
  }

  test("events_rolling: one keyed shuffle, one Window pass, no self-join") {
    // the RANGE-frame rolling aggregate must stay a single user-keyed
    // Exchange feeding ONE Window node (count + decimal sum fused) — the
    // quadratic ts-BETWEEN self-join this operator replaces plans as a
    // join, which must never appear
    val p = plan("events_rolling")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("Window ".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("events_ohlc: one (type, hour) Exchange serves both rank passes and the rollup") {
    // the asc/desc row_number passes cannot fuse into one Window node
    // (opposite sort orders) but must SHARE the (type, h) partitioning
    // with each other AND the bar rollup — grouping on the formatted
    // hour string (instead of the raw hour) forced a second Exchange
    // (the map-to-display-strings-AFTER-the-rollup rule)
    val p = plan("events_ohlc")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("Window ".r.findAllIn(p).size == 2, p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("events_cusum: two hourly-sized Exchanges, three stacked Windows, no join") {
    // the hourly rollup Exchange (partial_count map-side) + ONE type-keyed
    // Exchange serving all three window layers (per-type median, prefix
    // sum, running min); the sequential recurrence must never appear as a
    // self-join or per-row state
    val p = plan("events_cusum")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert("Window ".r.findAllIn(p).size == 3, p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("text_entropy: zero-shuffle kernel projection") {
    // the TokenEntropy kernel folds the within-doc counting into the
    // scan — no Exchange, no explode, no aggregate survives in the plan
    val p = plan("text_entropy")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join") && !p.contains("Generate"), p)
  }

  test("value_psi: the bucket rollup materializes once; grid joins broadcast") {
    // four derivations (pool, per-source totals, grand totals, the grid's
    // present-count join) read the S×B-row rollup — without materializing
    // it each would re-run the corpus scan + rollup (4× data cost). Since
    // round 11 the rollup is an eager localCheckpoint rather than a
    // persist (the MemoryPlan self-join fix), so every reader plans as a
    // Scan ExistingRDD over the one computed frame and the corpus parquet
    // appears in NO reader subtree.
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val p = plan("value_psi")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("events.parquet"), p) // corpus read happened pre-plan, once
    assert("BroadcastExchange".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // sweep ONLY this query's checkpoint (suites share the session)
    val rdds = spark.sparkContext.getPersistentRDDs
    (rdds.keySet -- baseline).foreach(id => rdds(id).unpersist(blocking = false))
  }

  test("attribution: one user shuffle + accumulating carry, no purchase x touch join") {
    // last-touch attribution must be the running-carry window, never the
    // per-purchase backward join; the carry + lag share ONE shuffle and
    // ONE sort (the second Window reuses the first's ordering), and the
    // touch-type rollup combines map-side. The type filter reaches the
    // scan so only touches/purchases enter the sort.
    val p = plan("attribution_last_touch")
    // user shuffle + the 3-group rollup shuffle; nothing else
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    // ONE user-ordered sort feeds both Window passes (the lag reuses the
    // carry's ordering); the only other Sort is the final output orderBy
    assert("Sort \\[user_id".r.findAllIn(p).size == 1, p)
    assert("Window ".r.findAllIn(p).size <= 2, p)
    assert(p.contains("In(event_type, ["), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("top_paths: both lags fuse into one Window; top-k is TakeOrdered") {
    val p = plan("top_paths")
    assert("Window ".r.findAllIn(p).size == 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
  }

  test("funnel_windowed: type filters reach the scans; no cartesian stage join") {
    // the stage joins rely on the AUTO broadcast threshold — pin it to
    // the default so a suite-order conf leak (BucketingSpec sets -1)
    // cannot flip the one-row count cross joins to CartesianProduct
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val p = try plan("funnel_windowed")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // each stage shuffles only its own type's slice
    assert(p.contains("EqualTo(event_type,view)"), p)
    assert(p.contains("EqualTo(event_type,click)"), p)
    assert(p.contains("EqualTo(event_type,purchase)"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only nested loops are the final one-row count cross joins
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
  }

  test("audience_overlap: set fan-out, no user-level self-join") {
    val p = plan("audience_overlap")
    assert(p.contains("partial_collect_set") || p.contains("collect_set"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("skipgram_pairs: zero joins, one explode, TakeOrdered top-k") {
    val p = plan("skipgram_pairs")
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("Generate explode".r.findAllIn(p).size == 1, p)
  }

  test("events_spike: hourly rollup combines map-side before any shuffle") {
    // both Exchanges must carry hourly rows, never raw events: the
    // partial_count sits below the first Exchange, and the three trailing
    // frame sums fuse into ONE type-keyed Window node
    val p = plan("events_spike")
    assert(p.contains("partial_count"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert("Window ".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("events_mad: rollup combines map-side; all joins are hourly-frame-sized") {
    // the raw-event stage must end at the partial-counted hourly rollup:
    // the first Exchange carries hourly rows, and every Join in the MAD
    // band-join cascade sits strictly ABOVE that rollup (joins over the
    // hours x types frame, never over events)
    val qe = SparkEntry.queries("events_mad")(spark, sf).queryExecution
    assert(qe.executedPlan.toString.contains("partial_count"),
      qe.executedPlan.toString)
    // no Join may have a raw relation below it without an intervening
    // aggregate: every join input is post-rollup. Asserted on the
    // OPTIMIZED LOGICAL plan (AQE wraps the physical plan in a leaf
    // AdaptiveSparkPlanExec, so physical collect cannot descend)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LeafNode, LogicalPlan}
    def rawLeavesBelow(n: LogicalPlan): Int = n match {
      case _: Aggregate => 0
      case _: LeafNode => 1
      case other => other.children.map(rawLeavesBelow).sum
    }
    val joins = qe.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty, qe.optimizedPlan.toString)
    joins.foreach(j => assert(rawLeavesBelow(j) == 0, j.toString))
  }

  test("shuffle_shards: one shard-keyed shuffle, one Window, no global sort") {
    // the seeded permutation must plan exactly like the shard writer it
    // models: hash Exchange on the shard key + in-partition sort +
    // row_number — never a global (range) sort of the corpus for the
    // permutation itself (the single rangepartitioning Exchange below
    // the output ORDER BY is the registered query's determinism sort)
    val p = plan("shuffle_shards")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("Window ".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("corpus_drift: one data-sized shuffle, windows ride the tiny frame") {
    // the token explode must partial-aggregate MAP-SIDE into the single
    // (source, bucket)-keyed Exchange; the three totals windows and the
    // final rollup then live on the buckets×sources frame behind ONE
    // SinglePartition Exchange (≤ 4096×|sources| rows) — no joins
    val p = plan("corpus_drift")
    assert(p.contains("partial_count"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
    // the numeric twin rides the same bucket seam and must keep the shape
    val v = plan("value_drift")
    assert(v.contains("partial_count"), v)
    assert("Exchange hashpartitioning".r.findAllIn(v).size == 1, v)
    assert(!v.contains("Join"), v)
  }

  test("bucketed_join: join AND per-key rollup run with zero hash Exchange") {
    // stage the bucketed tables, then inspect the read/join/rollup plan
    SparkEntry.queries("bucketed_join")(spark, sf).collect()
    val df = SparkEntry.bucketedJoinRead(spark)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("Bucketed: true"), p)
  }

  test("zorder_scan: box reaches the scan as dataFilters; z-layout prunes a strict minority of files") {
    import org.apache.spark.sql.functions._
    // the registered read path: zorderWrite into 16 files, box filter
    val df = SparkEntry.zorderScanRead(spark, sf)
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    // both range endpoints of both dims must reach the scan's dataFilters
    // (assert on the expressions directly — rendered plans truncate)
    val filters = scans.head.dataFilters.map(_.sql)
    for (want <- Seq("(a >= 384L)", "(a <= 639L)", "(b >= 256L)", "(b <= 511L)"))
      assert(filters.exists(_.contains(want)), filters.mkString("; "))

    // per-file min/max rectangles — what parquet row-group stats expose
    // to the skipping reader. The box must overlap a strict minority of
    // the 16 files on EACH dim alone and fewer still jointly (a 1-d sort
    // would read 16/16 on its unsorted dim; exact counts jitter with the
    // range partitioner's boundary sampling)
    val rects = spark.read.parquet(SparkEntry.zorderScanPath(sf))
      .groupBy(input_file_name())
      .agg(min("a").as("alo"), max("a").as("ahi"),
        min("b").as("blo"), max("b").as("bhi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rects.length == 16, rects.mkString(", "))
    val aHit = rects.count { case (alo, ahi, _, _) => alo <= 639L && ahi >= 384L }
    val bHit = rects.count { case (_, _, blo, bhi) => blo <= 511L && bhi >= 256L }
    val boxHit = rects.count { case (alo, ahi, blo, bhi) =>
      alo <= 639L && ahi >= 384L && blo <= 511L && bhi >= 256L }
    assert(aHit <= 12, s"aHit=$aHit: ${rects.mkString(", ")}")
    assert(bHit <= 12, s"bHit=$bHit: ${rects.mkString(", ")}")
    assert(boxHit <= 8, s"boxHit=$boxHit: ${rects.mkString(", ")}")
  }

  test("hilbert_scan: box reaches the scan; hilbert files prune at least as well as z-order") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.hilbertScanRead(spark, sf)
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    val filters = scans.head.dataFilters.map(_.sql)
    for (want <- Seq("(a >= 384L)", "(a <= 639L)", "(b >= 256L)", "(b <= 511L)"))
      assert(filters.exists(_.contains(want)), filters.mkString("; "))

    def boxHits(path: String): Int = {
      val rects = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("a").as("alo"), max("a").as("ahi"),
          min("b").as("blo"), max("b").as("bhi"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(rects.length == 16, rects.mkString(", "))
      rects.count { case (alo, ahi, blo, bhi) =>
        alo <= 639L && ahi >= 384L && blo <= 511L && bhi >= 256L }
    }
    SparkEntry.zorderScanRead(spark, sf) // ensure the z twin is staged
    val h = boxHits(SparkEntry.hilbertScanPath(sf))
    val z = boxHits(SparkEntry.zorderScanPath(sf))
    // same box, same 16 equal-count files: the seam-free curve's tighter
    // per-file rectangles must overlap no more files than Morton's (and a
    // strict minority of the 16 — the absolute bound zorder_scan pins)
    assert(h <= 8, s"hilbert boxHit=$h")
    assert(h <= z, s"hilbert boxHit=$h > zorder boxHit=$z")
  }

  test("hilbert_scan_3d: 3-D box reaches the scan; hilbert3 files prune at least as well as 3-D Morton") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.hilbertScan3dRead(spark, sf)
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    // all six range endpoints must reach the scan's dataFilters
    val filters = scans.head.dataFilters.map(_.sql)
    for (want <- Seq("(a >= 32L)", "(a <= 63L)", "(b >= 64L)",
        "(b <= 95L)", "(c >= 96L)", "(c <= 127L)"))
      assert(filters.exists(_.contains(want)), filters.mkString("; "))

    def boxHits(path: String): Int = {
      val rects = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("a").as("alo"), max("a").as("ahi"),
          min("b").as("blo"), max("b").as("bhi"),
          min("c").as("clo"), max("c").as("chi"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))
      assert(rects.length == 16, rects.mkString(", "))
      rects.count { case (alo, ahi, blo, bhi, clo, chi) =>
        alo <= 63L && ahi >= 32L && blo <= 95L && bhi >= 64L &&
          clo <= 127L && chi >= 96L }
    }
    SparkEntry.zorderScan3dRead(spark, sf) // ensure the Morton-3D twin is staged
    val h = boxHits(SparkEntry.hilbertScan3dPath(sf))
    val z = boxHits(SparkEntry.zorderScan3dPath(sf))
    // same 1/64-volume box, same 16 equal-count files: the seam-free 3-D
    // curve's tighter per-file boxes must overlap no more files than
    // 3-D Morton's, and a strict minority of the 16
    assert(h <= 8, s"hilbert3 boxHit=$h")
    assert(h <= z, s"hilbert3 boxHit=$h > morton3 boxHit=$z")
  }

  test("price_quantile_sketch: bounded object-hash aggregates, map-side partials, two keyed shuffles") {
    // build (per flag×shard) and fold (per flag) both run as
    // ObjectHashAggregate with a map-side partial before each Exchange —
    // the bounded-buffer TypedImperativeAggregate never falls to
    // SortAggregate, and nothing corpus-sized shuffles twice
    val p = plan("price_quantile_sketch")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(p.contains("partial_min_k_by_hash"), p)
    assert(p.contains("partial_min_k_merge"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("embedding_quantize: dim stats broadcast back; the only keyed shuffle is dim-bounded") {
    // the per-dim [mn,mx] aggregate is the ONLY hash Exchange (it carries
    // dims x partitions scalars), combines map-side, and returns to the
    // corpus scan as a broadcast — quantization itself is scan-speed
    val p = plan("embedding_quantize")
    assert(p.contains("partial_min"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("snapshot_diff: fingerprints are projected below the only join — bodies never shuffle") {
    // each snapshot reduces to (key, md5) BEFORE the full-outer join, so
    // the join Exchanges carry 32-byte hashes, not document text; assert
    // on the optimized logical plan (AQE hides physical children)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val qe = SparkEntry.queries("snapshot_diff")(spark, sf).queryExecution
    val joins = qe.optimizedPlan.collect { case j: Join => j }
    assert(joins.size == 1, qe.optimizedPlan.toString)
    joins.head.children.foreach { side =>
      val names = side.output.map(_.name)
      assert(names.length == 2 && names.contains("doc_id") &&
        !names.contains("text"), names.mkString(","))
    }
  }

  test("collocations: both count aggregates combine map-side; totals join broadcasts") {
    val p = plan("collocations_pmi")
    // unigram + bigram counts and the one-row totals all partial-aggregate
    assert("partial_count".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_sum"), p)
    // the one-row totals frame must arrive via broadcast, never shuffled
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("embedding_outliers: scoring is a zero-shuffle per-row fold + TakeOrdered") {
    // the mean is collected at build time (dim-sized driver state), so
    // the scoring plan is scan -> per-row fold -> TakeOrdered: ZERO
    // Exchanges of any kind, no joins, no explode
    val p = plan("embedding_outliers")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
  }

  test("asof forward/tolerance variants plan the union+window, never a join") {
    // the naive formulation is a per-key range join (O(|L| x |R|) per
    // key); the composition must keep the single-shuffle union+window
    // shape for every direction/tolerance variant
    for (q <- Seq("asof_join_forward", "asof_join_tolerance")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: $p")
      assert(p.contains("Window"), s"$q: $p")
    }
  }

  test("dim_scd2: exactly one key join, no window, no second shuffle stage") {
    // the SCD2 fold must stay open-slice x batch: one full-outer join on
    // the key, rows minted by a per-row struct explode — never a window
    // or a second data-sized Exchange
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val qe = SparkEntry.queries("dim_scd2")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.size == 1,
      qe.optimizedPlan.toString)
    assert(!qe.executedPlan.toString.contains("Window"),
      qe.executedPlan.toString)
  }

  test("fact_scd2_lookup: the validity interval rides an equi key join") {
    // the interval predicate must be a post-condition on the key-equi
    // join — a bare range join would plan a nested loop
    val p = plan("fact_scd2_lookup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("length_buckets: one map-side-combined rollup on the bucket key") {
    val p = plan("length_buckets")
    assert(p.contains("partial_count"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("sales_cube: one Expand feeding one partial-aggregated Exchange") {
    val p = plan("sales_cube")
    // all four grouping sets ride a single Expand + hash aggregate pass —
    // subtotals never become extra jobs or joins
    assert("(?m)^\\s*[+:*-]*\\s*Expand".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_count"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("order_pivot: explicit pivot domain means no discovery job, one corpus shuffle") {
    val p = plan("order_pivot")
    // agg on (month, status) with map-side partials, then pivotfirst over
    // the month×status-sized result — no distinct-values pass, no Join;
    // the only corpus-sized Exchange is the first of exactly two
    assert(!p.contains("Expand"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("partial_pivotfirst"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("text_lz_complexity is a zero-shuffle kernel projection") {
    val p = plan("text_lz_complexity")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("lz_complexity"), p)
  }

  test("epoch_plan: one corpus rollup; weight sum rides the tiny source frame") {
    val p = plan("epoch_plan")
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_sum"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("table_profile: every measure in ONE multi-distinct pass, no joins") {
    val p = plan("table_profile")
    assert(!p.contains("Join"), p)
    assert("(?m)^\\s*[+:*| -]*Expand".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
  }

  test("quality_ensemble: three scorers, ONE scan, zero joins and shuffles") {
    val p = plan("quality_ensemble")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("quality_classifier scores as a zero-shuffle per-row fold") {
    val p = plan("quality_classifier")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("pareto_front: value-bounded aggregate + broadcast verdict, never a quadratic join") {
    val p = plan("pareto_front")
    // the only hash Exchange carries per-p_size minima (value-bounded);
    // the verdict returns via broadcast — no shuffled or nested-loop join
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q7: shipdate pushes to the scan; dimension chains broadcast; one fact join") {
    val p = plan("q7_nation_trade")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p) // sup + cust chains
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("basket_pairs: keyed self-join, map-side pair rollup, one broadcast totals row") {
    val p = plan("basket_pairs")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the broadcast ONE-ROW totals cross join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_count"), p)
  }

  test("min_cost_supplier: both aggregates reuse ONE part-subset Exchange, no join") {
    val p = plan("min_cost_supplier")
    // repartition(part) satisfies both the (part, supp) rollup and the
    // per-part argmin clustering; the min(struct) SortAggregate runs on
    // the pair-REDUCED frame, never the corpus
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("event_transitions: one event-sized shuffle; pair/share stages are type-bounded") {
    val p = plan("event_transitions")
    assert(!p.contains("Join"), p)
    assert("(?m)^\\s*[+:|* -]*Window".r.findAllIn(p).size == 2, p) // lag + share
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
    assert(p.contains("partial_count"), p) // pair rollup combines map-side
  }

  test("rolling_active_users: fan-out is map-side; day filter is a broadcast semi join") {
    val p = plan("rolling_active_users")
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // (day,user) dedup, tiny day table, (wday,user) dedup, wday rollup —
    // each partial-aggregated before exchanging; no explode-driven join
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 4, p)
  }

  test("weighted_sample: priority top-k is a TakeOrdered over the scan — zero shuffle") {
    val p = plan("weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("q8: part-type and date filters push to the scans; every dimension broadcasts") {
    val p = plan("q8_market_share")
    assert(p.contains("PushedFilters: [IsNotNull(p_type), EqualTo(p_type,PROMO)"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    // part subset, both nation roles, region, supplier: all broadcast;
    // the only shuffled join is fact-side
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("price_winsorize: group-sized bounds broadcast back; clip rollup combines map-side") {
    val p = plan("price_winsorize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("dq_rules: the whole suite is one scan; the single distinct pre-aggregates map-side") {
    val p = plan("dq_rules")
    assert(!p.contains("Join"), p)
    // one FileScan of orders total (rule count never adds scans)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    // ONE distinct rule -> Spark re-aggregates keyed on the tuple (no
    // Expand): the key dedup partial-aggregates before its Exchange
    assert(!p.contains("Expand"), p)
    assert(p.contains("partial_count"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("dedup_minhash_incremental: batch side broadcasts everywhere; index never hash-shuffles") {
    // generate the plan with auto-broadcast OFF so only the HINTED
    // broadcasts survive (the bm25 guard lesson): batch bands, candidate
    // ids and batch shingles must all be hint-broadcast, and the only
    // hash Exchange is the candidate-bounded distinct
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val p = try plan("dedup_minhash_incremental")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("supplier_scorecard: map-side rollup, broadcast names, top-20 is TakeOrdered") {
    val p = plan("supplier_scorecard")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastHashJoin"), p) // supplier names on the reduced frame
    assert(!p.contains("CartesianProduct"), p)
  }

  test("customer_rfm: all three NTILE passes are partition-parallel ranks, no global window") {
    val df = SparkEntry.queries("customer_rfm")(spark, sf)
    val exec = df.queryExecution.sparkPlan
    // every rank pass rides the running-count machinery over the range
    // checkpoint (Bridge.mapPartitionsInternal): ZERO WindowExec nodes —
    // the old shape planned a __pid-partitioned Window per pass, each
    // costing a hash Exchange + Sort; a reappearing Window means the
    // machinery regressed (worst case: a bare global orderBy window)
    val wins = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.isEmpty, exec.toString)
    val s = exec.toString
    assert(s.contains("ExistingRDD"), s) // the rank pass's checkpoint scan
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"), s)
  }

  test("numeric_corr: every moment in ONE map-side-combined pass, single one-row Exchange") {
    val p = plan("numeric_corr")
    assert(p.contains("partial_count"), p) // moments combine map-side
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("events_trend: hourly rollup combines map-side; window + slope agg share one key Exchange") {
    val p = plan("events_trend")
    assert(p.contains("partial_count"), p)
    // (type,h) rollup Exchange + type Exchange reused by window AND the
    // sums rollup — never a third
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert("(?m)^\\s*[+:|* -]*Window".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q17: window decorrelation — one scan, one Exchange, one fused Window, no self-join") {
    val df = SparkEntry.queries("q17_small_qty")(spark, sf)
    val exec = df.queryExecution.sparkPlan
    val wins = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // both frame functions (decimal sum, count) fuse into ONE part-keyed
    // Window pass; a groupBy+join-back would re-plan the subtree twice
    assert(wins.size == 1, exec.toString)
    assert(wins.forall(_.partitionSpec.nonEmpty), exec.toString)
    // exchanges exist only in the executedPlan (EnsureRequirements)
    val p = plan("q17_small_qty")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q18: one corpus shuffle; survivors broadcast into orders and customer; top-100 is TakeOrdered") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val p = try plan("q18_big_orders")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q19: the strengthened union bounds reach both scans as pushed filters") {
    val p = plan("q19_disjunctive")
    // manual cross-table predicate strengthening: the quantity envelope
    // pushes to the lineitem scan, the brand IN-list to the part scan —
    // Catalyst cannot derive either from the OR-of-ANDs itself
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"), p)
    assert(p.contains("LessThanOrEqual(l_quantity,30.0)"), p)
    assert(p.contains("In(p_brand"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q21: both correlations run on ONE corpus Exchange; second shuffle is qualified-rows-sized") {
    // the status-filtered orders side joins UNHINTED (auto-broadcast at
    // gate scale; SMJ at 100 TB is the right call, so no hint belongs in
    // the query) — generate the plan under the pinned default threshold
    // or BucketingSpec's -1 leaks in full-suite order (the bm25 lesson)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    try {
      val df = SparkEntry.queries("q21_waiting_suppliers")(spark, sf)
      val exec = df.queryExecution.sparkPlan
      // repartition(l_orderkey) feeds the (order, supp) rollup AND the
      // order-keyed window carrying both correlation aggregates — one
      // fused partitioned Window, no self-join; the only other hash
      // Exchange regroups the filtered survivors by supplier
      val wins = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.size == 1, exec.toString)
      assert(wins.forall(_.partitionSpec.nonEmpty), exec.toString)
      val p = plan("q21_waiting_suppliers")
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q22: recency anti join is date-pruned at the scan; the scalar avg broadcasts") {
    val p = plan("q22_idle_customers")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    // the one-row average arrives via broadcast, never a shuffled join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q10: orders date-pruned, returnflag pushed, reduced frame broadcasts, top-20 TakeOrdered") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val p = try plan("q10_returns")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    // per-customer rollup and nation both hint-broadcast: customer never
    // shuffles; the one shuffled join is the designed lineitem x orders
    // fact join
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert("SortMergeJoin".r.findAllIn(p).size <= 1, p)
  }

  test("q6: all three predicate families reach the lineitem scan; no join anywhere") {
    // rendered plan strings truncate long PushedFilters lists — assert
    // on the scan exec's dataFilters directly (the round-3 rule)
    val df = SparkEntry.queries("q6_forecast_revenue")(spark, sf)
    val scan = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val filters = scan.dataFilters.map(_.sql).mkString("; ")
    assert(filters.contains("l_shipdate"), filters)
    assert(filters.contains("l_discount"), filters)
    assert(filters.contains("l_quantity"), filters)
    assert(!plan("q6_forecast_revenue").contains("Join"),
      plan("q6_forecast_revenue"))
  }

  test("q12: the year filter prunes the lineitem scan; lateness applies post-join") {
    val p = plan("q12_late_priority")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("LessThan(l_shipdate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q13: left outer keeps zero-order customers; the reduced counts broadcast") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val p = try plan("q13_order_distribution")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // an inner join here would silently drop the histogram's zero bucket
    assert(p.contains("LeftOuter"), p)
    // the per-customer rollup is hinted: customer itself never shuffles
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)") ||
      p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"), p)
  }

  test("q15: the scalar max broadcasts one row; ties resolve by value equality, not a sort-limit") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val p = try plan("q15_top_supplier")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // Catalyst rewrites filter(rev === max) into an equi-join on the
    // decimal value with the ONE-ROW max side broadcast (BuildRight,
    // Cross) — survivors found by exact-decimal equality, never a
    // global sort-limit (which would also break ties)
    assert(p.contains("BroadcastHashJoin [total_revenue_d"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("TakeOrdered"), p)
  }

  test("events_seasonal: window partitions by the composite key; events never shuffle whole") {
    val df = SparkEntry.queries("events_seasonal")(spark, sf)
    val exec = df.queryExecution.sparkPlan
    val wins = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size == 1 && wins.forall(_.partitionSpec.nonEmpty), exec.toString)
    // the hourly rollup partial-aggregates map-side: the plan carries a
    // partial_count under the first Exchange, so the wire sees hourly
    // rows, never raw events
    assert(plan("events_seasonal").contains("partial_count"),
      plan("events_seasonal"))
  }

  test("merge_changelog: one keyed Exchange serves the whole merge; no join anywhere") {
    val df = SparkEntry.queries("merge_changelog")(spark, sf)
    val p = plan("merge_changelog")
    // union + ONE window on the key — the delete filter rides the ranked
    // rows, so no join and no second corpus shuffle exist before the
    // presentation sort
    assert(!p.contains("Join"), p)
    val exec = df.queryExecution.sparkPlan
    val wins = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size == 1 && wins.forall(_.partitionSpec.nonEmpty), exec.toString)
  }

  test("skew_report: top-k plans TakeOrdered; the only window runs on the survivors") {
    val p = plan("skew_report")
    assert(p.contains("TakeOrderedAndProject"), p)
    // totals arrive as a one-row broadcast, never a shuffled join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("value_ks: CDFs are zero-shuffle running passes — never a single-task global window") {
    // the KS cumulative CDFs ride withPrefixSums (range repartition +
    // partition-offset reconstruction, in-partition running pass over
    // the checkpoint): ZERO WindowExec nodes in the final plan — the
    // old shape planned a __pid-partitioned Window per consumer (one
    // hash Exchange + Sort each); a bare global orderBy window is the
    // single-task cliff this machinery exists to avoid. Totals arrive
    // as one-row broadcast cross joins, never a shuffled join.
    val df = SparkEntry.queries("value_ks")(spark, sf)
    val exec = df.queryExecution.sparkPlan
    val wins = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.isEmpty, exec.toString)
    val s = exec.toString
    assert(s.contains("ExistingRDD"), s) // the prefix-sum checkpoint scans
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"), s)
  }

  test("q2: window min rides the ONE partkey Exchange — no decorrelated self-join") {
    val p = plan("q2_min_cost_region")
    // the join form re-plans min_cost=best into the join keys, breaking
    // the partkey clustering into an SMJ with two fresh Exchanges and a
    // duplicated corpus subtree; the window form is one Exchange total
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
    // part filter and region chain broadcast into the corpus scan
    assert(p.contains("EqualTo(p_type,LARGE)"), p)
  }

  test("dedup_ngram_jaccard: ONE fixed-width shingle shuffle feeds both self-join sides") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
    // the scale contract: AQE sizes post-shuffle partitions by the
    // exchange's INPUT (shingle rows), not the join's pair-row output, so a
    // coalescible shuffle narrowed the explosive join below the core count
    object aqe extends AdaptiveSparkPlanHelper
    val df = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
    df.collect() // AQE decides at runtime — the final plan needs a run
    val plan = df.queryExecution.executedPlan
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def onShh(e: ShuffleExchangeExec): Boolean = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references).map(_.name) == Seq("shh")
      case _ => false
    }
    val shh = aqe.collect(plan) { case e: ShuffleExchangeExec if onShh(e) => e }
    assert(shh.size == 1, plan.toString)
    assert(shh.head.shuffleOrigin == REPARTITION_BY_NUM, plan.toString)
    assert(shh.head.outputPartitioning.numPartitions == width, plan.toString)
    // both join sides read that one shuffle: the second as a reused stage
    val reads = aqe.collect(plan) {
      case s: ShuffleQueryStageExec if s.shuffle.eq(shh.head) => s
    }
    assert(reads.size == 2 && reads.count(_.plan.isInstanceOf[ReusedExchangeExec]) == 1,
      plan.toString)
    // and no runtime read narrows it
    assert(aqe.collect(plan) {
      case r: AQEShuffleReadExec if reads.exists(_.eq(r.child)) => r
    }.isEmpty, plan.toString)
  }

  test("q11: the corpus rollup runs ONCE — AQE reuses the stage under the scalar total") {
    val df = SparkEntry.queries("q11_important_parts")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the grand total derives from the per-part rollup, so the initial
    // plan carries the subtree twice; at runtime the shuffle stage must
    // dedupe (lineitem is scanned once) — the contract this guard pins
    assert("ReusedQueryStage|ReusedExchange".r.findAllIn(p).nonEmpty, p)
    // the total joins back as a one-row broadcast, never a shuffled join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q20: both conditional sums ride ONE corpus rollup; dims broadcast") {
    val p = plan("q20_excess_shippers")
    // pair rollup (corpus-sized) + supplier rollup (pair-reduced) — the
    // q97/qall sums must share one pass, never two scans of lineitem
    assert("Scan parquet".r.findAllIn(p).size == 5, p) // lineitem+part+supplier+nation+region
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("variant_extract: parse + every path access is one zero-shuffle projection") {
    val p = plan("variant_extract")
    // one encode (parse_json) + N variant_get reads, all map-side; the
    // only Exchange is the type-bounded rollup
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("blocklist_hits: one Aho-Corasick corpus scan; only the sources×terms rollup shuffles") {
    val p = plan("blocklist_hits")
    assert(!p.contains("Join"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("blocklist_counts"), p)
  }

  test("url_dedup: zero-shuffle canonicalization; only the canonical-key rollup shuffles") {
    val p = plan("url_dedup")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_count") || p.contains("partial_min"), p)
  }

  test("events_acf: corpus scanned once (checkpointed hourly); lags fused in ONE window") {
    val p = plan("events_acf")
    // the three derivations (bounds, key set, join) read the eager
    // checkpoint — the events parquet scan happened exactly once, inside
    // the hourly rollup that produced it
    assert(!p.contains("Scan parquet"), p)
    assert("Window".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SortMergeJoin") && p.contains("BroadcastHashJoin"), p)
  }

  test("parquet_stats_agg: COUNT/MIN/MAX answered from footer stats, zero row groups") {
    val conf = spark.conf
    val pa = conf.getOption("spark.sql.parquet.aggregatePushdown")
    val v1 = conf.getOption("spark.sql.sources.useV1SourceList")
    conf.set("spark.sql.parquet.aggregatePushdown", "true")
    conf.set("spark.sql.sources.useV1SourceList", "avro,csv,json,kafka,orc,text")
    try {
      val p = SparkEntry.parquetStatsFrame(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation: [COUNT(*)"), p)
      assert(p.contains("MIN(l_orderkey)") && p.contains("MAX(l_suppkey)"), p)
    } finally {
      pa.fold(conf.unset("spark.sql.parquet.aggregatePushdown"))(
        conf.set("spark.sql.parquet.aggregatePushdown", _))
      v1.fold(conf.unset("spark.sql.sources.useV1SourceList"))(
        conf.set("spark.sql.sources.useV1SourceList", _))
    }
  }

  test("orc_roundtrip: the date predicate reaches the ORC scan's pushed filters") {
    val path = SparkEntry.formatStagePath(sf, "orders", "orc")
    if (!new java.io.File(s"$path/_SUCCESS").exists) {
      SparkEntry.queries("orc_roundtrip")(spark, sf).collect() // materialize the stage
    }
    val p = SparkEntry.orcRoundtripRead(spark, path)
      .queryExecution.executedPlan.toString
    assert(p.contains("Scan orc"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }
}
