package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions: the properties that make these queries scale
  * must be visible in the optimized/executed plan — filter+projection
  * pushdown into parquet, broadcast of small dimensions, TakeOrdered for
  * top-k (no global sort).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def executedPlan(name: String): String = {
    val df = Registry.byName(name).build(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q_filter_project pushes filter and prunes columns at the scan") {
    val plan = executedPlan("q_filter_project")
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"columns not pruned:\n$plan")
  }

  test("q_join_broadcast broadcasts the dimension side (no shuffle join)") {
    val plan = executedPlan("q_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q_topk plans TakeOrderedAndProject (no global sort)") {
    val plan = executedPlan("q_topk")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("q_agg_pricing uses partial aggregation (map-side combine)") {
    val plan = executedPlan("q_agg_pricing")
    assert(plan.contains("HashAggregate"), plan)
    // partial + final pair around the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("bucketed tables join without an exchange (co-located join)") {
    val orders = Tables(spark, dir, "orders")
    val customer = Tables(spark, dir, "customer")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
    // managed tables land in the session's per-JVM temp warehouse, never
    // in the working directory
    val wh = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath).getCanonicalPath
    val cwd = new java.io.File(System.getProperty("user.dir")).getCanonicalPath
    assert(!(wh + "/").startsWith(cwd + "/"), s"warehouse $wh is under $cwd")
    orders.write.mode("overwrite")
      .bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
    customer.write.mode("overwrite")
      .bucketBy(4, "c_custkey").sortBy("c_custkey").saveAsTable("customer_b")
    val j = spark.table("orders_b").join(spark.table("customer_b"),
      col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey")).agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(j.count() === orders.select("o_custkey").distinct().count())
  }

  test("rank filters push partial WindowGroupLimit below the exchange") {
    val plan = executedPlan("q_topk_per_group")
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected partial window group limit:\n$plan")
  }

  test("q_knn_brute scans once with a broadcast probe (no shuffle of embeddings)") {
    val plan = executedPlan("q_knn_brute")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_zscore_outlier joins broadcast moments — no whole-segment window") {
    val plan = executedPlan("q_zscore_outlier")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast moments join:\n$plan")
    assert(!plan.contains("Window"), s"windows would single-task segments at scale:\n$plan")
  }

  test("q_skew_moments uses the same broadcast-moments shape") {
    val plan = executedPlan("q_skew_moments")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q_decile_approx assigns buckets via broadcast join (no global sort of events)") {
    val plan = executedPlan("q_decile_approx")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast bucket join:\n$plan")
    // the final ORDER BY on the 10-row decile aggregate may rangepartition;
    // the raw events must never be globally sorted by value/bin
    assert(!plan.contains("rangepartitioning(value") && !plan.contains("rangepartitioning(bin"),
      s"global sort of the fact table:\n$plan")
  }

  test("q_decile_stats has no window at all (distributed exact ntile)") {
    val plan = executedPlan("q_decile_stats")
    assert(!plan.contains("Window"),
      s"exact ntile must come from Ranks.withGlobalRowNumber, not a global window:\n$plan")
  }

  test("q_percentile_approx windows over the histogram, not the table") {
    val df = Registry.byName("q_percentile_approx").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // window input must be the aggregated (flag, bin) histogram: the
    // aggregate runs BELOW the window in the plan tree
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0, plan)
    assert(plan.substring(winIdx).contains("HashAggregate"),
      s"window must sit above the histogram aggregate:\n$plan")
  }

  test("q_bloom_join pre-filters map-side and still plans the exact semi-join") {
    val plan = executedPlan("q_bloom_join")
    assert(plan.contains("LeftSemi"), s"exact semi-join must remain:\n$plan")
  }

  test("q_lateral_join decorrelates the per-row LIMIT into a ranked window join") {
    val plan = executedPlan("q_lateral_join")
    assert(plan.contains("Window"), s"expected decorrelated window plan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"lateral must not fall back to a nested-loop re-execution:\n$plan")
  }

  test("q_string_agg aggregates partially despite the collect_list payload") {
    val plan = executedPlan("q_string_agg")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"listagg should use object/sort aggregation:\n$plan")
  }

  test("q_event_pattern matches via a running window, not a whole-history buffer") {
    val plan = executedPlan("q_event_pattern")
    assert(!plan.contains("collect_list"),
      s"pattern match must not buffer a user's whole history:\n$plan")
    assert(plan.contains("Window"), s"expected a running marker window:\n$plan")
  }

  test("q_spearman ranks via the prefix primitive — no unpartitioned window") {
    val plan = executedPlan("q_spearman")
    Caches.releaseAll()
    assert(!plan.contains("Window"),
      s"global rank windows would single-task the table at scale:\n$plan")
  }

  test("q_iqr_outlier broadcasts the percentile fences back over the facts") {
    val plan = executedPlan("q_iqr_outlier")
    Caches.releaseAll()
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast fence join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_cusum reports the drift head via TakeOrdered (no global sort)") {
    val plan = executedPlan("q_cusum")
    Caches.releaseAll()
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("q_tpch_q10 aggregates before the customer join and heads via TakeOrdered") {
    val plan = executedPlan("q_tpch_q10")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k head:\n$plan")
    // good shape prints the customer/nation broadcast join ABOVE the
    // revenue aggregate (join consumes the customer-bounded agg output);
    // aggregating after the join would print the final HashAggregate first
    val join = plan.indexOf("BroadcastHashJoin")
    val agg = plan.indexOf("HashAggregate")
    assert(join >= 0 && agg >= 0 && join < agg,
      s"aggregate must run below the customer join:\n$plan")
  }

  test("q_epoch_shuffle heads each epoch via partial WindowGroupLimit heaps") {
    val plan = executedPlan("q_epoch_shuffle")
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected per-partition top-5 heaps below the exchange:\n$plan")
  }

  test("q_attribution credits via one running window, never a history buffer") {
    val plan = executedPlan("q_attribution")
    assert(plan.contains("Window"), s"expected a running last-touch window:\n$plan")
    assert(!plan.contains("collect_list"),
      s"attribution must not buffer a user's whole history:\n$plan")
  }

  test("q_dedup_containment generates candidates via bucket equi-joins (never doc²)") {
    val plan = executedPlan("q_dedup_containment")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"containment candidates must come from LSH bucket equi-joins:\n$plan")
  }

  test("q_minhash_recall reuses the persisted shingle relation (single scan)") {
    val plan = executedPlan("q_minhash_recall")
    Caches.releaseAll()
    assert(plan.contains("InMemoryTableScan"),
      s"shingle/pair relations must come from the persisted cache:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"discovery must stay bucketed:\n$plan")
  }

  test("q_systematic_sample selects via broadcast probes — no window over the corpus") {
    val plan = executedPlan("q_systematic_sample")
    Caches.releaseAll()
    assert(plan.contains("Broadcast"), s"expected broadcast probe relation:\n$plan")
    assert(!plan.contains("Window"),
      s"cumulative mass must come from the prefix primitive, not a global window:\n$plan")
  }

  test("q_tpch_q7 broadcasts every dimension; ship-date filter reaches the scan") {
    val plan = executedPlan("q_tpch_q7")
    assert(plan.contains("BroadcastHashJoin"),
      s"nation/supplier dims must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "GreaterThanOrEqual(l_shipdate") || plan.contains("l_shipdate"),
      s"date filter must prune the lineitem scan:\n$plan")
  }

  test("q_tpch_q6 is scan-only: all predicates pushed, no join anywhere") {
    val plan = executedPlan("q_tpch_q6")
    assert(!plan.contains("Join"), s"Q6 must not join:\n$plan")
    // toString truncates the filter list; the stable prefix proves all
    // three columns entered pushdown ahead of the shipdate bound
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "IsNotNull(l_discount), IsNotNull(l_quantity), GreaterThanOrEqual"),
      s"predicates must reach the parquet scan:\n$plan")
  }

  test("q_tpch_q13 pre-aggregates orders before the outer join") {
    val plan = executedPlan("q_tpch_q13")
    // the per-custkey count aggregate must print BELOW the outer join
    // (the join consumes the aggregated relation, never raw orders)
    val join = plan.indexOf("Join")
    val custAgg = plan.indexOf("HashAggregate(keys=[o_custkey")
    assert(join >= 0 && custAgg >= 0 && custAgg > join,
      s"per-customer counts must aggregate below the outer join:\n$plan")
  }

  test("q_tpch_q19 pushes the implied brand/size bound to the part scan") {
    val plan = executedPlan("q_tpch_q19")
    assert(plan.contains("In(p_brand"),
      s"implied brand bound must reach the part scan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the disjunction must not defeat the equi-join:\n$plan")
  }

  test("q_tpch_q22 tests dormancy via an anti join on the date-pruned scan") {
    val plan = executedPlan("q_tpch_q22")
    assert(plan.contains("LeftAnti"), s"expected anti join:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"trailing-window filter must prune the orders scan:\n$plan")
  }

  test("q_tpch_q8 keeps the 8-table star dimension-broadcast throughout") {
    val plan = executedPlan("q_tpch_q8")
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension chain must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_tpch_q15 broadcasts the scalar max back over the bounded revenue agg") {
    val plan = executedPlan("q_tpch_q15")
    // the tie filter must consume the broadcast 1-row max, never
    // re-shuffle the revenue relation for a second aggregation
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected broadcast max join:\n$plan")
  }

  test("q_tpch_q17 aggregates per-part stats over the brand-filtered fact only") {
    val plan = executedPlan("q_tpch_q17")
    // the brand filter must reach the part scan (EqualTo pushed), and the
    // per-part aggregate must print BELOW a join (it consumes filtered rows)
    assert(plan.contains("EqualTo(p_brand,Brand#1)"),
      s"brand filter must prune the part scan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_tpch_q18 filters big orders on lineitem alone before any join") {
    val plan = executedPlan("q_tpch_q18")
    // good shape prints the joins ABOVE the HAVING aggregate (joins
    // consume the threshold-filtered agg output); joining first would
    // print the final HashAggregate before any join operator
    val join = math.max(plan.indexOf("BroadcastHashJoin"),
      plan.indexOf("SortMergeJoin"))
    val agg = plan.indexOf("HashAggregate")
    assert(join >= 0 && agg >= 0 && join < agg,
      s"the quantity aggregate must run below the joins:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-100 head:\n$plan")
  }

  test("q_graph_jaccard takes the top-20 without a global sort") {
    val plan = executedPlan("q_graph_jaccard")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_chunk_dedup reuses the cached chunk relation on both sides") {
    val plan = executedPlan("q_chunk_dedup")
    // the chunk explode must be computed once and read back twice (dup
    // aggregate + flag join), not re-derived from the parquet scan
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"chunk relation not cache-reused:\n$plan")
  }

  test("q_time_to_convert joins purchases on user_id (equi), never a time cross join") {
    val plan = executedPlan("q_time_to_convert")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"expected an equi join on user_id:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the p >= v residual must ride the equi join:\n$plan")
  }

  test("q_nucleus_vocab never plans an unpartitioned window") {
    val plan = executedPlan("q_nucleus_vocab")
    // the cumulative mass comes from the Prefix primitive; a Window
    // operator here would mean the vocab collapsed into one task
    assert(!plan.contains("Window"), s"unpartitioned running window:\n$plan")
  }

  test("q_mixture_weights broadcasts the 1-row normalizing total") {
    val plan = executedPlan("q_mixture_weights")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"expected broadcast total:\n$plan")
  }

  test("q_market_basket prunes support inside the pair aggregate and takes top-20") {
    val plan = executedPlan("q_market_basket")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
    // the c12 >= 2 prune must ride the aggregate, not a separate pass
    assert(plan.contains("HashAggregate"), plan)
  }

  test("q_growth_wow's lag window runs over the aggregated weekly relation") {
    val plan = executedPlan("q_growth_wow")
    // aggregate BEFORE window: the HashAggregate must print below Window
    val win = plan.indexOf("Window")
    val agg = plan.lastIndexOf("HashAggregate")
    assert(win >= 0 && agg >= 0 && win < agg,
      s"weekly aggregate must feed the window, not raw events:\n$plan")
  }

  test("q_assortativity carries its moment sums without a cartesian") {
    val plan = executedPlan("q_assortativity")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  // ---- round-7 ids: the shapes argued in their doc-comments, pinned ----

  test("q_kcore's returned histogram reads the materialized survivor cache") {
    val plan = executedPlan("q_kcore")
    // the peeling rounds run in their own jobs; the declared result must
    // be two aggregate pairs over the persisted survivor edges — any Join
    // here would mean the loop's work leaked into the final plan
    assert(plan.contains("InMemoryTableScan"), s"survivor cache not reused:\n$plan")
    // the InMemoryRelation footer prints the cache's BUILD plan (which did
    // join) — the live plan is everything above the first cache boundary
    val live = plan.substring(0, plan.indexOf("InMemoryRelation"))
    assert("HashAggregate".r.findAllIn(live).size >= 2, s"no partial agg:\n$plan")
    assert(!live.contains("Join"), s"peeling must not replay in the final plan:\n$plan")
  }

  test("q_kcore's peeling semi-joins broadcast the materialized survivor set") {
    // the discipline the doc-comment argues (materialize degs before the
    // joins → real stats → broadcast, measured 4×), replayed on one round
    val e = Registry.byName("q_graph_degree").build(spark, dir) // any edge source
    e.collect(); Caches.releaseAll()
    val pairs = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("src"), col("o_custkey").as("dst"))
    val degs = pairs.groupBy(col("src")).agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("deg")).persist()
    degs.count() // the materialization under test
    val keep = degs.filter(col("deg") >= 1).select(col("src").as("keep"))
    val joined = pairs.join(keep, col("src") === col("keep"), "left_semi")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    degs.unpersist()
    assert(plan.contains("BroadcastHashJoin"),
      s"materialized survivor set must broadcast at this size:\n$plan")
  }

  test("q_session_paths windows are all user-partitioned (no global session sort)") {
    val plan = executedPlan("q_session_paths")
    val specs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val parted = "windowspecdefinition\\(user_id".r.findAllIn(plan).size
    assert(specs > 0 && specs == parted,
      s"found $specs window specs, only $parted partitioned by user_id:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-20 head:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_cold_start plans the view screen as a left-anti equi-join") {
    val plan = executedPlan("q_cold_start")
    assert(plan.contains("LeftAnti"), s"expected anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_embed_quantize broadcasts the 64-row calibration join") {
    val plan = executedPlan("q_embed_quantize")
    assert(plan.contains("BroadcastHashJoin"), s"calibration join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the fact side must never shuffle for a 64-row dimension:\n$plan")
  }

  test("q_cluster_purity's majority window is cluster-partitioned") {
    val plan = executedPlan("q_cluster_purity")
    assert(plan.contains("windowspecdefinition(cluster"),
      s"majority rank must partition by cluster:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_minhash_precision probes the persisted candidates (no LSH re-run)") {
    val plan = executedPlan("q_minhash_precision")
    // shingle + candidate relations are computed once and read back
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"shared relations not cache-reused:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"threshold probe must broadcast over the bounded scored relation:\n$plan")
  }

  test("q_dup_ratio_by_source reuses the persisted chunk relation on both sides") {
    val plan = executedPlan("q_dup_ratio_by_source")
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"chunk relation not cache-reused:\n$plan")
  }

  test("q_span_mask is generate + one aggregate pair — no join, no window") {
    val plan = executedPlan("q_span_mask")
    assert(plan.contains("Generate"), s"expected the block-sequence explode:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"hash-scheduled masking needs no join or window:\n$plan")
  }

  test("q_tpch_q14 pushes the month filter to the lineitem scan and broadcasts part") {
    val plan = executedPlan("q_tpch_q14")
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(plan).isDefined,
      s"ship-date window not pushed to the scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"part side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_lang_mix is two nested aggregate pairs — no join, no window") {
    val plan = executedPlan("q_lang_mix")
    assert("HashAggregate".r.findAllIn(plan).size >= 3,
      s"expected nested partial+final aggregates:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  test("q_freq_of_freq broadcasts the type total and takes the head without a global sort") {
    val plan = executedPlan("q_freq_of_freq")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row type total must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-20 head:\n$plan")
  }

  test("q_tokenizer_fertility is one aggregate pair on the native token scan") {
    val plan = executedPlan("q_tokenizer_fertility")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  // ---- round-8 ids ----

  test("q_span_dedup's run-merge window partitions by (pair, diagonal)") {
    val plan = executedPlan("q_span_dedup")
    val specs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val parted = "windowspecdefinition\\(doc_a".r.findAllIn(plan).size
    assert(specs > 0 && specs == parted,
      s"run-merge must partition by the pair, found $specs specs / $parted pair-partitioned:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"pair space must stay candidate-bounded:\n$plan")
  }

  test("q_dsir_weights broadcasts the 256-row log-ratio table") {
    val plan = executedPlan("q_dsir_weights")
    assert(plan.contains("BroadcastHashJoin"),
      s"ratio table must broadcast into the doc-bucket counts:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), s"no window needed anywhere:\n$plan")
  }

  test("q_span_leakage semi-joins on the chunk text and reuses the persisted chunks") {
    val plan = executedPlan("q_span_leakage")
    assert(plan.contains("LeftSemi"), s"expected chunk-keyed semi join:\n$plan")
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"chunk relation not cache-reused:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_good_turing joins the bounded spectrum and broadcasts the token total") {
    val plan = executedPlan("q_good_turing")
    assert(plan.contains("InMemoryTableScan"),
      s"spectrum relation not cache-reused:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"1-row total / adjacency join must broadcast at this size:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_quality_ensemble is one document pass + bounded census (no join before the census)") {
    val plan = executedPlan("q_quality_ensemble")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row total must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"), plan)
  }

  test("q_mixture_allocation ranks remainders over the source-bounded relation only") {
    val plan = executedPlan("q_mixture_allocation")
    // the one Window is the remainder rank over ~20 source rows — it must
    // sit ABOVE the aggregates (bounded input), never over raw documents
    val win = plan.indexOf("Window")
    val agg = plan.lastIndexOf("HashAggregate")
    assert(win >= 0 && agg >= 0 && win < agg,
      s"remainder rank must run over the aggregated source relation:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_simhash_hamming reuses the persisted signature relation in the banded join") {
    val plan = executedPlan("q_simhash_hamming")
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"signature relation not cache-reused on both join sides:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"pairs must come from the banded equi-join:\n$plan")
  }

  // ---- round-9 ids ----

  test("q_span_scrub anti-joins removed positions and keeps the pair space candidate-bounded") {
    val plan = executedPlan("q_span_scrub")
    assert(plan.contains("LeftAnti"),
      s"survivors must come from a (doc_id, pos) anti-join:\n$plan")
    val specs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val parted = "windowspecdefinition\\(doc_a".r.findAllIn(plan).size
    assert(specs > 0 && specs == parted,
      s"run-merge must partition by the pair, found $specs/$parted:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"pair space must stay candidate-bounded:\n$plan")
  }

  test("q_knn_pq takes bounded heads and broadcasts every join side") {
    val plan = executedPlan("q_knn_pq")
    assert(plan.contains("TakeOrderedAndProject(limit=50"),
      s"the quantized shortlist must be a bounded head, not a global sort:\n$plan")
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 3,
      s"expected shortlist + rerank + brute heads:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"calibration/probe/shortlist joins must broadcast:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"approx score needs a partial (map-side) sum:\n$plan")
  }

  test("q_minhash_est_error reuses the persisted signature/shingle relations, no cartesian") {
    val plan = executedPlan("q_minhash_est_error")
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 3,
      s"signature + shingle caches must be reused across consumers:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"pair space must stay LSH-candidate-bounded:\n$plan")
  }

  test("q_ivf_recall_sweep takes three bounded heads over the cached candidates") {
    val plan = executedPlan("q_ivf_recall_sweep")
    assert("TakeOrderedAndProject\\(limit=10".r.findAllIn(plan).size >= 4,
      s"expected 3 sweep heads + the brute head, all bounded:\n$plan")
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 3,
      s"candidate relation must be cache-reused by the heads:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"every join side here is broadcast-sized:\n$plan")
  }

  test("q_silhouette ranks centroids in a per-vector window and aggregates bounded") {
    val plan = executedPlan("q_silhouette")
    val specs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val parted = "windowspecdefinition\\(vec_id".r.findAllIn(plan).size
    assert(specs > 0 && specs == parted,
      s"the ranking window must partition by vec_id:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the 10-row centroid table must broadcast:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("q_lsh_band_sweep reuses the persisted signature relation across all band joins") {
    val plan = executedPlan("q_lsh_band_sweep")
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 4,
      s"one signature pass must feed every banded join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"candidates must come from banded equi-joins:\n$plan")
  }

  test("q_local_clustering reuses the cached triangle rows for all three corner credits") {
    val plan = executedPlan("q_local_clustering")
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 4,
      s"edge/adjacency/triangle caches must be reused:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_ngram_novelty is two shingle-keyed aggregates, no window anywhere") {
    val plan = executedPlan("q_ngram_novelty")
    assert(!plan.contains("Window"), s"novelty needs no window:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_hard_negatives takes five bounded heads, never a global sort") {
    val plan = executedPlan("q_hard_negatives")
    assert("TakeOrderedAndProject\\(limit=30".r.findAllIn(plan).size >= 5,
      s"each probe's band must be a bounded head:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_fk_orphans anti-joins every FK edge") {
    val plan = executedPlan("q_fk_orphans")
    assert("LeftAnti".r.findAllIn(plan).size >= 4,
      s"all four edges must be anti-joins:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("q_boilerplate_prefix takes one bounded head over a prefix-keyed count") {
    val plan = executedPlan("q_boilerplate_prefix")
    assert(plan.contains("TakeOrderedAndProject(limit=10"),
      s"the top-10 must be a bounded head:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
    assert(!plan.contains("Window"), plan)
  }

  test("q_bootstrap_ci collapses the resample grid map-side (partial aggregation)") {
    val plan = executedPlan("q_bootstrap_ci")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"the rows x 100 relation must partial-aggregate before any exchange:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the grid and the 1-row CI relations must broadcast:\n$plan")
  }

  test("q_sql_native_funcs runs the NATIVE expressions from SQL text") {
    val plan = executedPlan("q_sql_native_funcs")
    assert(plan.contains("token_stats"),
      s"the SQL surface must resolve to the native token_stats scan:\n$plan")
    assert(plan.contains("cosine_sim"),
      s"the SQL surface must resolve to the native cosine expression:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected bounded head:\n$plan")
  }

  test("q_bpe_merge2 broadcasts the 1-row winning pair and takes the head without a sort") {
    val plan = executedPlan("q_bpe_merge2")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row merge table must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-10 head:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_span_dedup_global reuses ONE cached shingle-partitioned relation on both join sides") {
    val plan = executedPlan("q_span_dedup_global")
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"both self-join sides must read the one persisted rare-posting relation:\n$plan")
    val specs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val parted = "windowspecdefinition\\(doc_a".r.findAllIn(plan).size
    assert(specs > 0 && specs == parted,
      s"run-merge must partition by the pair, found $specs/$parted:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"pair space must stay rare-anchor-bounded, never doc x doc:\n$plan")
    Caches.releaseAll()
  }

  test("q_span_scrub_global anti-joins removed positions off the global runs") {
    val plan = executedPlan("q_span_scrub_global")
    assert(plan.contains("LeftAnti"),
      s"survivors must come from a (doc_id, pos) anti-join:\n$plan")
    val specs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val parted = "windowspecdefinition\\(doc_a".r.findAllIn(plan).size
    assert(specs > 0 && specs == parted,
      s"run-merge must partition by the pair:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_bpe_train's declared output is the bounded driver-side merge table") {
    // the 4 per-round censuses execute at build time (Registry's
    // documented cache-materializing convention); the declared result is
    // the 4-row merge table — a local relation, nothing distributed left
    val plan = executedPlan("q_bpe_train")
    assert(plan.contains("LocalTableScan") || plan.contains("localtablescan"),
      s"merge table must be bounded local model state:\n$plan")
    Caches.releaseAll()
  }

  test("q_video_frames decodes partition-wise with the under-split spread, no shuffle joins") {
    val plan = executedPlan("q_video_frames")
    assert(plan.contains("MapPartitions"),
      s"codec must run in the mapPartitions seam:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q_mr_topdocs partial-aggregates the bounded top-3 buffer map-side (O5 combiner)") {
    val plan = executedPlan("q_mr_topdocs")
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"the Aggregator buffer must combine before the shuffle:\n$plan")
  }

  test("q_image_phash hashes in the codec seam, buckets without joins, bounded head") {
    val plan = executedPlan("q_image_phash")
    assert(plan.contains("MapPartitions"),
      s"the codec+hash must run partition-wise:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-10 bucket head must not global-sort:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q_pq_train broadcasts the codebook (no shuffle join), windows subspace-partitioned") {
    val plan = executedPlan("q_pq_train")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 16-row codebook must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q_column_profile profiles all columns in one scan with partial aggregation") {
    val plan = executedPlan("q_column_profile")
    // one stacked scan, not five: exactly one parquet scan of lineitem in
    // the final plan (the AQE dump repeats it in the Initial Plan section)
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(finalPlan).size === 1,
      s"the stacked profile must read the table once:\n$plan")
    assert(plan.contains("partial"), s"expected map-side partial aggregation:\n$plan")
  }

  test("q_welch_t is one partial+final no-key aggregate over a single pushed-filter scan") {
    val plan = executedPlan("q_welch_t").split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(plan).size === 1, s"one scan:\n$plan")
    assert(plan.contains("partial"), s"map-side partial aggregation:\n$plan")
    assert(plan.contains("PushedFilters: [In(event_type"),
      s"the group filter must reach the scan:\n$plan")
  }

  test("q_bucketed_join joins the two bucket layouts with NO exchange on the join key") {
    val plan = executedPlan("q_bucketed_join").split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin"), s"expected the co-located merge join:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"both scans must read the stored bucket layout:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(o_custkey")
      && !plan.contains("Exchange hashpartitioning(c_custkey"),
      s"the join must ride the bucket layout, not re-shuffle:\n$plan")
  }

  test("q_dedup_incremental reads both signature stores bucketed; only delta-side exchanges") {
    // formatted mode: the deep simple-mode toString elides the scan
    // metadata carrying the Bucketed flag
    val df = Registry.byName("q_dedup_incremental").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // both store scans ride the stored bucket layout...
    assert("Bucketed: true".r.findAllIn(plan).size >= 2,
      s"both store scans must read the bucket layout:\n$plan")
    assert(plan.contains("SelectedBucketsCount: 8 out of 8"), plan)
    // ...and are never demoted (the planner flags a bucketed scan it
    // re-shuffles as "Bucketed: false (disabled by query planner)" —
    // absence of the demotion IS the zero-store-side-exchange claim)
    assert(!plan.contains("Bucketed: false"),
      s"a store scan was demoted to a shuffled read:\n$plan")
    // every exchange keyed on h hashes the DELTA relation (d, h) into
    // the store buckets — the base corpus is never re-shuffled (cached
    // subtrees print per consumer, so counting matches would be brittle)
    val exch = ("(?s)\\(\\d+\\) Exchange[^\\n]*\\nInput[^\\n]*: \\[([a-z_]+)#" +
      "[^\\n]*\\]\\s*\\nArguments: hashpartitioning\\(([a-z_]+)#").r
    for (m <- exch.findAllMatchIn(plan) if m.group(2) == "h")
      assert(m.group(1) == "d",
        s"an h-keyed exchange hashes a non-delta relation (${m.group(1)}):\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_hll_merge builds registers with partial aggregation and no cartesian beyond the 1-row span") {
    val plan = executedPlan("q_hll_merge")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"register MAX must partial-aggregate map-side:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row date span must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_bloom_incremental probes against a broadcast bit set, no sort-merge on positions") {
    val plan = executedPlan("q_bloom_incremental")
    assert(plan.contains("BroadcastHashJoin"),
      s"the ≤4096-row bit set must broadcast to the probe side:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_bottomk_sample takes per-vintage bottom-32 via TakeOrdered heads (no global sort)") {
    val plan = executedPlan("q_bottomk_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      s"bottom-k must plan as a per-partition top-k merge:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_cms_merge probes the broadcast merged sketch, word census partial-aggregates") {
    val plan = executedPlan("q_cms_merge")
    assert(plan.contains("BroadcastHashJoin"),
      s"the ≤2048-row merged counter relation must broadcast to the probe side:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"the counter census must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_quantile_merge broadcasts the 1-row span, histograms partial-aggregate, no cartesian") {
    val plan = executedPlan("q_quantile_merge")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row corpus span must broadcast:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"the bucket census must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_quantile_merge runs NO window — both cumulative arms are distributed prefix sums") {
    // VERDICT r11 task 6: the exact-yardstick arm used to cumulate via a
    // vintage-partitioned window (one task per vintage over all distinct
    // cents); both arms now ride functions.Prefix (range repartition +
    // broadcast offsets), so no WindowExec of any kind may appear
    val plan = executedPlan("q_quantile_merge")
    assert(!plan.contains("Window"),
      s"q_quantile_merge must not contain a window operator:\n$plan")
    Caches.releaseAll()
  }

  test("q_weighted_sample takes per-vintage bottom-16 via TakeOrdered heads (no global sort)") {
    val plan = executedPlan("q_weighted_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      s"bottom-k by priority must plan as a per-partition top-k merge:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_hll_precision_sweep: all three register funnels partial-aggregate off one cached pass") {
    val plan = executedPlan("q_hll_precision_sweep")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_bloom_fpr_sweep: per-arm bit sets broadcast to the probe side") {
    val plan = executedPlan("q_bloom_fpr_sweep")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_cms_width_sweep: per-arm sketches broadcast to the 40-row probe set") {
    val plan = executedPlan("q_cms_width_sweep")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_multiprobe_lsh broadcasts the 5-key probe set; candidates join the bucketed scan") {
    val plan = executedPlan("q_multiprobe_lsh")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 5-row probe-key set must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"only the 1-row probe may cross:\n$plan")
    Caches.releaseAll()
  }

  test("q_winnowing selects fingerprints in ONE lag/lead window pass, no explode, no self-join") {
    val plan = executedPlan("q_winnowing")
    assert(plan.contains("Window"),
      s"the rightmost-min test must be a per-doc window pass:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"the fingerprint census must partial-aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_rouge_pair fans LSH-bounded candidates over the gram census, partial-aggregated") {
    val plan = executedPlan("q_rouge_pair")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(plan).nonEmpty, plan)
    assert(!plan.contains("CartesianProduct"),
      s"pair metrics must ride the LSH candidate set, never all-pairs:\n$plan")
    Caches.releaseAll()
  }

  test("q_edit_distance joins texts onto the LSH candidate set, never all-pairs") {
    val plan = executedPlan("q_edit_distance")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("levenshtein"), plan)
    Caches.releaseAll()
  }

  test("q_store_append reads the GROWN store bucketed (append preserved the layout), undemoted") {
    val df = Registry.byName("q_store_append").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("Bucketed: true"),
      s"the grown store scan must ride the stored bucket layout:\n$plan")
    assert(plan.contains("SelectedBucketsCount: 8 out of 8"), plan)
    assert(!plan.contains("Bucketed: false"),
      s"the grown store scan was demoted to a shuffled read — the append broke the layout:\n$plan")
    Caches.releaseAll()
  }

  test("q_theta_diff anti-joins the 128-row samples, TakeOrdered heads, no cartesian blowup") {
    val plan = executedPlan("q_theta_diff")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("LeftAnti"), s"A-not-B needs the sample anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_theta_sketch builds samples via TakeOrdered heads, no cartesian beyond 1-row scalars") {
    val plan = executedPlan("q_theta_sketch")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the bottom-128 samples must plan as per-partition top-k merges:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_cdc_chunking windows per document and partial-aggregates the chunk census") {
    val plan = executedPlan("q_cdc_chunking")
    assert(plan.contains("Window"), s"the running chunk-id needs a per-doc window:\n$plan")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(plan).nonEmpty, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_keyword_extract ranks over the vocabulary-bounded scored relation") {
    val plan = executedPlan("q_keyword_extract")
    assert(plan.contains("Window"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"tf census must partial-aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_tpch_q1 is one join-free partial+final aggregate over the pushed shipdate slice") {
    val plan = executedPlan("q_tpch_q1")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"the 6-cell rollup must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("Join"), s"Q1 has no join:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"the shipdate cut must reach the parquet scan:\n$plan")
    Caches.releaseAll()
  }

  test("q_tpch_q2 broadcasts dimensions and the min-per-part re-join, no cartesian") {
    val plan = executedPlan("q_tpch_q2")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_tpch_q4 plans the late-witness EXISTS as a semi join") {
    val plan = executedPlan("q_tpch_q4")
    assert(plan.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_tpch_q9 broadcasts part and supplier dimensions into the fact chain") {
    val plan = executedPlan("q_tpch_q9")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"part and supplier+nation must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_tpch_q11 joins the 1-row grand total back as a broadcast") {
    val plan = executedPlan("q_tpch_q11")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row total must broadcast:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    Caches.releaseAll()
  }

  test("q_tpch_q12 is one equi-join plus one partial+final CASE census") {
    val plan = executedPlan("q_tpch_q12")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_tpch_q16 anti-joins the broadcast exclusion set off the distinct bridge") {
    val plan = executedPlan("q_tpch_q16")
    assert(plan.contains("LeftAnti"), s"NOT IN must plan as an anti join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_tpch_q20 semi-joins the excess-shipment winners into the nation dimension") {
    val plan = executedPlan("q_tpch_q20")
    assert(plan.contains("LeftSemi"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    Caches.releaseAll()
  }

  test("q_tpch_q21 reformulation: one orderkey shuffle, no lineitem self-join, top-k head") {
    val plan = executedPlan("q_tpch_q21")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the spec's exists/not-exists would need 3 lineitem scans; the census needs 1
    assert("lineitem".r.findAllIn(plan).size <= 2,
      s"the per-order census must scan lineitem once (plan may name it in scan+filter):\n$plan")
    Caches.releaseAll()
  }

  test("q_span_coverage joins the two pair sets without a cartesian, windows pair-partitioned") {
    val plan = executedPlan("q_span_coverage")
    assert(!plan.contains("CartesianProduct"), plan)
    val specs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val parted = "windowspecdefinition\\(doc_a".r.findAllIn(plan).size
    assert(specs > 0 && specs == parted,
      s"both detectors' run-merges must partition by the pair:\n$plan")
    Caches.releaseAll()
  }

  test("q_bpe_encode is one scan with literal replaces and a partial+final source aggregate") {
    val plan = executedPlan("q_bpe_encode")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"per-source sums must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"encoding is a pure projection chain, no joins:\n$plan")
    Caches.releaseAll()
  }

  test("q_kmeans_train's per-round assignments broadcast the k centroids and persist once") {
    // the assignment primitive every round reuses: the k-row centroid
    // table must BROADCAST into the scoring scan (never shuffle the
    // embeddings against it) — probed directly, the kcore-probe style
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = graft.operators.KMeans.train(spark, dir, k = 8, iters = 0)
    val a = graft.operators.KMeans.assign(e, cents)
    a.collect()
    val aPlan = a.queryExecution.executedPlan.toString
    assert(aPlan.contains("BroadcastNestedLoopJoin") || aPlan.contains("BroadcastHashJoin"),
      s"centroids must broadcast:\n$aPlan")
    // the declared loop: the three rounds' assignments are persisted —
    // the final census reads caches, it does not replay the scoring
    // crossJoin per consumer (the moved join between consecutive cached
    // assignments is vec_id-keyed and may legitimately shuffle)
    val plan = executedPlan("q_kmeans_train")
    assert(plan.contains("InMemoryTableScan"), s"assignments not persisted:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_cluster_profile joins docs without a cartesian, majority window cluster-partitioned") {
    val plan = executedPlan("q_cluster_profile")
    assert(!plan.contains("CartesianProduct"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"per-(cluster,lang) counts must partial-aggregate:\n$plan")
    // every window is key-partitioned: the assignment rank by vec_id, the
    // majority rank by cluster — never an unpartitioned global window
    val specs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val parted = "windowspecdefinition\\((cluster|vec_id)".r.findAllIn(plan).size
    assert(specs > 0 && specs == parted,
      s"all windows must be key-partitioned:\n$plan")
    Caches.releaseAll()
  }

  test("q_audio_phash hashes in the codec seam, buckets without joins, bounded head") {
    val plan = executedPlan("q_audio_phash")
    assert(plan.contains("MapPartitions"),
      s"the codec+hash must run partition-wise:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-10 bucket head must not global-sort:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q_video_phash hashes in the codec seam, buckets without joins, bounded head") {
    val plan = executedPlan("q_video_phash")
    assert(plan.contains("MapPartitions"),
      s"the codec+hash must run partition-wise:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-10 bucket head must not global-sort:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q_label_prop census reads the persisted labels, histogram partial-aggregates") {
    val plan = executedPlan("q_label_prop")
    // the two voting rounds ran in their own jobs against the dst-pinned
    // edge cache; the declared census must read the persisted label table
    assert(plan.contains("InMemoryTableScan"), s"labels not persisted:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    val cut = plan.indexOf("InMemoryRelation")
    val live = if (cut < 0) plan else plan.substring(0, cut)
    assert("HashAggregate".r.findAllIn(live).size >= 2,
      s"size histogram must partial-aggregate:\n$plan")
    Caches.releaseAll()
  }

  test("q_ivf_pq routes then quantizes: top-k heads, no cartesian") {
    val plan = executedPlan("q_ivf_pq")
    // the ADC shortlist and the two exact top-10s must be per-partition
    // top-k merges, never global sorts
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k heads:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_schema_drift profiles both vintages off one stacked scan") {
    val plan = executedPlan("q_schema_drift").split("== Initial Plan ==").head
    // one scan for the 1-row date span + ONE for the stacked relation —
    // never one scan per profiled column
    assert("Scan parquet".r.findAllIn(plan).size <= 2,
      s"stacked profile must not scan per column:\n$plan")
    assert(plan.contains("Generate stack"), s"expected the stack generator:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_scd2 reconstructs versions under one user_id shuffle") {
    val plan = executedPlan("q_scd2").split("== Initial Plan ==").head
    // both windows partition on user_id and share one ordering: one
    // exchange, per-partition sorts — never an adjacency self-join
    assert(plan.contains("hashpartitioning(user_id"),
      s"windows must partition on user_id:\n$plan")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      s"the two windows must share one user_id exchange:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q_bbit_minhash reuses one persisted signature pass, no cartesian") {
    val plan = executedPlan("q_bbit_minhash")
    // sigs feed the banded candidate join AND both per-pair match sides;
    // sh feeds the exact-intersection joins — all through the caches
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 3,
      s"signature/shingle passes not cache-reused:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_zorder_locality is one scan + value-based chunking (no window, no sample)") {
    val plan = executedPlan("q_zorder_locality").split("== Initial Plan ==").head
    // bucketing and Morton chunking are pure projections over one scan
    // (the maxima are a second, 1-row-agg scan); a Window or Sample here
    // would mean the layout assignment stopped being value-based
    assert("Scan parquet".r.findAllIn(plan).size <= 2,
      s"expected the stacked scan + maxima scan only:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Sample"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_incremental_agg partial-aggregates both maintenance paths") {
    val plan = executedPlan("q_incremental_agg").split("== Initial Plan ==").head
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"base/delta and full paths must both partial-aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_skew_audit stacks the key streams off one scan, two-level aggregate") {
    val plan = executedPlan("q_skew_audit").split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"the three key streams must stack off one scan:\n$plan")
    assert(plan.contains("Generate stack"), s"expected the stack generator:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 3,
      s"per-key count must map-side combine before the rollup:\n$plan")
  }

  test("q_stupid_backoff left-joins the census tables, never a cartesian on tokens") {
    val plan = executedPlan("q_stupid_backoff").split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"), plan)
    // the held-out scoring must be equi-joins against the bigram/unigram
    // censuses; the only nested-loop is the 1-row broadcast N
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"expected equi joins on the census keys:\n$plan")
  }

  test("q_kanon_audit rolls the QI classes up with partial aggregation") {
    val plan = executedPlan("q_kanon_audit").split("== Initial Plan ==").head
    assert("HashAggregate".r.findAllIn(plan).size >= 3,
      s"QI census + tier rollup must partial-aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_neyman_alloc is one scan + 5-group aggregate + broadcast total") {
    val plan = executedPlan("q_neyman_alloc").split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(plan).size == 1, s"one scan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"expected the broadcast weight total:\n$plan")
  }

  test("q_dedup_survivorship joins the keeper on the content hash, no cartesian") {
    val plan = executedPlan("q_dedup_survivorship").split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"expected the content-hash keeper equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_burstiness takes the top-20 words without a global sort") {
    val plan = executedPlan("q_burstiness").split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k head:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"(doc,word) count and per-word moments must partial-aggregate:\n$plan")
  }

  test("q_mutual_info rolls the persisted contingency table up, 1-row output") {
    val plan = executedPlan("q_mutual_info")
    assert(plan.contains("InMemoryTableScan"),
      s"the (source, lang) contingency count must be computed once:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_modularity reads persisted labels, never a cartesian on the edge joins") {
    val plan = executedPlan("q_modularity")
    assert(plan.contains("InMemoryTableScan"), s"labels not persisted:\n$plan")
    // the only nested-loop joins are the three 1-row scalar composes
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_bfs_levels reads the cached frontier/visited sets, census partial-aggregates") {
    val plan = executedPlan("q_bfs_levels")
    // hop expansion ran in its own jobs against the src-pinned edge cache;
    // the declared census must read persisted level sets
    assert(plan.contains("InMemoryTableScan"), s"visited set not persisted:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    val cut = plan.indexOf("InMemoryRelation")
    val live = if (cut < 0) plan else plan.substring(0, cut)
    assert("HashAggregate".r.findAllIn(live).size >= 2,
      s"census must partial-aggregate:\n$plan")
    Caches.releaseAll()
  }

  test("q_ann_incremental reads the persisted LSH index bucketed; only probe-side exchanges") {
    val df = Registry.byName("q_ann_incremental").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the index scan rides the stored bucket layout...
    assert(plan.contains("Bucketed: true"),
      s"the index scan must read the bucket layout:\n$plan")
    assert(plan.contains("SelectedBucketsCount: 8 out of 8"), plan)
    // ...and is never demoted to a shuffled read
    assert(!plan.contains("Bucketed: false"),
      s"the index scan was demoted to a shuffled read:\n$plan")
    // every bk-keyed exchange hashes the PROBE relation (pid, bk, pe)
    // into the store buckets — the index is never re-shuffled
    val exch = ("(?s)\\(\\d+\\) Exchange[^\\n]*\\nInput[^\\n]*: \\[([a-z_]+)#" +
      "[^\\n]*\\]\\s*\\nArguments: hashpartitioning\\(([a-z_]+)#").r
    for (m <- exch.findAllMatchIn(plan) if m.group(2) == "bk")
      assert(m.group(1) == "pid",
        s"a bk-keyed exchange hashes a non-probe relation (${m.group(1)}):\n$plan")
    // the only nested-loop join is the bounded ground-truth arm's
    // broadcast of ≤5 probes — never an unbounded cartesian
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_ann_store_append reads the GROWN index bucketed (append preserved the layout), undemoted") {
    val df = Registry.byName("q_ann_store_append").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("Bucketed: true"),
      s"the grown index scan must read the bucket layout:\n$plan")
    assert(plan.contains("SelectedBucketsCount: 8 out of 8"), plan)
    assert(!plan.contains("Bucketed: false"),
      s"the grown index scan was demoted to a shuffled read:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_ivf_store prunes the partitioned index to the routed clusters (PartitionFilters)") {
    val df = Registry.byName("q_ivf_store").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the probe reads only the routed clusters' partitions: the store
    // scan must carry a static cluster IN (...) partition filter
    val scan = plan.split("\n").filter(_.contains("PartitionFilters"))
    assert(scan.exists(l => l.contains("cluster") && l.contains("IN")),
      s"the index scan must partition-prune on the routed clusters:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-10 must be a TakeOrdered head:\n$plan")
    Caches.releaseAll()
  }

  test("q_ivf_store_append prunes the GROWN partitioned index to the routed clusters") {
    val df = Registry.byName("q_ivf_store_append").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scan = plan.split("\n").filter(_.contains("PartitionFilters"))
    assert(scan.exists(l => l.contains("cluster") && l.contains("IN")),
      s"the grown index scan must partition-prune on the routed clusters:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-10 must be a TakeOrdered head:\n$plan")
    Caches.releaseAll()
  }

  test("q_hll_store reads the persisted register table; register MAX partial-aggregates") {
    val df = Registry.byName("q_hll_store").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the day1/day2/today arms read the external store table, not the corpus
    assert(plan.contains("g_hll_store"),
      s"the persisted register store must be scanned:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"register MAX must partial-aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_grouped_median windows partition by the high-cardinality custkey, one shuffle") {
    val df = Registry.byName("q_grouped_median").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // both window passes and the final aggregate share the custkey
    // partitioning: exactly one hashpartitioning exchange on o_custkey
    // feeds them (plus the range exchange for the output ORDER BY)
    assert(plan.contains("Window"), s"expected the grouped cumulative window:\n$plan")
    val hashEx = "hashpartitioning\\(o_custkey".r.findAllIn(plan).size
    assert(hashEx >= 1, s"the window must partition by o_custkey:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"no stage may collapse to one partition:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_triangle_store probes the bucketed adjacency arrays; census read, not recomputed") {
    val df = Registry.byName("q_triangle_store").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("g_tri_adj"),
      s"the persisted adjacency store must be scanned:\n$plan")
    assert(plan.contains("g_tri_census"),
      s"the persisted census must be read (not recomputed):\n$plan")
    // the incremental channels probe sorted-adjacency ARRAYS (intersect/
    // contains) instead of shuffling raw wedge rows
    assert(plan.contains("array_intersect") && plan.contains("array_contains"),
      s"channels must run as array probes:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_session_store reads the per-user state store; today's pass never scans pre-cut events") {
    val df = Registry.byName("q_session_store").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("g_session_store"),
      s"the persisted session-state store must be scanned:\n$plan")
    // the only events scans in the live plan carry the today-side
    // pushed filter (ts >= cut) — yesterday's events are never re-read
    val scans = plan.split("\n").filter(l =>
      l.contains("events.parquet") && l.contains("PushedFilters"))
    assert(scans.nonEmpty && scans.forall(_.contains("GreaterThanOrEqual(ts")),
      s"every events scan must push the today-side cut:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_bloom_store probes the grown persisted bit set via broadcast, no sort-merge on positions") {
    val df = Registry.byName("q_bloom_store").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("g_bloom_store"),
      s"the persisted bit store must be scanned:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"probes must join the broadcast grown bit set:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_quantile_store reads the persisted histogram; no window, bounded self-join cumulative") {
    val df = Registry.byName("q_quantile_store").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("g_quantile_store"),
      s"the persisted histogram store must be scanned:\n$plan")
    assert(!plan.contains("Window"),
      s"the grid-bounded cumulative must not use a window:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_cms_store reads the persisted counter table; probes join a broadcast sketch") {
    val df = Registry.byName("q_cms_store").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("g_cms_store"),
      s"the persisted counter store must be scanned:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 40-key probe must join a broadcast sketch:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_store_delete: BOTH store scans (pre and post-delete) stay bucketed, undemoted") {
    val df = Registry.byName("q_store_delete").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("Bucketed: true".r.findAllIn(plan).size >= 2,
      s"the pre- and post-delete stores must both read their bucket layout:\n$plan")
    assert(plan.contains("SelectedBucketsCount: 8 out of 8"), plan)
    assert(!plan.contains("Bucketed: false"),
      s"a store scan was demoted — the delete rewrite broke the layout:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_session_expire reads the TTL-evicted store; today's pass never scans pre-cut events") {
    val df = Registry.byName("q_session_expire").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("g_sess_ttl_live"),
      s"the evicted session-state store must be scanned:\n$plan")
    val scans = plan.split("\n").filter(l =>
      l.contains("events.parquet") && l.contains("PushedFilters"))
    assert(scans.nonEmpty && scans.forall(_.contains("GreaterThanOrEqual(ts")),
      s"every events scan must push the today-side cut:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_store_compact: the COMPACTED scan stays bucketed and undemoted next to the grown scan") {
    val df = Registry.byName("q_store_compact").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("graft_anncompact"),
      s"the compacted store must be scanned:\n$plan")
    assert("Bucketed: true".r.findAllIn(plan).size >= 2,
      s"both the grown and compacted stores must read their bucket layout:\n$plan")
    assert(!plan.contains("Bucketed: false"),
      s"a store scan was demoted — compaction broke the layout:\n$plan")
    Caches.releaseAll()
  }

  test("q_corpus_incremental: both corpus stores read bucketed, undemoted; delta-only live cost") {
    val df = Registry.byName("q_corpus_incremental").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("g_corpus_h") && plan.contains("g_corpus_bands"),
      s"both persisted corpus stores must be scanned:\n$plan")
    assert("Bucketed: true".r.findAllIn(plan).size >= 2,
      s"both store scans must ride their bucket layouts:\n$plan")
    assert(!plan.contains("Bucketed: false"),
      s"a store scan was demoted to a shuffled read:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_ann_delete: BOTH store scans (pre and post-delete) stay bucketed, undemoted") {
    val df = Registry.byName("q_ann_delete").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("graft_anndel"),
      s"the post-delete store must be scanned:\n$plan")
    assert("Bucketed: true".r.findAllIn(plan).size >= 2,
      s"the pre- and post-delete stores must both read their bucket layout:\n$plan")
    assert(!plan.contains("Bucketed: false"),
      s"a store scan was demoted — the delete rewrite broke the layout:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_ivf_delete: the post-delete probe still rides the pruned cluster IN (...) PartitionFilter") {
    val df = Registry.byName("q_ivf_delete").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("g_ivfdel"),
      s"the mutated store must be scanned live for the post phase:\n$plan")
    val scan = plan.split("\n").filter(_.contains("PartitionFilters"))
    assert(scan.exists(l => l.contains("cluster") && l.contains("IN")),
      s"the post-delete scan must partition-prune on the routed clusters:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-10 must be a TakeOrdered head:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_sketch_expire: post-drop store reads scan ONLY retained vintage directories") {
    val df = Registry.byName("q_sketch_expire").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("g_exp_"),
      s"the expired stores must be scanned:\n$plan")
    assert(!plan.contains("vintage=base"),
      s"a post-drop read still lists the expired vintage's files:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_store_lifecycle: BOTH end-state scans (grown ladder and compacted) stay bucketed, undemoted") {
    val df = Registry.byName("q_store_lifecycle").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("g_lc_store") && plan.contains("g_lc_compact"),
      s"both the laddered and compacted stores must be scanned:\n$plan")
    assert("Bucketed: true".r.findAllIn(plan).size >= 2,
      s"the probe must ride the bucket layout at every rung:\n$plan")
    assert(!plan.contains("Bucketed: false"),
      s"a store scan was demoted — a lifecycle verb broke the layout:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_clustering_approx: no cartesian anywhere; capped neighborhoods via per-center rank window; closure is an equi-join") {
    val df = Registry.byName("q_clustering_approx").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"the estimator must never materialize an all-pairs relation:\n$plan")
    assert(plan.contains("Window"),
      s"the neighbor cap must be a per-center rank window:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"the closure test must be an equi-join against the edge set:\n$plan")
    Caches.releaseAll()
  }

  test("q_ann_expire: the post-expire probe stays bucketed, undemoted, and never lists the expired vintage") {
    val df = Registry.byName("q_ann_expire").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("g_ann_exp"),
      s"the expired store must be scanned live for the post phase:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"the post-expire probe must ride the bucket layout:\n$plan")
    assert(!plan.contains("Bucketed: false"),
      s"the store scan was demoted — the vintage drop broke the layout:\n$plan")
    assert(!plan.contains("vintage=base"),
      s"a post-expire read still lists the expired vintage's files:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_ivf_expire: the post-expire routed probe keeps its cluster IN (...) PartitionFilter") {
    val df = Registry.byName("q_ivf_expire").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("g_ivf_exp"),
      s"the expired store must be scanned live for the post phase:\n$plan")
    val scan = plan.split("\n").filter(_.contains("PartitionFilters"))
    assert(scan.exists(l => l.contains("cluster") && l.contains("IN")),
      s"the post-expire scan must partition-prune on the routed clusters:\n$plan")
    assert(!plan.contains("vintage=base"),
      s"a post-expire read still lists the expired vintage's files:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_corpus_delete: pre+post store scans stay bucketed; post band = ingest bands minus tombstones") {
    val df = Registry.byName("q_corpus_delete").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // r17 store shape: pre phase reads (g_corpus_h, g_corpus_bands);
    // post phase reads the refcount-purged g_cdel_h and g_corpus_bands
    // MINUS the g_cdel_tomb tombstones (no post band rewrite exists)
    assert(plan.contains("g_corpus_h") && plan.contains("g_corpus_bands") &&
      plan.contains("g_cdel_h") && plan.contains("g_cdel_tomb"),
      s"pre and post funnels must read their own store relations:\n$plan")
    assert(!plan.contains("g_cdel_bands"),
      s"the purge must not rewrite a band store — tombstones only:\n$plan")
    assert("Bucketed: true".r.findAllIn(plan).size >= 4,
      s"hash stores and both band-store reads must ride bucket layouts:\n$plan")
    assert(!plan.contains("Bucketed: false"),
      s"a store scan was demoted — the tombstone anti-join broke a layout:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    Caches.releaseAll()
  }

  test("q_ivf_drift: every arm is broadcast-bounded (no cartesian), ranked by per-probe windows") {
    val df = Registry.byName("q_ivf_drift").build(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"assignment/router/ground-truth must broadcast their bounded sides:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the k=10 centroid relation and ≤5-probe relation must broadcast:\n$plan")
    assert(plan.contains("Window"),
      s"top-k selection must be per-probe rank windows:\n$plan")
    Caches.releaseAll()
  }

  test("r16/r17 pin: Ranks.withGlobalRowNumber consumers stay whole-stage " +
    "codegen — no Scan ExistingRDD anywhere in their plans") {
    // The r16 rewrite replaced the two .rdd passes with a pure
    // monotonically_increasing_id projection; a regression to the RDD
    // form re-plans the downstream over an opaque LogicalRDD (no column
    // pruning into the cache) and must fail HERE, not in a bench window
    // (VERDICT r16 task 6).
    // q_winsorize / q_mad_outlier / q_percentile ride exactPercentiles,
    // which stays on the withGlobalRowNumber form (r17 measured NEGATIVE
    // result: a histogram + Prefix-cumulative rewrite benched 0.81-0.89×
    // on the price-domain consumers in matched quiet windows — the
    // value domain doesn't collapse, and the Prefix RDD boundary cost
    // more than the saved cache; only quantity-domain q_percentile
    // gained, 1.09×). They are therefore pinned codegen-pure too.
    for (id <- Seq("q_decile_stats", "q_curriculum", "q_percentile_rank",
        "q_ccnet_bucket", "q_winsorize", "q_mad_outlier", "q_percentile")) {
      val df = Registry.byName(id).build(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("ExistingRDD"),
        s"$id regressed to an RDD boundary:\n$plan")
      Caches.releaseAll()
    }
  }
}
