package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the 100 TB design contract (SURVEY §4.2):
  * pushdown reaches the parquet scan, dimensions broadcast, top-k avoids
  * a global sort, whole-stage codegen covers the hot paths.
  */
class PlanSpec extends AnyFunSuite {
  import SparkFixture._

  private def plan(key: String): String =
    SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan.toString

  test("scan_parquet_pushdown pushes filters and prunes columns") {
    val p = plan("scan_parquet_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") || p.contains("PushedFilters: [IsNotNull(l_quantity)"),
      s"no pushed filters in:\n$p")
    assert(!p.contains("l_extendedprice"), "ReadSchema not pruned: reads l_extendedprice")
  }

  test("join_broadcast_dim plans broadcast hash joins, not shuffles") {
    val p = plan("join_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin in:\n$p")
  }

  test("join_smj_facts honors the MERGE hint") {
    assert(plan("join_smj_facts").contains("SortMergeJoin"))
  }

  test("join_shuffle_hash honors the SHUFFLE_HASH hint") {
    assert(plan("join_shuffle_hash").contains("ShuffledHashJoin"))
  }

  test("topk_global is TakeOrderedAndProject (no global sort)") {
    val p = plan("topk_global")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject in:\n$p")
  }

  test("join_bucketed_colocated joins without shuffling its inputs") {
    val p = plan("join_bucketed_colocated")
    assert(p.contains("SortMergeJoin"), s"expected SMJ in:\n$p")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey")
      && !p.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle its inputs:\n$p")
  }

  test("sql_tpch_q3 top-10 is TakeOrderedAndProject over broadcast joins") {
    val p = plan("sql_tpch_q3")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject in:\n$p")
  }

  test("flagship agg is a two-phase hash aggregate with codegen") {
    val df = SparkEntry.queries("agg_daily_counts")(spark, sf)
    df.collect() // finalize the AQE plan so codegen spans are visible
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"))
    // WholeStageCodegen spans print as "*(n)" in the final AQE plan.
    assert(p.contains("*("), s"no codegen span in:\n$p")
  }

  test("events scan reads only needed columns for agg_daily_counts") {
    val p = plan("agg_daily_counts")
    assert(!p.contains("props"), "agg_daily_counts should not read the props column")
  }

  test("no unintended cartesian products anywhere in the inventory") {
    // The only acceptable nested-loop shape is a broadcast of a 1-row
    // probe (sim_* / expr_cosine); a CartesianProduct node is always a
    // scale bug.
    SparkEntry.queries.foreach { case (name, fn) =>
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      val ok = name == "join_cross_small" // region×nation: intentional, 125 rows
      withClue(name)(assert(ok || !p.contains("CartesianProduct"),
        s"unexpected CartesianProduct in $name"))
    }
  }

  test("bernoulli sampling is a single map stage: no exchange at all") {
    val p = plan("sample_hash_bernoulli")
    assert(!p.contains("Exchange"), s"bernoulli sample must not shuffle:\n$p")
  }

  test("stratified sampling caps rows per stratum before the shuffle") {
    val p = plan("sample_stratified")
    assert(p.contains("WindowGroupLimit"),
      s"expected rank-limit pushdown (WindowGroupLimit) in:\n$p")
  }

  test("tfidf broadcasts the vocabulary side") {
    val p = plan("text_tfidf")
    assert(p.contains("BroadcastHashJoin"), s"df join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "vocab join must not sort-merge")
  }

  test("pii scrub and histogram binning are map-side projections") {
    assert(!plan("text_pii_scrub").contains("Exchange"),
      "pii scrub must be shuffle-free")
    val h = plan("agg_histogram")
    assert(h.contains("partial_count"), "histogram must partial-aggregate map-side")
  }

  test("fn_json parses each row's JSON exactly once") {
    // Both output columns derive from one aliased from_json; CollapseProject
    // must NOT inline the non-cheap JsonToStructs into each consumer (that
    // was the r5 two-parse form — the slowest bench key at 2.65 s).
    val p = plan("fn_json")
    val parses = "from_json".r.findAllIn(p).length
    assert(parses == 1, s"expected exactly one JSON parse, got $parses in:\n$p")
  }

  test("dedup candidate joins shuffle on short keys, not document text") {
    val p = plan("dedup_ngram_jaccard")
    assert(!p.toLowerCase.contains("broadcastnestedloop"),
      "jaccard pair generation must be an equi-join on shingle code")
    val p2 = plan("dedup_near_minhash")
    assert(!p2.toLowerCase.contains("broadcastnestedloop"),
      "minhash candidate generation must be an equi-join on band key")
  }

  /** The executed plans of every query a key runs: those its build runs
    * (dedup_cluster_cc's label loop) and its own, executed to a noop sink.
    */
  private def plansRun(key: String): String = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(key)(spark, sf).write.format("noop").mode("overwrite").save()
      org.apache.spark.graftspec.SparkAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray.mkString("\n")
  }

  test("dedup confirm steps count the overlap with sorted_intersect_size") {
    Seq("dedup_ngram_jaccard", "dedup_ngram_capped", "dedup_cluster_cc",
        "dedup_near_minhash").foreach { key =>
      val p = plansRun(key)
      withClue(key) {
        assert(p.contains("sorted_intersect_size"), s"no merge-count kernel in:\n$p")
        assert(!p.contains("array_intersect"), s"hash-set intersect in:\n$p")
      }
    }
    // Its arrays are not sorted, so this key keeps the generic function.
    assert(plansRun("fn_array_setops").contains("array_intersect"))
  }

  test("sql_tpch_q17 decorrelates the scalar subquery into one aggregate") {
    // The per-part avg must run as ONE aggregate + join (the decorrelated
    // shape), never a per-outer-row subplan: no nested-loop join, and the
    // avg appears in a hash aggregate feeding an equi-join.
    val p = plan("sql_tpch_q17")
    assert(!p.toLowerCase.contains("broadcastnestedloop"),
      "correlated scalar subquery must decorrelate to an equi-join")
    assert(p.contains("avg(l_quantity"),
      s"expected a decorrelated avg aggregate in:\n$p")
  }

  test("scan_dpp prunes fact partitions dynamically from the dim filter") {
    // The dim predicate (odd per-day count) is not a literal on the
    // partition column, so only DYNAMIC pruning can skip day directories:
    // the broadcast side's day set must appear in the fact scan's
    // PartitionFilters as a dynamicpruningexpression.
    val p = plan("scan_dpp").toLowerCase
    assert(p.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning in fact scan:\n$p")
  }

  test("win_range_numeric never plans a single-partition global window") {
    // r1-r6 shipped an unpartitioned RANGE window (WindowExec moves ALL
    // rows to one partition — the scale killer the bench WARN flagged);
    // the bucketed carry-in rewrite must keep every Window partitioned.
    val p = plan("win_range_numeric")
    assert(!p.contains("Window [") || !p.contains("windowspecdefinition(value"),
      "window must be partitioned by the value bucket")
    assert(p.contains("PARTITION BY") || p.contains("hashpartitioning(bkt"),
      s"expected bkt-partitioned window exchange in:\n$p")
  }

  test("sql_tpch_q18 plans the HAVING aggregate below a left-semi join") {
    // The IN-subquery must become a semi join whose build side is the
    // grouped order-volume aggregate (RewritePredicateSubquery) — never a
    // per-order correlated re-scan. The volume rollup itself must be a
    // two-phase hash agg over a 2-column lineitem read.
    val p = plan("sql_tpch_q18")
    assert(p.contains("LeftSemi"), s"expected a left-semi join in:\n$p")
    assert(p.contains("partial_sum(cast(l_quantity"),
      s"expected a partial (map-side) volume aggregate in:\n$p")
    assert(!p.toLowerCase.contains("broadcastnestedloop"),
      "IN-subquery must plan as an equi semi join")
  }

  test("sql_tpch_q21 decorrelates both subqueries into semi and anti joins") {
    // EXISTS → LeftSemi, NOT EXISTS → LeftAnti, both equi on l_orderkey
    // with the <> supplier residual as the join condition — stacked over
    // the same filtered lineitem leg, never a nested-loop per row.
    val p = plan("sql_tpch_q21")
    assert(p.contains("LeftSemi"), s"expected LeftSemi for EXISTS in:\n$p")
    assert(p.contains("LeftAnti"), s"expected LeftAnti for NOT EXISTS in:\n$p")
    assert(!p.toLowerCase.contains("broadcastnestedloop"),
      "correlated EXISTS/NOT EXISTS must decorrelate to equi joins")
    // The 'R'-flag pushdown must reach both the outer leg and the anti leg.
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"return-flag filter must push to the parquet scan:\n$p")
  }

  test("sql_tpch_q2 decorrelates the min-over-join scalar subquery") {
    // The correlated scalar subquery CONTAINS a join; it must still
    // decorrelate to an aggregate-over-join + equi join on p_partkey,
    // never a per-outer-row subplan.
    val p = plan("sql_tpch_q2")
    assert(!p.toLowerCase.contains("broadcastnestedloop"),
      "min-over-join subquery must decorrelate to equi joins")
    assert(p.contains("min(l_extendedprice"),
      s"expected a decorrelated min aggregate in:\n$p")
  }

  test("sql_tpch_q20 stacks both IN subqueries as semi joins") {
    // Inner IN (parts filter) → semi join under the volume aggregate;
    // outer IN (supplier filter) → semi join above it.
    val p = plan("sql_tpch_q20")
    assert("LeftSemi".r.findAllIn(p).size >= 2,
      s"expected two stacked left-semi joins in:\n$p")
    assert(!p.toLowerCase.contains("broadcastnestedloopjoin buildright, leftsemi"),
      "IN subqueries must plan as equi semi joins")
  }

  test("sql_tpch_q19 pushes per-side disjunctions below the join") {
    // Each OR branch mixes part and lineitem conjuncts; Catalyst must
    // extract the per-table disjunctions and push them into BOTH scans
    // (PushedFilters: [Or(...)]) — otherwise the 100 TB scan reads
    // everything and filters post-join.
    val p = plan("sql_tpch_q19")
    // Pushed filter lists open with IsNotNull(join key), so match the Or
    // anywhere inside a PushedFilters list (plan strings truncate long
    // lists — one scan's Or per line is still visible).
    val pushedOrs = "PushedFilters: \\[[^\\]\n]*Or\\(".r.findAllIn(p).size
    assert(pushedOrs >= 2,
      s"expected OR-filters pushed into both scans, found $pushedOrs in:\n$p")
  }

  test("sql_tpch_q22 evaluates the threshold as 1-row scalar subqueries") {
    // The whole-table count/sum must plan as scalar subqueries (computed
    // once, broadcast into the filter) and the NOT EXISTS as a LeftAnti
    // equi join — the only shapes that survive a 100 TB customer table.
    val p = plan("sql_tpch_q22")
    assert(p.contains("Subquery subquery"),
      s"expected uncorrelated scalar subqueries in:\n$p")
    assert(p.contains("LeftAnti"), s"expected LeftAnti for NOT EXISTS in:\n$p")
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // The 100 TB fact⨝fact path: when one side of a shuffle join carries a
    // selective filter, Spark injects a bloom filter built from the
    // filtered side into the other side's scan (runtime row-level
    // filtering) — rows that cannot match are dropped BEFORE the shuffle.
    // The size thresholds that gate it (creation ≤10MB, probe scan ≥10GB)
    // are tuned for clusters, so fixture-scale plans never trigger it;
    // lower them here to prove the plan shape is available to this
    // engine's joins at scale.
    val s = spark
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> util.Try(Option(s.conf.get(k))).toOption.flatten)
    try {
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val li = T.lineitem(s, sf)
      val sel = T.orders(s, sf).filter(org.apache.spark.sql.functions.col("o_totalprice") > 450000)
      val p = li.join(sel, li("l_orderkey") === sel("o_orderkey"))
        .groupBy(li("l_returnflag")).count()
        .queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("might_contain"),
        s"expected a runtime bloom filter (might_contain) on the probe scan:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  test("join_lateral_topn decorrelates the LATERAL LIMIT into a window") {
    // The correlated ORDER BY + LIMIT 2 subquery must become a row_number
    // window over an equi join (rn <= 2) — one shuffle on the join key —
    // never a per-outer-row subplan or nested loop.
    val p = plan("join_lateral_topn")
    assert(!p.toLowerCase.contains("broadcastnestedloop"),
      s"LATERAL must decorrelate to an equi join:\n$p")
    assert(p.contains("row_number") || p.contains("rn#"),
      s"expected a row_number window for the per-group LIMIT in:\n$p")
  }

  test("text_heavy_hitters never shuffles the raw token stream") {
    // Pass 1 output (MG survivors) and pass 2's candidate probe are the
    // only exchanges: the exploded token stream itself must reach its
    // hash agg through a BROADCAST candidate join, and the only hash
    // exchanges in the plan carry (token, count) pairs — never text.
    val p = plan("text_heavy_hitters")
    assert(p.contains("BroadcastHashJoin [token"),
      s"candidate probe must be a broadcast join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(text"),
      "document text must never shuffle")
    // Both passes scan only the text column.
    assert(!p.contains("doc_id"), "scans must prune to the text column")
  }
}
