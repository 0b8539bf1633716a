package graft.operators

import graft.{QueryModule, Staging, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join variants (SURVEY.md §2.3).
  *
  * The reference's only real join is the category roll-up — resolve a
  * small member list, join to the counts table, sum (`AskCommons.py` +
  * `FilePlaycount.py` [UNVERIFIED]); `join_broadcast_dim` is that shape.
  * The rest give engine parity across every join strategy Spark plans.
  *
  * Scale notes (100 TB):
  * - dimension joins broadcast explicitly (`broadcast()`) — no shuffle of
  *   the fact side;
  * - fact-fact joins shuffle on the join key once (MERGE hint pins SMJ,
  *   the spill-safe choice for large-large);
  * - the theta/band join is re-expressed as a bucketed EQUI-join (floor of
  *   time / band width, ±1 bucket explode) so it shuffles instead of
  *   falling into a broadcast-nested-loop cross product — the standard
  *   interval-bucketing trick for range joins at scale;
  * - the as-of join is a union + one window pass (single shuffle on
  *   user_id), not a per-row correlated lookup.
  */
object Joins extends QueryModule {
  import T._

  /** Per-part top-2 lineitems via correlated LATERAL + LIMIT, one SQL
    * text for BOTH engines.
    */
  private val lateralTopnSql: String = """
    SELECT p_brand, p_partkey, l.l_orderkey,
           round(l.l_extendedprice, 4) AS price
    FROM part p, LATERAL (
      SELECT l_orderkey, l_extendedprice FROM lineitem
      WHERE l_partkey = p.p_partkey
      ORDER BY l_extendedprice DESC, l_orderkey LIMIT 2) l
    WHERE p_brand IN ('Brand#12', 'Brand#23')"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Category roll-up analog: fact ⨝ broadcast dims, then aggregate.
    "join_broadcast_dim" -> ((s, d) => {
      customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), r4(sum(col("c_acctbal"))).as("sum_bal"))
    }),

    // Large-large sort-merge join on the shuffle key.
    // Revenue in exact integer cents² (the ExactMoney recipe): this
    // key's five priority groups each sum ~1/5 of the whole fact join —
    // the next-nearest giant-magnitude money sum after
    // agg_rollup/agg_cube in the r15 margin audit (ULP/quantum 1/128 at
    // ×64, crossing at ~×256). rowPrec 38, not the ≤8 fast path: the
    // cents×cents-complement product rows carry ~10 digits.
    "join_smj_facts" -> ((s, d) => {
      lineitem(s, d)
        .join(orders(s, d).hint("MERGE"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          ExactMoney.exactSum(
            ExactMoney.units(col("l_extendedprice"), 2)
              * (lit(100) - ExactMoney.units(col("l_discount"), 2)),
            38, 4).as("revenue"))
    }),

    // Same join, shuffled-hash strategy (no sort; build side hashed).
    "join_shuffle_hash" -> ((s, d) => {
      lineitem(s, d)
        .join(orders(s, d).hint("SHUFFLE_HASH"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"), r4(sum(col("l_quantity"))).as("sum_qty"))
    }),

    // Salted fact-dim equi-join: the manual skew fix for a hot join key
    // when the dim side is too big to broadcast outright. The fact side
    // salts its key with pmod(event_id, 8); the dim side replicates ×8
    // (one copy per salt) so every (key, salt) pair still matches — the
    // hot key's rows now spread over 8 reducers instead of one. Result is
    // identical to the plain join (the oracle computes it plain).
    "join_salted_skew" -> ((s, d) => {
      val salts = 8
      val fact = events(s, d)
        .select(col("user_id"), col("value"),
          pmod(col("event_id"), lit(salts)).as("salt"))
      val dim = customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
        .crossJoin(broadcast(
          s.range(0, salts).select(col("id").cast("int").as("salt"))))
      fact.join(dim,
          fact("user_id") === dim("c_custkey") && fact("salt") === dim("salt"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"), r4(sum(col("value"))).as("total_value"))
    }),

    // Customers with zero orders kept (left outer + count of non-nulls).
    "join_left_outer" -> ((s, d) => {
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
    }),

    // Full outer: event actors vs customer dimension — unmatched on both
    // sides survive with nulls.
    "join_full_outer" -> ((s, d) => {
      val a = events(s, d).groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      val b = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      a.join(b, a("user_id") === b("c_custkey"), "full")
        .select(coalesce(a("user_id"), b("c_custkey")).as("k"),
          col("n_events"), col("c_mktsegment"))
    }),

    // Membership test: customers having at least one urgent order (EXISTS).
    "join_semi" -> ((s, d) => {
      customer(s, d)
        .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),

    // Zero-fill gap detection: generated hour spine anti-joined against
    // observed error hours — "dates with no plays" in the reference API.
    "join_anti_zerofill" -> ((s, d) => {
      val spine = s.range(1).select(explode(sequence(
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        lit(java.sql.Timestamp.valueOf("2024-01-30 23:00:00")),
        expr("INTERVAL 1 HOUR"))).as("hour"))
      val seen = events(s, d).filter(col("event_type") === "error")
        .select(date_trunc("HOUR", col("ts")).as("hour")).distinct()
      spine.join(seen, Seq("hour"), "left_anti")
    }),

    // Band/theta join, bucketed: (purchase, error) pairs by the same user
    // within ±5 minutes. floor(ts/5min) bucket + ±1 neighbor explode turns
    // the range predicate into an equi-join; exact band filter after.
    "join_theta_range" -> ((s, d) => {
      val e = events(s, d).withColumn("us", unix_micros(col("ts")))
      val bandUs = 300L * 1000000L
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us").as("p_us"),
          explode(array(expr(s"us div $bandUs - 1"), expr(s"us div $bandUs"),
            expr(s"us div $bandUs + 1"))).as("bucket"))
      val err = e.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("us").as("e_us"),
          expr(s"us div $bandUs").as("e_bucket"))
      p.join(err, col("user_id") === col("e_user") && col("bucket") === col("e_bucket"))
        .filter(abs(col("p_us") - col("e_us")) <= bandUs)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_pairs"))
    }),

    // Correlated LATERAL subquery with LIMIT — per-part top-2 lineitems
    // through the SQL surface a reference user would write. Catalyst
    // decorrelates the correlated ORDER BY + LIMIT into a row_number
    // window over the join (rn <= 2 filter) — ONE shuffle on the join
    // key, never a per-outer-row subplan (plan-asserted: no nested loop).
    // Same text runs in DuckDB; the output order-by keys make the top-2
    // multiset deterministic under price ties (same orderkey+price rows
    // differ only in non-projected linenumber).
    "join_lateral_topn" -> ((s, d) => T.sql(s, d, lateralTopnSql)),

    // As-of join: each purchase → latest prior-or-equal click of the same
    // user (see asofLatest below — factored for the off-fixture tie
    // property test).
    "join_asof_latest" -> ((s, d) => {
      val e = events(s, d)
      asofLatest(
        e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts")),
        e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts")))
    }),

    "join_cross_small" -> ((s, d) => {
      region(s, d).select(col("r_name"))
        .crossJoin(nation(s, d).select(col("n_name")))
    }),

    // Bucketed co-located fact-fact join as a first-class key: both sides
    // bucketed+sorted on the join key at write time, so the SMJ consumes
    // bucket i ⨝ bucket i with ZERO exchange on the join keys (plan
    // asserted in BucketSpec). At 100 TB this is THE fact-fact join
    // design — the shuffle is paid once at layout time, then every join
    // on that key is exchange-free. The bucketed files are staged under
    // /tmp once per lineitem+orders fingerprint (Staging.once), and every
    // call re-registers them as external tables (metadata only), so a
    // regenerated fixture is restaged, never served stale. MERGE hint
    // keeps the bucket-aware SMJ even when one side would broadcast at
    // test scale.
    "join_bucketed_colocated" -> ((s, d) => {
      val tag = Staging.tag(d)
      val base = s"/tmp/graft_buckets_$tag"
      val lt = s"li_bkt_$tag"; val ot = s"ord_bkt_$tag"
      // (table, bucket key, fixture table, staged projection)
      val sides = Seq(
        (lt, "l_orderkey", "lineitem", Seq("l_orderkey", "l_extendedprice", "l_discount")),
        (ot, "o_orderkey", "orders", Seq("o_orderkey", "o_orderpriority")))
      def rows(table: String, cols: Seq[String]) =
        tbl(s, d, table).select(cols.map(col): _*)
      val fp = sides.map { case (_, _, table, cols) =>
        Staging.fingerprint(s"$d/$table.parquet", rows(table, cols), cols)
      }.mkString(";")
      Staging.once(base, fp) { tmp =>
        sides.foreach { case (name, key, table, cols) =>
          s.sql(s"DROP TABLE IF EXISTS $name")
          rows(table, cols).write.format("parquet").bucketBy(8, key).sortBy(key)
            .option("path", s"$tmp/$name").saveAsTable(name)
        }
      }
      // Bucketing needs an explicit column list in the DDL. T.tbl caches
      // each fixture's schema per session, so reading it runs no job.
      sides.foreach { case (name, key, table, cols) =>
        val ddl = rows(table, cols).schema.fields
          .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
        s.sql(s"DROP TABLE IF EXISTS $name")
        s.sql(s"CREATE TABLE $name ($ddl) USING parquet CLUSTERED BY ($key) " +
          s"SORTED BY ($key) INTO 8 BUCKETS LOCATION '$base/$name'")
      }
      // Revenue over exact integer cents: the per-priority sum reaches
      // ~6·10⁹ at sf0.1, where double partial-sum ordering noise (~1e-4)
      // exceeds the r4 tolerance — the one sf0.1 hash mismatch of round 3.
      s.table(lt).hint("merge")
        .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          r4(expr("""CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS DECIMAL(38,0)))
                     AS DOUBLE)""") / 10000.0).as("revenue"))
    }),

    // Recursive category-closure roll-up — the reference's recursive
    // subcategory descent (AskCommons category → subcategory → … member
    // resolution) done IN-engine: membership = transitive closure of root
    // categories over a static category-edge dimension, then ONE broadcast
    // join to the facts and a per-root roll-up. The edge dimension is a
    // deterministic 4-ary tree over part keys (parent = key div 4) —
    // structurally a category graph: small, acyclic, closed iteratively.
    // Scale shape (100 TB): the frontier-expansion loop joins the current
    // frontier (category ids only) against the BROADCAST edge dimension —
    // category dims are ≪ facts — so closure costs O(depth) tiny joins
    // and the fact table is touched exactly once, at the end. Each round
    // localCheckpoints (lineage stays O(1) in rounds — the CC lesson);
    // depth is bounded loudly, never silently truncated. Oracle: the same
    // closure via WITH RECURSIVE.
    "join_category_closure" -> ((s, d) => {
      val edges = part(s, d).filter(col("p_partkey") >= 1)
        .select(col("p_partkey").as("child"),
          expr("p_partkey div 4").as("parent"))
        .persist()
      import s.implicits._
      val roots = Seq(1, 2, 3).toDF("root")
        .select(col("root"), col("root").cast("long").as("node"))
      var frontier = roots.localCheckpoint(true)
      // members = union of eagerly-checkpointed frontiers: its plan stays
      // a FLAT union over materialized blocks (depth 1 in rounds), so it
      // needs no checkpoint of its own — one Spark job per round, not
      // three (the frontier checkpoint is itself the round's action).
      var members = frontier
      // Depth bound DERIVED from the persisted edge dim, not hard-coded
      // (r6 ADVICE: a fixed 12 aborts the closure past p_partkey ≈ 4¹² —
      // TPC-H SF ≈ 84, exactly the scale regime this targets). Depth of
      // the 4-ary arithmetic tree from roots {1,2,3} to key k is
      // ⌈log₄ k⌉; +1 spare level lets the loop OBSERVE the empty frontier
      // so the require below never fires on a complete closure.
      // max over an EMPTY edge dim is NULL — getLong would throw where
      // the correct closure is just the roots (all-empty probe, r11).
      val maxKey = Option(edges.agg(max(col("child"))).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      val maxDepth =
        math.ceil(math.log(math.max(maxKey, 4).toDouble) / math.log(4)).toInt + 1
      // r18 OPTIMIZATION (guide §1.2 step 1 — fewer rounds, fewer
      // barriers): expand TWO levels per round. The per-round cost here
      // is the materialization barrier (one eager localCheckpoint job
      // per round — ~90 ms fixed at fixture scale, measured sf0.001 vs
      // sf0.1: 1.13 s at ~5 rounds vs 1.48 s at ~9 with 100× the data),
      // not the category-dim-sized joins, so halving the round count
      // halves the loop's fixed cost locally and its barrier count on a
      // cluster. Each round joins the materialized frontier through the
      // broadcast edge dim once for children and once more for
      // grandchildren IN THE SAME PLAN (the broadcast build is
      // exchange-reused within the query), checkpoints their level-
      // tagged union in ONE job, folds both levels into members, and
      // advances the frontier to the grandchild level. Children and
      // grandchildren sit at distinct depths of a tree (unique parent
      // paths), so the union carries no duplicates and the member
      // multiset is IDENTICAL to the one-level loop's
      // (brute-force-pinned in OptimizationParitySpec on random trees).
      var depth = 0
      while (!frontier.isEmpty && depth < maxDepth) {
        val c = frontier.join(broadcast(edges), col("node") === col("parent"))
          .select(col("root"), col("child").as("node"))
        val two = c.withColumn("lvl", lit(1))
          .unionByName(
            c.join(broadcast(edges), col("node") === col("parent"))
              .select(col("root"), col("child").as("node"))
              .withColumn("lvl", lit(2)))
          .localCheckpoint(true)
        members = members.union(two.select(col("root"), col("node")))
        frontier = two.filter(col("lvl") === 2).select(col("root"), col("node"))
        depth += 2
      }
      // A silently-truncated closure would under-count every root's
      // subtree — fail loudly instead.
      require(frontier.isEmpty,
        s"category closure did not converge within $depth levels (edge max key $maxKey)")
      // members is checkpoint-materialized (lineage-free), so dropping
      // the edge cache cannot force recomputation through it.
      edges.unpersist()
      // Explicit broadcast of the MEMBERSHIP side: it is category-dim-
      // sized; the fact side streams through the hash probe unshuffled
      // (without the hint, fixture-scale stats let Spark broadcast the
      // fact instead — the wrong side at 100 TB).
      part(s, d).join(broadcast(members), col("p_partkey") === col("node"))
        .groupBy(col("root"))
        .agg(count(lit(1)).as("n_parts"),
          sum(expr("CAST(round(p_retailprice * 100) AS BIGINT)")).as("total_cents"))
    })
  )

  /** As-of join via union + one window pass: tag clicks 0 / purchases 1,
    * sort each user's merged timeline by (ts, tag), and take the last
    * non-null click ts over the unbounded-preceding frame — a SINGLE
    * shuffle on user_id; no correlated subquery, no per-row range join,
    * no cross product. The (ts, tag) tiebreak makes the bound INCLUSIVE:
    * a click at exactly the purchase's ts sorts before it (0 < 1) and is
    * visible to the frame, matching `c.ts <= p.ts`. Purchases with no
    * prior click get null. Clicks: (user_id, ts); purchases: (event_id,
    * user_id, ts). Property-tested off-fixture with forced ts collisions
    * in GenPropertySpec; the 100 TB shape note: the merged-window form
    * scales with the timeline, not clicks × purchases.
    */
  private[graft] def asofLatest(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    // NULL keys: an as-of join has JOIN semantics — a NULL user_id (or
    // NULL ts) click matches NOTHING, because `c.user_id = p.user_id AND
    // c.ts <= p.ts` is never true through a NULL. The window form would
    // silently get this wrong: partitionBy groups all NULL user_ids into
    // ONE partition, handing NULL-user purchases the NULL-user clicks'
    // timestamps. The fixtures contain zero NULL user_ids so the oracle
    // gate never saw it — found by the round-10 degenerate-events corpus
    // (tools/degen_check.py), where the divergence reproduced 1:1.
    // Dropping null-key/null-ts CLICKS restores join semantics: the NULL
    // partition then holds no click rows, so NULL-key purchases keep
    // their LEFT-JOIN row with a NULL as-of (and NULL-ts purchases sort
    // NULLS FIRST, before every surviving click — also NULL).
    val c = clicks
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), lit(0).as("tag"),
        lit(null).cast("long").as("event_id"), col("ts").as("click_ts"))
    val p = purchases.select(col("user_id"), col("ts"), lit(1).as("tag"),
      col("event_id"), lit(null).cast("timestamp").as("click_ts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("tag"))
      .rowsBetween(Long.MinValue, 0)
    c.unionByName(p)
      .withColumn("asof_click_ts", last(col("click_ts"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("asof_click_ts"))
  }

  def oracleSql: Map[String, String] = Map(
    "join_broadcast_dim" -> """
      SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 4) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name
    """,

    // Revenue via the ExactMoney SQL side — the same helper the
    // DataFrame builder calls (r15 VERDICT task 3).
    "join_smj_facts" -> s"""
      SELECT o_orderpriority, count(*) AS n_lines,
             ${ExactMoney.exactSumSql(
               s"${ExactMoney.unitsSql("l_extendedprice", 2)}" +
                 s" * (100 - ${ExactMoney.unitsSql("l_discount", 2)})",
               38, 4)} AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,

    // Same closure, declaratively: WITH RECURSIVE over the identical
    // arithmetic edge dimension (sum over BIGINT is HUGEINT in DuckDB —
    // cast back).
    "join_category_closure" -> """
      WITH RECURSIVE m(root, node) AS (
          SELECT r, CAST(r AS BIGINT) FROM (VALUES (1), (2), (3)) t(r)
        UNION ALL
          SELECT m.root, e.child
          FROM m JOIN (SELECT p_partkey AS child, p_partkey // 4 AS parent
                       FROM part WHERE p_partkey >= 1) e
            ON e.parent = m.node)
      SELECT root, count(*) AS n_parts,
             CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM m JOIN part ON p_partkey = m.node
      GROUP BY root ORDER BY root
    """,

    "join_shuffle_hash" -> """
      SELECT o_orderstatus, count(*) AS n_lines, round(sum(l_quantity), 4) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,

    "join_salted_skew" -> """
      SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 4) AS total_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,

    "join_left_outer" -> """
      SELECT c_custkey, count(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey ORDER BY c_custkey
    """,

    "join_full_outer" -> """
      SELECT coalesce(a.user_id, b.c_custkey) AS k, a.n_events, b.c_mktsegment
      FROM (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id) a
      FULL JOIN customer b ON a.user_id = b.c_custkey
      ORDER BY k
    """,

    "join_semi" -> """
      SELECT c_custkey, c_mktsegment
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      ORDER BY c_custkey
    """,

    "join_anti_zerofill" -> """
      SELECT h AS hour
      FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                           TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR) t(h)
      WHERE NOT EXISTS (
        SELECT 1 FROM events
        WHERE event_type = 'error' AND date_trunc('hour', ts) = h)
      ORDER BY hour
    """,

    "join_theta_range" -> """
      SELECT p.user_id, count(*) AS n_pairs
      FROM (SELECT user_id, epoch_us(ts) AS p_us FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT user_id, epoch_us(ts) AS e_us FROM events WHERE event_type = 'error') e
        ON p.user_id = e.user_id AND abs(p.p_us - e.e_us) <= 300000000
      GROUP BY p.user_id ORDER BY p.user_id
    """,

    "join_lateral_topn" ->
      (lateralTopnSql + "\n      ORDER BY p_partkey, price DESC, l_orderkey"),

    "join_asof_latest" -> """
      SELECT p.event_id, p.user_id, max(c.ts) AS asof_click_ts
      FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id AND c.ts <= p.ts
      GROUP BY p.event_id, p.user_id ORDER BY p.event_id
    """,

    "join_cross_small" -> """
      SELECT r_name, n_name FROM region CROSS JOIN nation
      ORDER BY r_name, n_name
    """,

    "join_bucketed_colocated" -> """
      SELECT o_orderpriority, count(*) AS n_items,
             round(CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS DECIMAL(38,0)))
                   AS DOUBLE) / 10000.0, 4) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority
    """
  )
}
