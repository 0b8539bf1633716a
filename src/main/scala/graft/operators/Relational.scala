package graft.operators

import graft.{QueryModule, Staging, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scans, filters, projections, aggregations, sorts, limits, set ops.
  *
  * Re-expresses the reference's log-analytics core (SURVEY.md §2.1–§2.7):
  * the mediacounts TSV parse (`-` → 0, date parse, whitelist filter), the
  * per-(entity, day) play-count aggregation that is the heart of
  * `LogProcessor.parse` + the `FilePlaycount` point/range/last-N queries
  * [UNVERIFIED reference cites — see SURVEY.md §0], plus engine-parity
  * extensions (rollup/cube/grouping-sets, set ops, top-k).
  *
  * Scale notes (100 TB): every aggregation here is a hash aggregate with
  * map-side partial aggregation; scans push filters and prune columns to
  * the parquet reader (verified via explain in RelationalSpec); top-k is
  * planned as TakeOrderedAndProject (no global sort).
  */
object Relational extends QueryModule {
  import T._

  /** Day-partitioned at-rest copy of events, staged once per events
    * fingerprint into /tmp by [[graft.Staging.once]], like the streaming
    * arrival dirs. `_STAGED` at the dir root is underscore-prefixed, so
    * the parquet file index ignores it like `_SUCCESS`.
    */
  private def eventsByDay(s: SparkSession, d: String): DataFrame = {
    val path = s"/tmp/graft_events_by_day_${Staging.tag(d)}"
    val staged = events(s, d).withColumn("day", to_date(col("ts")))
    Staging.once(path, Staging.eventsFingerprint(s, d)) { tmp =>
      staged.write.mode("overwrite").partitionBy("day").parquet(tmp.toString)
    }
    // Explicit schema on the read-back: an EMPTY source stages zero day
    // partitions — only the _STAGED marker — and bare inference throws
    // where the correct answer is the empty table. Partition discovery
    // (and so PartitionFilters/DPP) is directory-driven and unaffected;
    // `day` sits last, exactly where partition columns land under
    // inference.
    s.read.schema(staged.schema).parquet(path)
  }

  /** Exact integer power sums Σx..Σx⁴ (x integral) via the codegen'd
    * 128-bit sum (graft.functions.Int128SumDouble): order-independent
    * partial aggregation, overflow-proof to 2¹²⁷, correctly-rounded
    * double out — DECIMAL(38,0) gave the same guarantees at ~3× the cost
    * (per-row BigDecimal off the long-backed fast path).
    */
  private def powerSums(x: String) = Seq(
    expr(s"sum_i128($x)").as(s"s1_$x"),
    expr(s"sum_i128($x*$x)").as(s"s2_$x"),
    expr(s"sum_i128($x*$x*$x)").as(s"s3_$x"),
    expr(s"sum_i128($x*$x*$x*$x)").as(s"s4_$x"))

  /** Skewness/kurtosis (exprText, alias) pairs over `powerSums` columns,
    * UNROUNDED. The same text runs as Spark expr and inside the DuckDB
    * oracle, so both engines execute the identical IEEE double expression
    * over identical exact integer inputs — bit-equal before rounding.
    * Rounding is then applied per engine by `statCols`/`statSql`, each
    * running the scaled-double algorithm (see DuckRound.scala).
    */
  private def momentStats(x: String, out: String): Seq[(String, String)] = {
    val m  = s"(CAST(s1_$x AS DOUBLE)/n)"
    val a2 = s"(CAST(s2_$x AS DOUBLE)/n)"
    val a3 = s"(CAST(s3_$x AS DOUBLE)/n)"
    val a4 = s"(CAST(s4_$x AS DOUBLE)/n)"
    val m2 = s"($a2 - $m*$m)"
    // nullif(denominator, 0): skewness/kurtosis of a ZERO-VARIANCE group
    // (constant column, or a singleton) is undefined — bare division
    // throws DIVIDE_BY_ZERO on ANSI Spark and yields NULL in DuckDB
    // (degenerate-universe find, round 10). The shared text makes the
    // undefined case NULL in BOTH engines, matching the builtins'
    // skewness()/kurtosis() NULL contract; kurtosis stays NULL (not −3)
    // because NULL − 3 is NULL.
    Seq(
      s"($a3 - 3*$m*$a2 + 2*$m*$m*$m) / nullif(sqrt($m2)*$m2, 0)" -> s"skew_$out",
      s"($a4 - 4*$m*$a3 + 6*$m*$m*$a2 - 3*$m*$m*$m*$m) / nullif($m2*$m2, 0) - 3" -> s"kurt_$out")
  }

  /** agg_corr_stats (exprText, alias) pairs over its integer moment sums,
    * UNROUNDED — shared verbatim between the Spark plan and the DuckDB
    * oracle; rounding applied per engine by `statCols`/`statSql`.
    */
  private def corrStats: Seq[(String, String)] = {
    def m(x: String)  = s"(CAST(s_$x AS DOUBLE)/n)"
    val varQ  = s"(${m("qq")} - ${m("q")}*${m("q")})"
    val varPc = s"(${m("pp")} - ${m("pc")}*${m("pc")})"
    Seq(
      s"sqrt($varQ)" -> "sd_qty",
      varQ -> "var_qty",
      // nullif: correlation with a zero-variance side is undefined → NULL
      // in both engines (same ANSI-divide find as momentStats).
      s"(${m("qp")} - ${m("q")}*${m("pc")}) / nullif(sqrt($varQ)*sqrt($varPc), 0)" -> "corr_qty_price",
      s"(${m("dt")} - ${m("dc")}*${m("tc")}) / 10000.0" -> "cov_disc_tax")
  }

  /** Spark-side rendering of shared stat expressions: r6 is DuckRoundExpr —
    * the ORACLE's own scaled-double rounding — not Spark's BigDecimal
    * HALF_UP round, whose decimal-expansion rounding can land one ulp away
    * on boundary values (the divergence class DuckRound.scala documents).
    * `+ 0.0` normalizes -0.0 (kept by std::round, dropped nowhere here) so
    * both engines emit the same bits under the driver's bit-sensitive hash.
    */
  private def statCols(raw: Seq[(String, String)]): Seq[Column] =
    raw.map { case (e, a) => (r6(expr(e)) + lit(0.0)).as(a) }

  /** Oracle-side rendering: DuckDB's builtin round IS the scaled-double
    * algorithm, so `round(e, 6) + 0.0` matches statCols bit-for-bit.
    */
  private def statSql(raw: Seq[(String, String)]): Seq[String] =
    raw.map { case (e, a) => s"round($e, 6) + 0.0 AS $a" }

  /** TPC-H Q1 over exact integer cents — one SQL text for BOTH engines
    * (only the table name differs). Every aggregate input is an exact
    * integer, so partial-sum order cannot perturb the rounded output;
    * the decimal→double conversions and divisions are single
    * deterministic IEEE ops identical in both engines.
    *
    * VALUE-DOMAIN CONTRACT (all lineitem-cents keys, incl. the stat
    * aggs below): finite 2-decimal money well inside the BIGINT
    * headroom of the cents cross-multiplies (TPC-H magnitudes are
    * ~1e5; the cast bound is ~9.2e16 cents and q1's triple product
    * tightens that by ~2e4) — the casts and products are BARE ANSI on
    * purpose; TPC-H-shaped fact tables are curated data, unlike the
    * raw-log streaming ingest (try_cast there). EVERY breach class is
    * LOUD — NaN/±Inf/cast overflow throw [CAST_OVERFLOW], a product
    * past the BIGINT headroom throws [ARITHMETIC_OVERFLOW] — never a
    * silently-wrong sum; probed per dirty column by
    * tools/degen_check.py batch_dirty, with an in-contract large-value
    * positive control pinning that correctness holds right up to the
    * documented domain.
    */
  /** agg_histogram's binning, shared verbatim by both engines: clamp in
    * DOUBLE, cast after (always fits), NaN → NULL bin. See the key's
    * comment for the r12 saturation find this encodes.
    */
  private val histBucketSql = """
    CASE WHEN isnan(value) THEN NULL
         ELSE CAST(least(greatest(floor(value / 10), -20.0), 19.0) AS BIGINT) END"""

  // Money sums: the ExactMoney recipe — EXACT INTEGER quantization to
  // the output quantum, exact decimal sum, then one int64→double cast +
  // one power-of-ten division, bit-identical across engines by
  // construction (divergence history, headroom argument, and the
  // precision-choice rule live in ExactMoney's scaladoc; the r15
  // adjudication in BASELINE.md round-15). Q1 specifics: the sum_charge
  // half-up quantize of the cents³ sum to the 4-dp output drops 2 digits
  // via the SIGN-SAFE integer form (halfUpDropSql — ties toward +∞,
  // correct for credits/refunds too, identical to the old non-negative
  // form on this corpus); base/disc price sums carry ≤ 4 fractional
  // digits already, so their render is exact-input. avg_* keep
  // round-on-double: at ~5e4 magnitude the ULP is 7 orders below the
  // 1e-6 quantum — the boundary class needs giant magnitudes. rowPrec 38
  // (not the ≤8 fast path): the cents³ product rows carry ~11 digits, so
  // DecimalAggregates can't run these as unscaled longs at any precision.
  private val tpchQ1Sql: String = {
    import ExactMoney._
    s"""
    WITH b AS (
      SELECT l_returnflag, l_linestatus,
             ${unitsSql("l_quantity", 0)} AS q,
             ${unitsSql("l_extendedprice", 2)} AS pc,
             ${unitsSql("l_discount", 2)} AS dc,
             ${unitsSql("l_tax", 2)} AS tc
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'),
    t AS (
      SELECT l_returnflag, l_linestatus,
             ${sumUnitsSql("q", 38)} AS sq,
             ${sumUnitsSql("pc", 38)} AS spc,
             ${sumUnitsSql("dc", 38)} AS sdc,
             ${sumUnitsSql("pc * (100 - dc)", 38)} AS sdp,
             ${sumUnitsSql("pc * (100 - dc) * (100 + tc)", 38)} AS sch,
             count(*) AS cnt
      FROM b GROUP BY l_returnflag, l_linestatus)
    SELECT l_returnflag, l_linestatus,
           ${toDollarsSql("sq", 0)} AS sum_qty,
           ${toDollarsSql("spc", 2)} AS sum_base_price,
           ${toDollarsSql("sdp", 4)} AS sum_disc_price,
           ${toDollarsSql(halfUpDropSql("sch", 2), 6)} AS sum_charge,
           round(CAST(sq AS DOUBLE) / cnt, 6) AS avg_qty,
           round(CAST(spc AS DOUBLE) / cnt / 100.0, 6) AS avg_price,
           round(CAST(sdc AS DOUBLE) / cnt / 100.0, 6) AS avg_disc,
           cnt AS count_order
    FROM t"""
  }

  /** TPC-H Q5-shaped 5-way star join (region-filtered revenue by nation),
    * one SQL text for BOTH engines. Exercises ReorderJoin/CBO breadth:
    * six relations, two dim filters (region name + order-date window) and
    * the c_nationkey = s_nationkey "local supplier" theta that makes join
    * order actually matter. Money math on exact integer cents (q1 recipe)
    * so partial-sum order can't perturb the rounded output. At 100 TB the
    * right plan broadcasts region→nation→supplier and shuffles only
    * orders⨝lineitem⨝customer on their keys — small dims never shuffle
    * the fact side more than once. The key deliberately carries NO join
    * hints: hints pin ReorderJoin (defeating the point of the key), and
    * build-side choice is size-based — fixture stats broadcast everything
    * (correct at MBs), real 100 TB stats shuffle the three big tables and
    * broadcast only region/nation/supplier, with AQE re-checking at run
    * time.
    */
  private val tpchQ5Sql: String = s"""
    WITH b AS (
      SELECT n_name,
             ${ExactMoney.unitsSql("l_extendedprice", 2)} AS pc,
             ${ExactMoney.unitsSql("l_discount", 2)} AS dc
      FROM customer
           JOIN orders   ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation   ON s_nationkey = n_nationkey
           JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND c_nationkey = s_nationkey
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00')
    SELECT n_name,
           ${ExactMoney.exactSumSql("pc * (100 - dc)", 38, 4)} AS revenue,
           count(*) AS n_items
    FROM b GROUP BY n_name"""

  /** TPC-H Q17-shaped correlated SCALAR aggregate subquery (small-quantity
    * orders below 20% of the per-part average), one SQL text for BOTH
    * engines. Exercises RewriteCorrelatedScalarSubquery — Catalyst
    * decorrelates the per-part avg into an aggregate + join instead of a
    * per-row subplan (the only execution shape that survives 100 TB; a
    * correlated re-scan per row is quadratic). The predicate is engine-
    * deterministic without cents: l_quantity is integer-valued, so the
    * per-part double sum is exact (< 2^53) and avg/0.2· are single IEEE
    * ops; the money output sums exact cents per the q1 recipe.
    */
  private val tpchQ17Sql: String = s"""
    SELECT p_brand,
           count(*) AS n_small,
           round(CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                                AS DECIMAL(38,0))) AS DOUBLE) / 100.0 / 7.0, 4)
             AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand IN ('Brand#12', 'Brand#23')
      AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    GROUP BY p_brand"""

  /** TPC-H Q18-shaped large-volume-order query, one SQL text for BOTH
    * engines. Exercises the IN-subquery-over-aggregate path: the HAVING
    * aggregate plans BELOW a left-semi join (RewritePredicateSubquery),
    * so at 100 TB the order-volume rollup is one two-phase hash agg on
    * l_orderkey and the semi probe shuffles only the qualifying keys —
    * never a per-order correlated re-scan. Quantities are integer-valued
    * (Q1 recipe), so the HAVING threshold compare is exact.
    */
  private val tpchQ18Sql: String = s"""
    SELECT c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS orderdate,
           round(o_totalprice, 4) AS totalprice,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM customer
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice"""

  /** TPC-H Q21-shaped waiting-supplier query, one SQL text for BOTH
    * engines. The distinctive optimizer shape: EXISTS and NOT EXISTS both
    * correlate against the SAME fact table as the outer block (lineitem
    * ⨝ lineitem semi + anti on l_orderkey with an inequality residual) —
    * Catalyst must decorrelate two subqueries into one left-semi and one
    * left-anti join stacked over the 3-way star, and all three lineitem
    * legs shuffle on the same l_orderkey key (exchange reuse). The fixture
    * has no commit/receipt dates, so "kept the order waiting" is modeled
    * on the return flag: supplier's own line returned ('R') while no other
    * supplier's line on the order was.
    */
  private val tpchQ21Sql: String = s"""
    SELECT s_name, count(*) AS numwait
    FROM supplier
         JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN orders       ON o_orderkey = l1.l_orderkey
         JOIN nation       ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11', 'NATION_19')
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name"""

  /** TPC-H Q22-shaped global-relation query, one SQL text for BOTH
    * engines. Exercises UNCORRELATED scalar subqueries (the whole-table
    * mean as a 1-row broadcast feeding a filter — no join key at all)
    * plus a NOT EXISTS anti join. The above-average test runs in exact
    * integer cents cross-multiplied by the count (bal·n > Σbal) instead
    * of avg() — Spark's Average over integral input keeps DOUBLE partial
    * sums, whose merge order would make the threshold nondeterministic
    * at the boundary; products of exact BIGINTs cannot disagree.
    */
  private val tpchQ22Sql: String = s"""
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer)
    SELECT c_nationkey AS cntrycode, count(*) AS numcust,
           round(CAST(sum(CAST(bal_c AS DECIMAL(38,0))) AS DOUBLE) / 100.0, 4)
             AS totacctbal
    FROM c
    WHERE bal_c * (SELECT count(*) FROM c WHERE bal_c > 0)
            > (SELECT sum(bal_c) FROM c WHERE bal_c > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey"""

  /** TPC-H Q2-shaped minimum-cost-supplier query, one SQL text for BOTH
    * engines. The distinctive decorrelation: the correlated scalar
    * subquery CONTAINS A JOIN (lineitem ⨝ supplier restricted to the
    * same nation band as the outer block), so Catalyst must decorrelate
    * a min-aggregate over a join — not just over one table (Q17's path).
    * The compared value is a raw stored double (no arithmetic), so
    * equality is engine-exact; ties at the minimum return every tying
    * row, q2's own multiset semantics.
    */
  private val tpchQ2Sql: String = s"""
    SELECT p_partkey, p_brand, s_name, n_name,
           round(l_extendedprice, 4) AS min_price
    FROM part
         JOIN lineitem ON p_partkey = l_partkey
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size < 10
      AND s_nationkey < 13
      AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                             FROM lineitem l2
                                  JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
                             WHERE l2.l_partkey = p_partkey
                               AND s2.s_nationkey < 13)"""

  /** TPC-H Q11-shaped important-stock query, one SQL text for BOTH
    * engines. Exercises the scalar subquery in HAVING — the global total
    * compared against each group's aggregate AFTER aggregation (Q22
    * covers the WHERE-side scalar). Fraction 1/25 (= 4%) is expressed as
    * an exact integer cross-multiply over cents×quantity values summed
    * in DECIMAL(38,0) — no double avg, no decimal-fraction literal.
    */
  private val tpchQ11Sql: String = s"""
    WITH sv AS (
      SELECT s_nationkey,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * CAST(l_quantity AS BIGINT) AS val_c
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey)
    SELECT s_nationkey,
           round(CAST(sum(CAST(val_c AS DECIMAL(38,0))) AS DOUBLE) / 100.0, 4)
             AS value
    FROM sv GROUP BY s_nationkey
    HAVING sum(CAST(val_c AS DECIMAL(38,0))) * 25
             > (SELECT sum(CAST(val_c AS DECIMAL(38,0))) FROM sv)"""

  /** TPC-H Q20-shaped two-level nested IN, one SQL text for BOTH
    * engines: suppliers whose volume over STANDARD-type parts is above
    * the per-supplier average — an IN whose subquery aggregates rows
    * filtered by ANOTHER IN, plus two scalar subqueries over the same
    * CTE. Catalyst stacks the rewrites: inner IN → semi join under the
    * aggregate, outer IN → semi join above it, scalars → 1-row
    * broadcasts. Above-average is the Q22 exact cross-multiply.
    */
  private val tpchQ20Sql: String = s"""
    WITH std AS (
      SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS q
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_type LIKE 'STANDARD%'))
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM std
      GROUP BY l_suppkey
      HAVING sum(q) * (SELECT count(DISTINCT l_suppkey) FROM std)
               > (SELECT sum(q) FROM std))"""

  /** TPC-H Q19-shaped disjunctive (OR-of-ANDs) predicate across a join,
    * one SQL text for BOTH engines. The optimizer surface: each OR
    * branch mixes per-part and per-lineitem conjuncts, and Catalyst
    * extracts the per-side disjunctions (`p_brand IN … AND p_size ≤ …`
    * OR'd per branch) and pushes them BELOW the join into both scans —
    * without that extraction a 100 TB scan reads everything and the
    * filter runs post-join. Plan-asserted: both FileScans carry pushed
    * Or(...) filters. Money math is the exact-cents q1 recipe.
    */
  private val tpchQ19Sql: String = s"""
    SELECT count(*) AS n_lines,
           round(CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                                 * (100 - CAST(round(l_discount * 100) AS BIGINT))
                                 AS DECIMAL(38,0))) AS DOUBLE) / 10000.0, 4)
             AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 15 AND p_size <= 25)
       OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 25 AND p_size <= 30)
       OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 35 AND p_size <= 40)"""

  /** TPC-H Q3-shaped shipping-priority query, one SQL text for BOTH
    * engines: dim-filtered 3-way join + grouped revenue + top-10. The
    * customer filter reduces before the join; top-k plans as
    * TakeOrderedAndProject.
    */
  private val tpchQ3Sql: String = """
      SELECT l_orderkey,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
             CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10
    """

  /** Correlated EXISTS + NOT EXISTS (`join_exists_correlated`), one SQL
    * text for BOTH engines.
    */
  private val existsCorrelatedSql: String = """
      SELECT c_custkey, c_mktsegment
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans -----------------------------------------------------------
    // Parquet scan with predicate + projection pushdown: the 2-column read
    // of a 16-column table. Explain shows PushedFilters + pruned ReadSchema.
    "scan_parquet_pushdown" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
          && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // The mediacounts TSV ingest pipeline as a self-contained roundtrip:
    // serialize events rows to TSV lines, then parse back with split +
    // try_cast (`-` placeholder → 0, exactly the reference's parse rule),
    // aggregate per (day, event_type). bz2 TSV at rest is splittable; at
    // 100 TB this is a plain distributed text scan with explicit schema.
    "scan_tsv_logs" -> ((s, d) => {
      val lines = events(s, d).select(concat_ws("\t",
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd"),
        col("event_type"),
        when(pmod(col("event_id"), lit(10)) === 0, lit("-"))
          .otherwise(col("value").cast("string"))).as("line"))
      val f = split(col("line"), "\t")
      lines
        .select(
          element_at(f, 1).cast("long").as("event_id"),
          to_date(element_at(f, 2), "yyyy-MM-dd").as("day"),
          element_at(f, 3).as("event_type"),
          coalesce(expr("try_cast(split(line, '\t')[3] AS DOUBLE)"), lit(0.0)).as("cnt"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sum(col("cnt"))).as("total"))
    }),

    // ---- filters / projections ------------------------------------------
    // Whitelist filter (playable-media filter analog): keep only rows in an
    // allowed (lang, source) set above a size floor.
    "filter_media_whitelist" -> ((s, d) => {
      documents(s, d)
        .filter(col("lang").isin("en", "de", "fr")
          && col("source").isin("src0", "src1", "src2", "src3", "src4")
          && col("n_chars") >= 40)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // Play-count arithmetic analog: row-wise derived counter column
    // (original + transcoded sums in the reference; price*(1-disc)*(1+tax)
    // here — same shape: null-free arithmetic over numeric columns).
    "proj_play_count" -> ((s, d) => {
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          r6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          r6(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .as("charged"))
    }),

    // Percent-decode + path-prefix strip (LogProcessor title cleanup).
    // `decoded` decodes REAL percent-encoded input (a literal escape set —
    // %2F %20 %C3%A9 %7E %2B, covering path separator, space, multibyte
    // UTF-8, unreserved-but-encoded, and plus — prefixed to the name with
    // its spaces re-encoded as %20), not a decode of its own encode; the
    // oracle decodes the same fixed escape set via chained replace(), so
    // the decode half is tested against adversarial input. `roundtrip`
    // keeps the encode half covered.
    "proj_url_decode" -> ((s, d) => {
      part(s, d)
        .select(col("p_partkey"),
          url_decode(concat(lit("dir%2Fsub%20f%C3%A9%7E%2B"),
            regexp_replace(col("p_name"), " ", "%20"))).as("decoded"),
          url_decode(url_encode(col("p_name"))).as("roundtrip"),
          substring_index(
            concat(lit("/wikipedia/commons/a/ab/"), col("p_name")), "/", -1).as("stripped"))
    }),

    // Point/range lookup: WHERE user=? AND ts BETWEEN ? AND ? — the
    // FilePlaycount date_range query shape. At rest this hits partition
    // pruning on a date-partitioned layout.
    "filter_date_predicate" -> ((s, d) => {
      events(s, d)
        .filter(col("user_id") === 7
          && col("ts").between(
            lit(java.sql.Timestamp.valueOf("2024-01-05 00:00:00")),
            lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))))
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    }),

    // ---- aggregations ----------------------------------------------------
    // FLAGSHIP: plays per (entity, day) — the reference's core daily
    // aggregation. Partial + final hash agg; shuffles once on the group key.
    "agg_daily_counts" -> ((s, d) => {
      events(s, d)
        .groupBy(day(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), r4(sum(col("value"))).as("total_value"))
    }),

    // Date-range total + per-day detail in one result (rollup over day):
    // the daterange API response (total + details list).
    "agg_range_total" -> ((s, d) => {
      events(s, d)
        .filter(col("event_type") === "view"
          && col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-05 00:00:00"))
          && col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00")))
        .rollup(day(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("total"))
    }),

    // Exact distinct per day (expand + two-phase agg under the hood).
    "agg_distinct_users" -> ((s, d) => {
      events(s, d)
        .groupBy(day(col("ts")).as("day"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // Multiple distinct aggregates + a plain sum in one pass.
    "agg_multi_distinct" -> ((s, d) => {
      events(s, d)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(day(col("ts"))).as("n_days"),
          r4(sum(col("value"))).as("total_value"))
    }),

    // Funnel analysis: users completing view → click → purchase IN ORDER,
    // each step within 24 h of the previous — the sequential-behavior
    // query every event-analytics engine ships. Three per-user min-ts
    // aggregates chained by joins, ALL keyed on user_id: at 100 TB every
    // stage shuffles on the same key, so the exchanges line up for reuse
    // and each stage's input shrinks (events → step-1 users → step-2
    // users). Never a per-user sort or collect_list of the full history.
    "agg_funnel_steps" -> ((s, d) => {
      val e = events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_type"))
      val step = expr("INTERVAL 24 HOURS")
      // r18 OPTIMIZATION (guide §2.4/§5): m1 and m2 each feed TWO
      // consumers (the next step's join build + their own final count),
      // and the join builds broadcast — which never participates in
      // ReuseExchange (the r9 finding) — so the unpersisted form
      // re-derived every step per consumer: 12 parquet scans of events
      // in one plan (plans/r18/agg_funnel_steps_before.txt). persist()
      // (the adjudicated multi-consumer idiom, see
      // Dedup.prefixJaccardPairs) computes each step once: 3 scans, one
      // per event_type leg. At 100 TB the same rule holds — a funnel
      // stage is computed once and reused, never re-derived per arm.
      val m1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        .persist()
      val m2 = e.filter(col("event_type") === "click")
        .join(m1, "user_id")
        .filter(col("ts") > col("t1") && col("ts") <= col("t1") + step)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
        .persist()
      val m3 = e.filter(col("event_type") === "purchase")
        .join(m2, "user_id")
        .filter(col("ts") > col("t2") && col("ts") <= col("t2") + step)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      m1.agg(count(lit(1)).as("n_view"))
        .crossJoin(m2.agg(count(lit(1)).as("n_click")))
        .crossJoin(m3.agg(count(lit(1)).as("n_purchase")))
    }),

    // Cohort retention: users grouped by first-seen day, counted on each
    // later active day — the engagement curve behind every DAU report.
    // The distinct (user, day) grid collapses events to ≤ users × days
    // rows BEFORE any join; the cohort dim then joins back on user_id
    // (same shuffle key as the distinct) and the final rollup is a plain
    // two-phase hash agg on (cohort, offset) — three stages, two of them
    // on the same key, none touching raw events twice.
    "agg_retention_cohort" -> ((s, d) => {
      val days = events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id"), day(col("ts")).as("day")).distinct()
      val cohort = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      days.join(cohort, "user_id")
        .groupBy(col("cohort"),
          datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // Skew-mitigation pattern: salt the hot key, partially aggregate on
    // (salt, key), then merge per key — the classic two-stage rewrite for
    // a key whose group would overwhelm one reducer at 100 TB. Result is
    // identical to the direct aggregation (the oracle computes it plain).
    "agg_salted_skew" -> ((s, d) => {
      events(s, d)
        .groupBy(pmod(col("event_id"), lit(16)).as("salt"), col("event_type"))
        .agg(count(lit(1)).as("pn"), sum(col("value")).as("pv"))
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n_events"), r4(sum(col("pv"))).as("total_value"))
    }),

    // Hidden _metadata columns: per-row file provenance (file_name,
    // row counts per physical file) — the lineage/bookkeeping surface a
    // training-data pipeline uses to trace every example back to its
    // source file and to audit per-file row counts after a rewrite. The
    // metadata struct is populated by the scan itself (no filesystem
    // round-trip per row); the oracle pins the expected (file, count)
    // pairs from the same tables.
    "scan_file_metadata" -> ((s, d) => {
      val li = tbl(s, d, "lineitem")
        .select(expr("_metadata.file_name").as("fname"))
      val od = tbl(s, d, "orders")
        .select(expr("_metadata.file_name").as("fname"))
      li.unionByName(od).groupBy(col("fname")).agg(count(lit(1)).as("n_rows"))
    }),

    // EXACT distinct at high cardinality via bitmap aggregation — the
    // two-level pattern the bitmap_* functions exist for: bucket ids
    // into 32k-bit bitmaps (map-side OR-combinable fixed-size state),
    // then sum per-bucket popcounts. Unlike count(DISTINCT), whose
    // shuffle carries every distinct VALUE, this shuffles one bitmap
    // per (group, bucket) — bounded by id-range/32k regardless of row
    // count — and stays exact (the sketch keys trade exactness away).
    "agg_bitmap_distinct" -> ((s, d) => T.sql(s, d, """
        WITH b AS (
          SELECT event_type, bitmap_bucket_number(user_id) AS bkt,
                 bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
          FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2)
        SELECT event_type, CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_users
        FROM b GROUP BY event_type
      """)),

    // Apache DataSketches HLL (hll_sketch_agg) — distinct from the
    // approx_count_distinct HLL++ path: this sketch's binary format is
    // the cross-system interchange standard (mergeable with Druid/Hive/
    // Pinot sketches via hll_union), which is what matters at 100 TB
    // when counts roll up across engines. Oracle-checked with the same
    // tolerance-verdict recipe as agg_approx_hll: exact count + boolean
    // bound, sketch never crosses engines.
    // r18 OPTIMIZATION (guide §2.3 "aggregate before you shuffle"):
    // aggregate to the DISTINCT (event_type, user_id) grid FIRST, then
    // sketch + count over the grid. The direct mixed distinct/sketch
    // aggregate put partial_hll_sketch_agg BELOW the grid exchange — one
    // multi-KB sketch buffer PER GRID ROW shuffled (plan-verified,
    // plans/r18/agg_datasketch_hll_before.txt) where the grid itself is
    // already the distinct set. Now exchange #1 carries 2 narrow columns
    // and map-side partial aggregation dedups grid rows before they
    // move; exchange #2 carries one sketch per GROUP. Result-identical:
    // count(user_id) over the grid ≡ count(DISTINCT user_id), and HLL
    // insertion is idempotent/order-insensitive (register max), so the
    // sketch state — hence the estimate — is a pure function of the
    // distinct value set either way.
    "agg_datasketch_hll" -> ((s, d) => {
      events(s, d)
        .filter(col("user_id").isNotNull)
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type"))
        .agg(count(col("user_id")).as("n_users_exact"),
          expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("approx"))
        .select(col("event_type"), col("n_users_exact"),
          (col("n_users_exact") === 0 ||
            abs(col("approx") - col("n_users_exact"))
              .cast("double") / col("n_users_exact") <= 0.05)
            .as("within_5pct"))
    }),

    // HLL sketch distinct — the 100 TB path for distinct counts. Sketch
    // VALUES are engine-specific (cross-engine hash match impossible), so
    // the key emits an engine-agnostic TOLERANCE VERDICT instead: the exact
    // count plus a boolean |approx−exact|/exact ≤ 5% computed Spark-side.
    // The DuckDB oracle emits the same exact counts with literal TRUE —
    // both engines hash-match, making the sketch driver-checkable. The
    // verdict is deterministic (HLL is a pure function of the data, not a
    // random draw), and rsd=0.02 keeps the estimate well inside 2.5σ.
    // r18 OPTIMIZATION — same grid-first rewrite as agg_datasketch_hll
    // (guide §2.3): the direct form shuffled the 412-word HLL±± register
    // buffer per (event_type, user_id) grid row (plan-verified,
    // plans/r18/agg_approx_hll_before.txt); the grid-first form shuffles
    // 2 columns with map-side dedup, then one sketch per group.
    // approx_count_distinct over the distinct grid is value-identical
    // (HLL register updates are idempotent max operations); NULL
    // user_ids survive as one grid row per event_type and are skipped
    // by count() and by the sketch exactly as countDistinct skipped
    // them row-wise.
    "agg_approx_hll" -> ((s, d) => {
      events(s, d)
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type"))
        .agg(count(col("user_id")).as("n_users_exact"),
          approx_count_distinct(col("user_id"), 0.02).as("approx"))
        .select(col("event_type"), col("n_users_exact"),
          // exact=0 guard (r6 ADVICE): a group whose user_id values are
          // all NULL has exact=0 → 0/0 verdict NULL, but the oracle emits
          // literal TRUE. Both sketches agree 0≈0, so TRUE is the honest
          // verdict there too.
          (col("n_users_exact") === 0
            || abs(col("approx") - col("n_users_exact")).cast("double")
               / col("n_users_exact") <= 0.05).as("within_5pct"))
    }),

    // argmax/argmin per group: WHICH row holds the extreme, not just the
    // extreme itself. Ties broken deterministically by (value, event_id)
    // lexicographic struct ordering — max_by/min_by on a struct key.
    "agg_argminmax" -> ((s, d) => {
      events(s, d)
        .groupBy(col("event_type"))
        .agg(
          // CASE-wrapped ordering key: a NULL value must not be an
          // extremum candidate (arg_min/arg_max contract) — the bare
          // struct made NULL sort FIRST in Spark's struct order, handing
          // min_by the NULL-value row, while the oracle's NULLS-LAST
          // window skipped it (NULL-injection universe find). max_by/
          // min_by ignore rows whose ordering key is NULL, so the CASE
          // excludes them on the Spark side; the oracle pins NULLS LAST
          // + an IS NOT NULL guard for the same semantics.
          expr("max_by(event_id, CASE WHEN value IS NOT NULL THEN struct(value, event_id) END)").as("max_value_event"),
          expr("min_by(event_id, CASE WHEN value IS NOT NULL THEN struct(value, event_id) END)").as("min_value_event"),
          r6(max(col("value"))).as("max_value"),
          r6(min(col("value"))).as("min_value"))
    }),

    // Fixed-width histogram via explicit bucket arithmetic: one hash agg
    // on a derived int key — the binning is map-side codegen'd projection
    // work, portable to any engine, and its text is shared VERBATIM with
    // the oracle (histBucketSql). The binning is TOTAL over doubles (r12
    // dirty-batch find): the old floor(...).cast(long) SILENTLY saturated
    // outside ANSI — -1e300 became a Long.MinValue bucket and NaN
    // polluted bucket 0 via toLong = 0 — while the oracle's unclamped
    // cast crashed outright. Now the clamp runs in DOUBLE before the
    // cast ([-20, 19] always fits): finite out-of-range and ±Inf pool
    // visibly in the edge bins (-20 underflow, 19 overflow), NaN counts
    // in the NULL bin — a histogram over raw values never silently
    // misfiles a row and never kills the job.
    "agg_histogram" -> ((s, d) => {
      events(s, d)
        .select(expr(histBucketSql).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
    }),

    // Exact continuous percentiles per group (sort-based agg, the one agg
    // family that can't partial-aggregate exactly; at 100 TB the scale
    // path is approx_percentile's mergeable t-digest-style sketch — kept
    // exact here because exact IS the oracle-checkable contract).
    // One percentile(col, array(...)) buffer per COLUMN, not per
    // requested quantile — the builtin buffers+sorts every group value
    // once per call, so the 4-call form paid that 4×(bench: 1.9→1.1 s).
    // NaN is excluded from the percentile measure on BOTH sides (r12):
    // Spark sorts NaN greatest, but DuckDB's quantile runs nth_element
    // with IEEE < — not a strict weak order when NaN is present, so its
    // NaN placement is unspecified (measured: the same corpus yields
    // NaN-as-greatest, NaN-as-least, and scrambled-partition answers on
    // different groups). nanvl→NULL is skipped by percentile in both
    // engines; ±Inf stays in — sort order and cross-gap interpolation
    // agree exactly (probed: q90 across a 1e300→Inf gap is Inf in both).
    "agg_percentiles" -> ((s, d) => {
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(nanvl(l_quantity, CAST(NULL AS DOUBLE)), array(0.5D, 0.9D))").as("pq"),
          expr("percentile(nanvl(l_extendedprice, CAST(NULL AS DOUBLE)), array(0.25D, 0.99D))").as("pp"))
        .select(col("l_returnflag"), col("n"),
          r6(element_at(col("pq"), 1)).as("q50_qty"),
          r6(element_at(col("pq"), 2)).as("q90_qty"),
          r6(element_at(col("pp"), 1)).as("q25_price"),
          r6(element_at(col("pp"), 2)).as("q99_price"))
    }),

    // Median + discrete percentiles: `median` is interpolating (DuckDB
    // quantile_cont — its bare `median` on even groups returns the lower
    // middle, a dialect trap), `percentile_disc` picks the smallest value
    // whose cume_dist ≥ p in both engines. NaN is ejected from the
    // measure on both sides — same r12 contract as agg_percentiles:
    // DuckDB's quantile family sorts with IEEE `<` (unspecified NaN
    // placement); percentile_disc shares the same rank machinery.
    "agg_median" -> ((s, d) => {
      events(s, d)
        .withColumn("value", expr("nanvl(value, CAST(NULL AS DOUBLE))"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          r6(expr("median(value)")).as("med_value"),
          r6(expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)")).as("p25_disc"),
          r6(expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)")).as("p75_disc"))
    }),

    // Boolean aggregates: conditional counts and all/any predicates per
    // group — trivially partial-aggregatable.
    "agg_boolean" -> ((s, d) => {
      events(s, d)
        .groupBy(col("event_type"))
        .agg(
          expr("count_if(value > 100)").as("n_high"),
          expr("bool_and(value >= 0)").as("all_nonneg"),
          expr("bool_or(value > 190)").as("any_extreme"))
    }),

    // Statistical aggregates: stddev/variance, correlation, covariance.
    // Built from EXACT integer moment sums (same design as agg_skew_kurt;
    // quantity is integral, price/discount/tax are 2-decimal → cents),
    // not the double-state corr()/covar_pop() builtins: double
    // partial-state merge order follows shuffle arrival order, so the
    // last ulps differ run to run (the driver's r2 hash caught exactly
    // that). Per-row products fit BIGINT — which DEFINES this key's
    // value domain, tighter than the cents-cast bound: pc*pc caps
    // |cents| at ~3.03e9 (≈ $3.0e7 — generous for money data; breach
    // throws loud ARITHMETIC_OVERFLOW, probed with an in-domain
    // positive control by tools/degen_check.py batch_dirty, r12). Sums
    // run the codegen'd 128-bit sum_i128 (overflow-proof at any scale,
    // still plain partial-aggregatable hash aggs — see Int128SumDouble
    // for why not DECIMAL(38,0)). corr is scale-invariant so cents need no rescale;
    // covar rescales by 1/10⁴. The formula text is shared verbatim with
    // the oracle (corrStats) → bit-identical doubles before rounding.
    "agg_corr_stats" -> ((s, d) => {
      val sums = Seq("q" -> "q", "qq" -> "q*q", "pc" -> "pc", "pp" -> "pc*pc",
        "qp" -> "q*pc", "dc" -> "dc", "tc" -> "tc", "dt" -> "dc*tc")
        .map { case (nm, e) => expr(s"sum_i128($e)").as(s"s_$nm") }
      lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("bigint").as("q"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("pc"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("dc"),
          expr("CAST(round(l_tax * 100) AS BIGINT)").as("tc"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .select((col("l_returnflag") +: col("n") +: statCols(corrStats)): _*)
    }),

    // Skewness / kurtosis from integer power sums: quantity is integral
    // and discount is 2-decimal (cents), so Σx..Σx⁴ are EXACT integer
    // partial sums (same order-independence argument as agg_corr_stats —
    // the skewness()/kurtosis() builtins carry double state merged in
    // shuffle order). Both statistics are scale-invariant, so cents give
    // the same value as raw discounts. The moment formula text is shared
    // verbatim with the oracle (momentStats), so both engines run the
    // identical IEEE expression over identical exact inputs.
    "agg_skew_kurt" -> ((s, d) => {
      val aggs = count(lit(1)).as("n") +: (powerSums("q") ++ powerSums("c"))
      lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("bigint").as("q"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("c"))
        .groupBy(col("l_returnflag"))
        .agg(aggs.head, aggs.tail: _*)
        .select((col("l_returnflag") +: col("n") +:
          statCols(momentStats("q", "qty") ++ momentStats("c", "disc"))): _*)
    }),

    // End-to-end SQL surface: TPC-H-shaped pricing summary (Q1) — the
    // canonical scan→filter→hash-agg report, straight through spark.sql.
    // Money sums run over exact integer cents (price sums reach ~10¹⁰ at
    // sf0.1, where double partial-sum ordering noise exceeds the r4
    // rounding tolerance — caught by the sf0.1 check on the bucketed
    // join); tpchQ1Sql is shared verbatim with the oracle.
    "sql_tpch_q1" -> ((s, d) => T.sql(s, d, tpchQ1Sql)),

    // Shipping-priority top-10 (Q3 shape) — see tpchQ3Sql.
    "sql_tpch_q3" -> ((s, d) => T.sql(s, d, tpchQ3Sql)),

    // 5-way star join (Q5 shape) — see tpchQ5Sql.
    "sql_tpch_q5" -> ((s, d) => T.sql(s, d, tpchQ5Sql)),

    // Correlated scalar aggregate subquery (Q17 shape) — see tpchQ17Sql.
    "sql_tpch_q17" -> ((s, d) => T.sql(s, d, tpchQ17Sql)),

    // Correlated scalar subquery CONTAINING a join (Q2 shape) — see
    // tpchQ2Sql.
    "sql_tpch_q2" -> ((s, d) => T.sql(s, d, tpchQ2Sql)),

    // Scalar subquery in HAVING (Q11 shape) — see tpchQ11Sql.
    "sql_tpch_q11" -> ((s, d) => T.sql(s, d, tpchQ11Sql)),

    // Two-level nested IN + CTE scalars (Q20 shape) — see tpchQ20Sql.
    "sql_tpch_q20" -> ((s, d) => T.sql(s, d, tpchQ20Sql)),

    // Disjunctive cross-table predicate (Q19 shape) — see tpchQ19Sql.
    "sql_tpch_q19" -> ((s, d) => T.sql(s, d, tpchQ19Sql)),

    // IN-subquery over a grouped HAVING (Q18 shape) — see tpchQ18Sql.
    "sql_tpch_q18" -> ((s, d) => T.sql(s, d, tpchQ18Sql)),

    // Dual same-table EXISTS/NOT EXISTS correlation (Q21 shape) — see
    // tpchQ21Sql.
    "sql_tpch_q21" -> ((s, d) => T.sql(s, d, tpchQ21Sql)),

    // Uncorrelated scalar subqueries + anti join (Q22 shape) — see
    // tpchQ22Sql.
    "sql_tpch_q22" -> ((s, d) => T.sql(s, d, tpchQ22Sql)),

    // Correlated EXISTS subquery (decorrelated by Catalyst into a join) —
    // the SQL surface a reference user would reach for directly.
    "join_exists_correlated" -> ((s, d) => T.sql(s, d, existsCorrelatedSql)),

    // Pivot: long → wide reshape (one column per event type). Spark plans
    // this as a single hash agg with CASE-filtered partials — one shuffle
    // on the group key, never a per-pivot-value pass. Pivot values are
    // EXPLICIT (an inferred list would mean an extra distinct job and a
    // nondeterministic column order).
    "agg_pivot" -> ((s, d) => {
      events(s, d)
        .groupBy(day(col("ts")).as("day"))
        .pivot("event_type", Seq("view", "click", "error", "purchase", "signup"))
        .agg(r4(sum(col("value"))))
    }),

    // Unpivot (melt): wide → long reshape, the inverse. Zero shuffles —
    // each input row fans out to one row per measure, map-side.
    "proj_unpivot" -> ((s, d) => {
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "val")
    }),

    // Ordered collect: set-valued aggregation surfaced as a scalar —
    // sort_array(collect_set(...)) joined to a string so the result is
    // deterministic and driver-comparable (raw collect_list order is
    // partition-dependent and NEVER comparable).
    "agg_collect_ordered" -> ((s, d) => {
      events(s, d)
        .groupBy(col("user_id"))
        .agg(
          concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
          countDistinct(col("event_type")).as("n_types"))
    }),

    // Mergeable quantile sketch — the 100 TB path for agg_percentiles
    // (partial-aggregatable, bounded state). Sketch values are
    // engine-specific, so the key emits a TOLERANCE VERDICT: booleans
    // that the approx value's RANK lands within ±1% of the target —
    // checked by conditional counts against the sketch value, not by
    // exact percentile brackets. The old bracket form paid an
    // array-percentile buffer per column (every group value buffered +
    // sorted at finish — 1.6-1.8 s steady, top-3 in every round's bench,
    // all of it oracle-parity scaffolding); the rank form is two hash
    // aggregates and a broadcast of ≤|returnflag| sketch rows — nothing
    // buffers, everything map-side combines, and it's the form that
    // still works when a group holds 10⁹ values. Tie-aware: the sketch
    // value's rank is the interval [lt+1, le] (lt = values strictly
    // below, le = values ≤), and the verdict asserts that interval
    // overlaps [0.49·nq − 1, 0.51·nq + 1] (q50) / [0.98·np − 1,
    // 0.995·np + 1] (q99) — the ±1 absorbs integer-rank edges.
    // accuracy=10000 bounds the sketch's rank error to max(1, 1e-4·n)
    // (EXACT below 10k values), far inside the window at every SF, so
    // the verdict is TRUE and hash-matches the oracle's literal TRUE.
    // PipelineOpsSpec still bounds the raw sketch values by tolerance.
    // Spark's NaN-greatest comparison semantics keep NaN measure values
    // out of both counts — the same "NaN ranks above everything" the
    // old percentile buffer used, so the two forms agree on dirty data.
    "agg_approx_quantiles" -> ((s, d) => {
      // Both passes (sketch, rank counts) read the same 3-column
      // projection; persisting it trades the second parquet decode for
      // one in-memory columnar read (~12 MB at sf0.1).
      val li = lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        .persist()
      val sk = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          // Soundness gates count NON-NULL VALUES per measure, not rows:
          // sketches skip NULLs, so a 60-row group with 2 non-null
          // quantities is a 2-value sample — the rank-±1% window needs
          // ≥ 52 VALUES (r11 review find; the r10 `n < 52` row gate was
          // unsound on mostly-NULL groups).
          count(col("l_quantity")).as("nq"),
          count(col("l_extendedprice")).as("np"),
          // accuracy 2000: rank error ≤ max(1, 5e-4·n) — 20× inside the
          // ±1% verdict window, and EXACT below 2000 values/group (the
          // smallest fixture groups are ~1500). 10000 bought 5× more
          // precision than the claim needs at measurable sketch-update
          // cost (r13 trim; the raw-value spec uses its own 10000).
          expr("approx_percentile(l_quantity, 0.5, 2000)").as("aq50"),
          expr("approx_percentile(l_extendedprice, 0.99, 2000)").as("aq99"))
      li.join(broadcast(sk), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(first(col("n")).as("n"),
          first(col("nq")).as("nq"), first(col("np")).as("np"),
          first(col("aq50")).as("aq50"), first(col("aq99")).as("aq99"),
          count(when(col("l_quantity") < col("aq50"), 1)).as("lt50"),
          count(when(col("l_quantity") <= col("aq50"), 1)).as("le50"),
          count(when(col("l_extendedprice") < col("aq99"), 1)).as("lt99"),
          count(when(col("l_extendedprice") <= col("aq99"), 1)).as("le99"))
        .select(col("l_returnflag"), col("n"),
          // `nq < 52 ||`: below 52 values the window is narrower than
          // one rank step — the verdict claims nothing rather than
          // asserting an unsound bound (degenerate-universe corpus:
          // 3-row groups legitimately landed outside). `.isNull ||`: an
          // all-NULL measure sketches to NULL — claim nothing instead of
          // going NULL, keeping parity with the oracle's literal TRUE
          // (round-10 ADVICE). `isnan ||`: a NaN sketch value has no
          // defined rank (NaN comparisons are all-false on the count
          // side) — same claim-nothing verdict; real corpora gate at
          // nq < 52 long before NaN dominates a 52-value group.
          (col("nq") < 52 || col("aq50").isNull || isnan(col("aq50"))
            || (col("lt50") <= col("nq") * 0.51
            && col("le50") >= col("nq") * 0.49 - 1)).as("q50_in_rank_tol"),
          (col("np") < 52 || col("aq99").isNull || isnan(col("aq99"))
            || (col("lt99") <= col("np") * 0.995
            && col("le99") >= col("np") * 0.98 - 1)).as("q99_in_rank_tol"))
    }),

    // Money sums in EXACT INTEGER CENTS (the ExactMoney recipe): these
    // two keys' grand-total/marginal cells sum the WHOLE fact table, and
    // at ×64 facts their double partial-sum noise crossed the r2 round
    // quantum (ULP/quantum ≈ 1/32 — the round-15 margin audit projected
    // it and the ×64f gate confirmed: 4 differing cells each, all the
    // giant-magnitude ones). rowPrec 8 is the DecimalAggregates
    // unscaled-long fast path (the (38,0) first cut tripled the key's
    // wall through rollup's 3× Expand — see ExactMoney's scaladoc).
    // Domain bound, not scale bound: 8 digits = cents of $999,999.99
    // per ROW (fixture max $105k/$500k) — a wider row throws
    // CAST_OVERFLOW under ANSI in Spark and a conversion error in
    // DuckDB, never a silently-wrong sum; the SUM itself is
    // decimal(18,0), overflow-safe to ~×4500 facts. sum_qty rounds
    // BEFORE the BIGINT cast (ExactMoney.units d=0) so the
    // double→integer semantics are engine-identical even on a future
    // non-integral quantity (r15 ADVICE — Spark's bare cast truncates,
    // DuckDB's rounds).
    // The units() quantize is HOISTED into a pre-rollup projection so the
    // per-row round/cast runs once per input row, below the Expand —
    // inside exactSum it sits in the aggregate's input expressions,
    // which evaluate per EXPANDED row (3x/4x for rollup/cube).
    "agg_rollup" -> ((s, d) => {
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"),
          ExactMoney.units(col("l_quantity"), 0).as("qu"),
          ExactMoney.units(col("l_extendedprice"), 2).as("pu"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          ExactMoney.exactSum(col("qu"), 8, 0).as("sum_qty"),
          ExactMoney.exactSum(col("pu"), 8, 2).as("sum_price"))
    }),

    "agg_cube" -> ((s, d) => {
      orders(s, d)
        .select(col("o_orderstatus"), col("o_orderpriority"),
          ExactMoney.units(col("o_totalprice"), 2).as("pu"))
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          ExactMoney.exactSum(col("pu"), 8, 2).as("sum_price"))
    }),

    "agg_grouping_sets" -> ((s, d) => T.sql(s, d, """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      """)),

    // ---- sorts / limits / top-k -----------------------------------------
    // Date-sorted per-file detail (the API's response ordering), with a
    // secondary desc key.
    "sort_detail_by_date" -> ((s, d) => {
      events(s, d)
        .filter(col("event_type") === "click")
        .select(day(col("ts")).as("day"), col("event_id"), col("value"))
        .orderBy(col("day"), desc("value"), col("event_id"))
    }),

    // Global top-10 by revenue: planned as TakeOrderedAndProject — per-
    // partition heaps + driver merge, never a full sort at 100 TB.
    "topk_global" -> ((s, d) => {
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          r6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"), col("l_linenumber"))
        .limit(10)
    }),

    "limit_offset" -> ((s, d) => {
      part(s, d)
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
        .orderBy(col("p_partkey"))
        .offset(10).limit(10)
    }),

    // ---- set operations --------------------------------------------------
    // Union of day-slices (multi-day ingest is a UNION ALL of daily dumps).
    "setop_union_all" -> ((s, d) => {
      val e = events(s, d).select(day(col("ts")).as("day"), col("event_id"))
      val a = e.filter(col("day") <= lit(java.sql.Date.valueOf("2024-01-10")))
      val b = e.filter(col("day").between(
        lit(java.sql.Date.valueOf("2024-01-05")), lit(java.sql.Date.valueOf("2024-01-15"))))
      a.unionByName(b)
        .groupBy(col("day")).agg(count(lit(1)).as("n"))
    }),

    "setop_union_distinct" -> ((s, d) => {
      val e = events(s, d)
      val a = e.filter(day(col("ts")) <= lit(java.sql.Date.valueOf("2024-01-15")))
        .select(col("user_id"), col("event_type"))
      val b = e.filter(day(col("ts")) > lit(java.sql.Date.valueOf("2024-01-15")))
        .select(col("user_id"), col("event_type"))
      a.union(b).distinct()
    }),

    "setop_intersect" -> ((s, d) => {
      val e = events(s, d)
      val a = e.filter(day(col("ts")) <= lit(java.sql.Date.valueOf("2024-01-15")))
        .select(col("user_id"))
      val b = e.filter(day(col("ts")) > lit(java.sql.Date.valueOf("2024-01-15")))
        .select(col("user_id"))
      a.intersect(b)
    }),

    "setop_except" -> ((s, d) => {
      val e = events(s, d)
      val a = e.filter(day(col("ts")) <= lit(java.sql.Date.valueOf("2024-01-15")))
        .select(col("user_id"), col("event_type"))
      val b = e.filter(day(col("ts")) > lit(java.sql.Date.valueOf("2024-01-15")))
        .select(col("user_id"), col("event_type"))
      a.except(b)
    }),

    // Multiset (bag) set ops: EXCEPT ALL / INTERSECT ALL keep duplicate
    // multiplicities — planned as hash aggregates over count deltas, not
    // row-pairing; one shuffle each, same as distinct set ops.
    // r18 OPTIMIZATION (guide §2.4): exceptAll and intersectAll each
    // planned their own Union + sign-aggregate + replicate leg over the
    // SAME two filtered scans — 4 events scans and 2 exchanges of the
    // identical (user_id, event_type) projection (the legs' tag columns
    // differ, so ReuseExchange can't merge them; see
    // plans/r18/setop_multiset_before.txt). The b side is a subset of
    // the a side BY THE KEY'S OWN FILTERS (value<50 ⊆ value<100), so a
    // single grouped count pass yields both multiset multiplicities
    // exactly: na−nb 'except_all' copies (max(na−nb,0) = na−nb since
    // nb ≤ na) and min(na,nb) = nb 'intersect_all' copies — which is
    // precisely Spark's own internal rewrite of these operators
    // (union → count aggregate → replicate_rows), applied ONCE. One
    // scan, one exchange; array_repeat(…, ≤0) is empty, so zero-count
    // ops drop exactly as the operators dropped them. Old ≡ new pinned
    // in OptimizationParitySpec incl. NULL keys and boundary values.
    // r19 (r18 ADVICE): the INT casts are overflow-guarded — a per-group
    // multiplicity above Int.MaxValue now raises instead of wrapping
    // negative and silently emitting an empty array (Spark's internal
    // ReplicateRows rewrite carries Long counts; a replicated ARRAY
    // cannot, so the honest contract at that scale is a loud failure).
    "setop_multiset" -> ((s, d) => {
      events(s, d).filter(col("value") < 100)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("na"), expr("count_if(value < 50)").as("nb"))
        .select(col("user_id"), col("event_type"),
          explode(concat(
            expr(s"array_repeat('except_all', ${T.intExactSql("na - nb")})"),
            expr(s"array_repeat('intersect_all', ${T.intExactSql("nb")})")))
            .as("op"))
    }),

    // Partition-pruned scan: date-partitioned at-rest layout (the 100 TB
    // events table shape), read back with a day-range predicate — the
    // filter lands in PartitionFilters, so non-matching days are never
    // listed, let alone read. The partitioned copy is written once per sf
    // into /tmp and reused; the oracle aggregates the raw table.
    "scan_partition_pruned" -> ((s, d) => {
      eventsByDay(s, d)
        .filter(col("day").between(lit(java.sql.Date.valueOf("2024-01-05")),
          lit(java.sql.Date.valueOf("2024-01-09"))))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("total"))
    }),

    // DYNAMIC partition pruning — the 100 TB star-join read path
    // (scan_partition_pruned proves only STATIC pruning). The fact is the
    // same day-partitioned layout; the dim filter (days with an odd event
    // count) is NOT a literal predicate on the partition column, so no
    // static prune applies — instead the broadcast side's day set is fed
    // into the fact scan as a dynamicpruningexpression in PartitionFilters
    // (PlanSpec asserts it), and non-matching day directories are never
    // read. reuseBroadcastOnly (default) makes the pruning subquery free:
    // it reuses the join's own broadcast.
    "scan_dpp" -> ((s, d) => {
      val fact = eventsByDay(s, d)
      val dim = events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_day"))
        .filter(col("n_day") % 2 === 1)
        .select(col("day"))
      fact
        .join(broadcast(dim), Seq("day"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("total"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "scan_parquet_pushdown" -> """
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity < 10
      ORDER BY l_orderkey, l_linenumber
    """,

    "scan_tsv_logs" -> """
      WITH lines AS (
        SELECT concat_ws(chr(9), CAST(event_id AS VARCHAR), strftime(ts, '%Y-%m-%d'),
                         event_type,
                         CASE WHEN event_id % 10 = 0 THEN '-' ELSE CAST(value AS VARCHAR) END)
               AS line
        FROM events
      ), parsed AS (
        SELECT CAST(string_split(line, chr(9))[1] AS BIGINT) AS event_id,
               CAST(strptime(string_split(line, chr(9))[2], '%Y-%m-%d') AS DATE) AS day,
               string_split(line, chr(9))[3] AS event_type,
               coalesce(TRY_CAST(string_split(line, chr(9))[4] AS DOUBLE), 0.0) AS cnt
        FROM lines
      )
      SELECT day, event_type, count(*) AS n, round(sum(cnt), 4) AS total
      FROM parsed GROUP BY day, event_type ORDER BY day, event_type
    """,

    "filter_media_whitelist" -> """
      SELECT doc_id, lang, source, n_chars
      FROM documents
      WHERE lang IN ('en','de','fr') AND source IN ('src0','src1','src2','src3','src4')
        AND n_chars >= 40
      ORDER BY doc_id
    """,

    "proj_play_count" -> """
      SELECT l_orderkey, l_linenumber,
             round(l_extendedprice * (1 - l_discount), 6) AS revenue,
             round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charged
      FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,

    // DuckDB 1.0 has no url_decode builtin; the escape set is a FIXED
    // finite literal set, so a chained replace (longest token first — the
    // multibyte %C3%A9 before its %C3 prefix could ever match) decodes it
    // exactly.
    "proj_url_decode" -> """
      SELECT p_partkey,
             replace(replace(replace(replace(replace(
               'dir%2Fsub%20f%C3%A9%7E%2B' || replace(p_name, ' ', '%20'),
               '%C3%A9', 'é'), '%2F', '/'), '%20', ' '), '%7E', '~'), '%2B', '+') AS decoded,
             p_name AS roundtrip,
             string_split('/wikipedia/commons/a/ab/' || p_name, '/')[-1] AS stripped
      FROM part ORDER BY p_partkey
    """,

    "filter_date_predicate" -> """
      SELECT event_id, ts, event_type, value
      FROM events
      WHERE user_id = 7
        AND ts BETWEEN TIMESTAMP '2024-01-05' AND TIMESTAMP '2024-01-15'
      ORDER BY event_id
    """,

    "agg_daily_counts" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n_events, round(sum(value), 4) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY day, event_type
    """,

    // HAVING count(*) > 0 on the ROLLUP/CUBE/GROUPING SETS oracles (and
    // the per-table metadata counts): Spark implements grouping sets via
    // Expand over INPUT ROWS, so zero input rows yield zero groups, while
    // DuckDB follows the SQL standard and emits the () grand-total group
    // (count 0) even on empty input. Any group formed from actual rows
    // has count(*) >= 1, so the gate is a no-op on non-empty input and
    // pure dialect alignment on empty (all-empty probe, r11).
    "agg_range_total" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS n, round(sum(value), 4) AS total
      FROM events
      WHERE event_type = 'view'
        AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
      GROUP BY ROLLUP(1) HAVING count(*) > 0
      ORDER BY day NULLS FIRST
    """,

    "agg_distinct_users" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             count(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1 ORDER BY day
    """,

    "agg_multi_distinct" -> """
      SELECT event_type,
             count(DISTINCT user_id) AS n_users,
             count(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS n_days,
             round(sum(value), 4) AS total_value
      FROM events GROUP BY event_type ORDER BY event_type
    """,

    "agg_salted_skew" -> """
      SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS total_value
      FROM events GROUP BY event_type ORDER BY event_type
    """,

    // Ordered-step funnel: strictly-later timestamps, each step within
    // 24 h of the previous step's first completion.
    "agg_funnel_steps" -> """
      WITH e AS (SELECT user_id, ts, event_type FROM events
                 WHERE user_id IS NOT NULL),
      m1 AS (SELECT user_id, min(ts) AS t1 FROM e
             WHERE event_type = 'view' GROUP BY user_id),
      m2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN m1 USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > m1.t1
               AND e.ts <= m1.t1 + INTERVAL 24 HOURS GROUP BY e.user_id),
      m3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN m2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > m2.t2
               AND e.ts <= m2.t2 + INTERVAL 24 HOURS GROUP BY e.user_id)
      SELECT (SELECT count(*) FROM m1) AS n_view,
             (SELECT count(*) FROM m2) AS n_click,
             (SELECT count(*) FROM m3) AS n_purchase
    """,

    "agg_retention_cohort" -> """
      WITH d AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
                 FROM events WHERE user_id IS NOT NULL),
      c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id)
      SELECT cohort, CAST(date_diff('day', cohort, day) AS BIGINT) AS day_offset,
             count(*) AS n_users
      FROM d JOIN c USING (user_id)
      GROUP BY cohort, day_offset ORDER BY cohort, day_offset
    """,

    "scan_file_metadata" -> """
      SELECT 'lineitem.parquet' AS fname, count(*) AS n_rows FROM lineitem
      HAVING count(*) > 0
      UNION ALL
      SELECT 'orders.parquet' AS fname, count(*) AS n_rows FROM orders
      HAVING count(*) > 0
      ORDER BY fname
    """,

    "agg_bitmap_distinct" -> """
      SELECT event_type, count(DISTINCT user_id) AS n_users
      FROM events WHERE user_id IS NOT NULL
      GROUP BY event_type ORDER BY event_type
    """,

    "agg_datasketch_hll" -> """
      SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
             TRUE AS within_5pct
      FROM events WHERE user_id IS NOT NULL
      GROUP BY event_type ORDER BY event_type
    """,

    // Tolerance-verdict oracles for the sketch keys: the oracle computes
    // the EXACT side and asserts the verdict TRUE; Spark computes the
    // verdict from its own sketch vs its own exact aggregate. A sketch
    // value can never hash-match across engines — a verdict about it can.
    "agg_approx_hll" -> """
      SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
             TRUE AS within_5pct
      FROM events GROUP BY event_type ORDER BY event_type
    """,

    "agg_approx_quantiles" -> """
      SELECT l_returnflag, count(*) AS n,
             TRUE AS q50_in_rank_tol, TRUE AS q99_in_rank_tol
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,

    "agg_boolean" -> """
      SELECT event_type,
             count(*) FILTER (value > 100) AS n_high,
             bool_and(value >= 0) AS all_nonneg,
             bool_or(value > 190) AS any_extreme
      FROM events GROUP BY event_type ORDER BY event_type
    """,

    "agg_corr_stats" -> s"""
      WITH b AS (
        SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
               CAST(round(l_discount * 100) AS BIGINT) AS dc,
               CAST(round(l_tax * 100) AS BIGINT) AS tc
        FROM lineitem),
      m AS (
        SELECT l_returnflag, count(*) AS n,
               sum(q) AS s_q, sum(q*q) AS s_qq,
               sum(pc) AS s_pc, sum(pc*pc) AS s_pp,
               sum(q*pc) AS s_qp,
               sum(dc) AS s_dc, sum(tc) AS s_tc, sum(dc*tc) AS s_dt
        FROM b GROUP BY l_returnflag)
      SELECT l_returnflag, n,
             ${statSql(corrStats).mkString(",\n             ")}
      FROM m ORDER BY l_returnflag
    """,

    "join_exists_correlated" -> (existsCorrelatedSql + "\n      ORDER BY c_custkey\n    "),

    "agg_pivot" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             round(sum(value) FILTER (event_type = 'view'), 4) AS view,
             round(sum(value) FILTER (event_type = 'click'), 4) AS click,
             round(sum(value) FILTER (event_type = 'error'), 4) AS error,
             round(sum(value) FILTER (event_type = 'purchase'), 4) AS purchase,
             round(sum(value) FILTER (event_type = 'signup'), 4) AS signup
      FROM events GROUP BY 1 ORDER BY day
    """,

    "proj_unpivot" -> """
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
      ORDER BY l_orderkey, l_linenumber, measure
    """,

    "agg_collect_ordered" -> """
      SELECT user_id,
             string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types,
             count(DISTINCT event_type) AS n_types
      FROM events GROUP BY user_id ORDER BY user_id
    """,

    "agg_argminmax" -> """
      WITH r AS (
        SELECT event_type, event_id, value,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY value DESC NULLS LAST, event_id DESC) AS rmax,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY value ASC NULLS LAST, event_id ASC) AS rmin
        FROM events)
      SELECT event_type,
             max(CASE WHEN rmax = 1 AND value IS NOT NULL THEN event_id END) AS max_value_event,
             max(CASE WHEN rmin = 1 AND value IS NOT NULL THEN event_id END) AS min_value_event,
             round(max(value), 6) AS max_value,
             round(min(value), 6) AS min_value
      FROM r GROUP BY event_type ORDER BY event_type
    """,

    "agg_histogram" -> s"""
      SELECT $histBucketSql AS bucket, count(*) AS n
      FROM events GROUP BY 1 ORDER BY bucket NULLS FIRST
    """,

    "agg_percentiles" -> """
      -- NaN → NULL mirrors the product: DuckDB's nth_element quantile
      -- has unspecified NaN placement (IEEE < is not a strict weak
      -- order); NULLs are skipped by quantile_cont in both engines.
      WITH c AS (
        SELECT l_returnflag,
               CASE WHEN isnan(l_quantity) THEN NULL
                    ELSE l_quantity END AS q,
               CASE WHEN isnan(l_extendedprice) THEN NULL
                    ELSE l_extendedprice END AS p
        FROM lineitem)
      SELECT l_returnflag, count(*) AS n,
             round(quantile_cont(q, 0.5), 6) AS q50_qty,
             round(quantile_cont(q, 0.9), 6) AS q90_qty,
             round(quantile_cont(p, 0.25), 6) AS q25_price,
             round(quantile_cont(p, 0.99), 6) AS q99_price
      FROM c GROUP BY l_returnflag ORDER BY l_returnflag
    """,

    "agg_skew_kurt" -> s"""
      WITH b AS (
        SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
               CAST(round(l_discount * 100) AS BIGINT) AS c
        FROM lineitem),
      m AS (
        SELECT l_returnflag, count(*) AS n,
               sum(q) AS s1_q, sum(q*q) AS s2_q,
               sum(q*q*q) AS s3_q, sum(q*q*q*q) AS s4_q,
               sum(c) AS s1_c, sum(c*c) AS s2_c,
               sum(c*c*c) AS s3_c, sum(c*c*c*c) AS s4_c
        FROM b GROUP BY l_returnflag)
      SELECT l_returnflag, n,
             ${statSql(momentStats("q", "qty")).mkString(",\n             ")},
             ${statSql(momentStats("c", "disc")).mkString(",\n             ")}
      FROM m ORDER BY l_returnflag
    """,

    "sql_tpch_q1" -> (tpchQ1Sql + "\n      ORDER BY l_returnflag, l_linestatus"),

    "sql_tpch_q5" -> (tpchQ5Sql + "\n      ORDER BY n_name"),

    "sql_tpch_q17" -> (tpchQ17Sql + "\n      ORDER BY p_brand"),

    "sql_tpch_q2" -> (tpchQ2Sql + "\n      ORDER BY p_partkey, s_name"),

    "sql_tpch_q11" -> (tpchQ11Sql + "\n      ORDER BY s_nationkey"),

    "sql_tpch_q20" -> (tpchQ20Sql + "\n      ORDER BY s_suppkey"),

    "sql_tpch_q18" -> (tpchQ18Sql + "\n      ORDER BY o_orderkey"),

    "sql_tpch_q19" -> tpchQ19Sql,

    "sql_tpch_q21" -> (tpchQ21Sql + "\n      ORDER BY s_name"),

    "sql_tpch_q22" -> (tpchQ22Sql + "\n      ORDER BY cntrycode"),

    "sql_tpch_q3" -> tpchQ3Sql,

    "agg_median" -> """
      -- NaN → NULL mirrors the product's nanvl ejection (the DuckDB
      -- quantile family has unspecified NaN placement — r12).
      WITH c AS (
        SELECT event_type,
               CASE WHEN isnan(value) THEN NULL ELSE value END AS value
        FROM events)
      SELECT event_type, count(*) AS n,
             round(quantile_cont(value, 0.5), 6) AS med_value,
             round(quantile_disc(value, 0.25), 6) AS p25_disc,
             round(quantile_disc(value, 0.75), 6) AS p75_disc
      FROM c GROUP BY event_type ORDER BY event_type
    """,

    // Money columns via the ExactMoney SQL side — SAME helper the
    // DataFrame builders call, so product and oracle cannot drift apart
    // on the recipe (r15 VERDICT task 3).
    "agg_rollup" -> s"""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             ${ExactMoney.exactSumSql(ExactMoney.unitsSql("l_quantity", 0), 8, 0)} AS sum_qty,
             ${ExactMoney.exactSumSql(ExactMoney.unitsSql("l_extendedprice", 2), 8, 2)} AS sum_price
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      HAVING count(*) > 0
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,

    "agg_cube" -> s"""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             ${ExactMoney.exactSumSql(ExactMoney.unitsSql("o_totalprice", 2), 8, 2)} AS sum_price
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      HAVING count(*) > 0
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,

    "agg_grouping_sets" -> """
      SELECT o_orderstatus, o_orderpriority, count(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      HAVING count(*) > 0
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,

    "sort_detail_by_date" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_id, value
      FROM events WHERE event_type = 'click'
      ORDER BY day, value DESC, event_id
    """,

    "topk_global" -> """
      SELECT l_orderkey, l_linenumber,
             round(l_extendedprice * (1 - l_discount), 6) AS revenue
      FROM lineitem
      ORDER BY revenue DESC, l_orderkey, l_linenumber LIMIT 10
    """,

    "limit_offset" -> """
      SELECT p_partkey, p_name, p_brand
      FROM part ORDER BY p_partkey LIMIT 10 OFFSET 10
    """,

    "setop_union_all" -> """
      WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_id FROM events)
      SELECT day, count(*) AS n FROM (
        SELECT * FROM e WHERE day <= DATE '2024-01-10'
        UNION ALL
        SELECT * FROM e WHERE day BETWEEN DATE '2024-01-05' AND DATE '2024-01-15'
      ) GROUP BY day ORDER BY day
    """,

    "setop_union_distinct" -> """
      SELECT user_id, event_type FROM events
        WHERE CAST(date_trunc('day', ts) AS DATE) <= DATE '2024-01-15'
      UNION
      SELECT user_id, event_type FROM events
        WHERE CAST(date_trunc('day', ts) AS DATE) > DATE '2024-01-15'
      ORDER BY user_id, event_type
    """,

    "setop_intersect" -> """
      SELECT user_id FROM events
        WHERE CAST(date_trunc('day', ts) AS DATE) <= DATE '2024-01-15'
      INTERSECT
      SELECT user_id FROM events
        WHERE CAST(date_trunc('day', ts) AS DATE) > DATE '2024-01-15'
      ORDER BY user_id
    """,

    "setop_except" -> """
      SELECT user_id, event_type FROM events
        WHERE CAST(date_trunc('day', ts) AS DATE) <= DATE '2024-01-15'
      EXCEPT
      SELECT user_id, event_type FROM events
        WHERE CAST(date_trunc('day', ts) AS DATE) > DATE '2024-01-15'
      ORDER BY user_id, event_type
    """,

    "setop_multiset" -> """
      WITH a AS (SELECT user_id, event_type FROM events WHERE value < 100),
           b AS (SELECT user_id, event_type FROM events WHERE value < 50)
      SELECT *, 'except_all' AS op FROM (
        SELECT * FROM a EXCEPT ALL SELECT * FROM b)
      UNION ALL
      SELECT *, 'intersect_all' AS op FROM (
        SELECT * FROM a INTERSECT ALL SELECT * FROM b)
      ORDER BY op, user_id, event_type
    """,

    "scan_partition_pruned" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n, round(sum(value), 4) AS total
      FROM events
      WHERE CAST(date_trunc('day', ts) AS DATE)
              BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'
      GROUP BY 1, 2 ORDER BY 1, 2
    """,

    "scan_dpp" -> """
      WITH dim AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events GROUP BY 1 HAVING count(*) % 2 = 1)
      SELECT e.day, e.event_type, count(*) AS n, round(sum(e.value), 4) AS total
      FROM (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, value
            FROM events) e
      JOIN dim ON e.day = dim.day
      GROUP BY 1, 2 ORDER BY 1, 2
    """
  )
}
