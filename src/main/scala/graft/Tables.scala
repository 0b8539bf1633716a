package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap

/** Shared table readers and oracle-parity helpers.
  *
  * Parity rules (SURVEY.md §5.2): explicit ordering on a unique key set,
  * floats rounded before output, sums of ints cast to BIGINT on the DuckDB
  * side, ascending order keys declared NULLS FIRST in oracle SQL (DuckDB
  * defaults to NULLS LAST; Spark's asc is NULLS FIRST).
  */
object T {

  /** Left-to-right `(a*mult + codePoint) % p` fold over the string's
    * UNICODE CODE POINTS — the Scala twin of the oracle fragment
    * `list_reduce(string_split(s,'') → ascii(c))`, which iterates code
    * points (DuckDB chars ARE code points; Spark's split('')/ascii
    * likewise — verified empirically on BMP and astral input). A plain
    * `foldLeft` over a Scala String iterates UTF-16 CODE UNITS, which
    * diverges on astral characters (surrogate pairs fold as two values)
    * — found by the round-10 unicode corpus. ASCII results are
    * bit-identical to the old fold (code point == code unit there).
    */
  private[graft] def cpFold(s: String, mult: Long, p: Long): Long = {
    var a = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      a = (a * mult + cp) % p
      i += Character.charCount(cp)
    }
    a
  }

  /** All fixture tables, for view registration / docs. */
  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet reader that reads with a given schema. Inferring a parquet
    * schema runs one Spark job over the footers, so each fixture's schema
    * is inferred once per session and then given to every later read of
    * it. The cache holds `StructType`s only, never data. An entry is keyed
    * by the session, the path's [[Staging.fileSig]] (size and mtime in ns,
    * so a fixture rewritten mid-JVM is inferred again) and the session's
    * parquet settings, which decide how a file's schema reads. A path that
    * is not a local file is inferred on every read.
    */
  def tbl(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (!Files.exists(Paths.get(path))) spark.read.parquet(path)
    else {
      val parquetConf = spark.conf.getAll.toSeq
        .filter { case (k, _) => k.contains(".parquet.") }.sorted.mkString(";")
      val perSession = schemas.synchronized(
        schemas.computeIfAbsent(spark, _ => TrieMap.empty[String, StructType]))
      val key = s"$path|${Staging.fileSig(Paths.get(path))}|$parquetConf"
      val schema = perSession.getOrElseUpdate(key, spark.read.parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }
  }

  private val schemas =
    new java.util.WeakHashMap[SparkSession, TrieMap[String, StructType]]()

  def lineitem(s: SparkSession, d: String): DataFrame = tbl(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = tbl(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = tbl(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = tbl(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = tbl(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = tbl(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = tbl(s, d, "region")
  /** events with `ts` as TIMESTAMP (LTZ), via [[normalizeTs]]. The
    * fixtures write timestamp[µs] without UTC adjustment, which Spark reads
    * as TIMESTAMP_NTZ. The session TZ is pinned UTC (build.sbt), so the
    * NTZ→LTZ cast keeps every instant, and every downstream
    * window/watermark/date_trunc sees one type. A TIMESTAMP(NANOS) file
    * fails the read (PARQUET_TYPE_ILLEGAL).
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(tbl(s, d, "events"))

  /** `ts` as TimestampType: a TIMESTAMP_NTZ column is cast under a UTC
    * session, a TIMESTAMP column is returned unchanged, and any other type
    * fails, naming it (a raw long has no unit to read it by).
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case TimestampNTZType =>
        // The NTZ→LTZ cast reinterprets the wall-clock fields in the
        // SESSION timezone — value-preserving ONLY under UTC. That
        // invariant lives in session config (build.sbt fork options /
        // each builder), not in this code path, so fail loudly rather
        // than silently shifting every instant if a caller ever runs
        // non-UTC.
        val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
        // Compare normalized zone rules, not the literal string: 'UTC',
        // 'Etc/UTC', 'Z', '+00:00' are all value-preserving for the cast
        // and must all pass; only a genuinely shifted zone should throw.
        val isUtc = scala.util.Try(
          java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
        ).getOrElse(false)
        require(isUtc,
          s"events.ts is TIMESTAMP_NTZ: the NTZ->TIMESTAMP cast requires " +
            s"a UTC session timezone (got '$tz')")
        df.withColumn("ts", col("ts").cast("timestamp"))
      case t =>
        require(t == TimestampType,
          s"ts must be TIMESTAMP or TIMESTAMP_NTZ, got ${t.simpleString}")
        df
    }
  def documents(s: SparkSession, d: String): DataFrame  = tbl(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = tbl(s, d, "embeddings")

  /** All three rounders run graft.functions.DuckRound — the ORACLE's own
    * double-rounding algorithm (std::round(x·10ᵖ)/10ᵖ, ties away from
    * zero), codegen'd. Parity is structural (including -0.0, which
    * Spark's BigDecimal round drops) and it benches ~8× faster per value
    * than the builtin round's BigDecimal path.
    */
  private def duckRound(c: Column, scale: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.DuckRoundExpr(
      ColumnBridge.expression(c.cast("double")), scale))
  }

  /** Round for per-row arithmetic outputs (bit-identical across engines). */
  def r6(c: Column): Column = duckRound(c, 6)

  /** Round for sums over many rows — coarser, absorbs fp-ordering noise. */
  def r4(c: Column): Column = duckRound(c, 4)

  /** Round for money-magnitude sums (1e8+), where fp noise is largest. */
  def r2(c: Column): Column = duckRound(c, 2)

  /** events.ts truncated to day as DATE (identical in Spark and DuckDB). */
  def day(c: Column): Column = date_trunc("DAY", c).cast("date")

  /** SQL fragment: BIGINT expression cast to INT, failing LOUDLY on
    * overflow (r18 ADVICE on setop_multiset): a plain CAST wraps negative
    * under ANSI-off and array_repeat on a negative count silently returns
    * an empty array — silent row loss. Unreachable below ~2^31 rows per
    * group, but keys that argue 100 TB semantics must fail, not lose rows.
    * The guarded value is identical to CAST(e AS INT) whenever it fits.
    *
    * Precondition: `e` is non-negative. Only the upper bound is guarded,
    * so a value below Int.MinValue would still wrap. Both call sites
    * (`setop_multiset`) pass counts: `nb` is a count_if and `na − nb`
    * is ≥ 0 because `nb` counts a subset of the rows `na` counts.
    */
  def intExactSql(e: String): String =
    s"CASE WHEN ($e) <= 2147483647 THEN CAST(($e) AS INT) " +
      s"ELSE CAST(raise_error(CONCAT('count exceeds Int.MaxValue: ', " +
      s"CAST(($e) AS STRING))) AS INT) END"

  // NOTE on input layout (2026-08-13 fixture regeneration): every fixture
  // table is now ONE parquet row group, and a parquet scan parallelizes at
  // row-group granularity — scan-fused stages run single-task at any
  // master width. A layout-decoupling repartition after the scan was
  // measured at the two heaviest compute-after-scan sites and REJECTED
  // both times (dedup signature fold 1.75→1.89 s, embed-cosine assignment
  // 2.10→2.40 s, isolated 2-JVM medians): at fixture scale the serial
  // work above the scan is cheaper than the exchange, and the remaining
  // delta is an unavoidable serial-decode floor. At cluster scale the
  // same decision holds in reverse — healthy multi-row-group inputs give
  // the scan its parallelism for free, so no loader here adds an
  // unconditional exchange.
}

/** One bundle of driver-contract queries plus their DuckDB oracle SQL. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}
