package graft.api

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's user-facing query surface, re-expressed as a library
  * over DataFrames — a user of `harej/mediaplaycounts` maps each call
  * 1:1 (ref cites [UNVERIFIED], reconstructed public behavior —
  * SURVEY.md §0, §3):
  *
  * | reference                                   | here                 |
  * |---------------------------------------------|----------------------|
  * | `FilePlaycount.date_count(file, date)`      | `dateCount`          |
  * | `FilePlaycount.date_range_count(f, s, e)`   | `dateRangeCount`     |
  * | `FilePlaycount.last_30(file)`               | `last30`             |
  * | `FilePlaycount.last_90(file)`               | `last90`             |
  * | `CategoryPlaycount` (AskCommons + sum)      | `categoryCount` (recursive overload = subcategory descent) |
  * | `LogProcessor.parse` (TSV → counts rows)    | `Playcounts.fromMediacountsLog` |
  *
  * `counts` schema: (file STRING, date DATE, count BIGINT) — the
  * reference's MySQL `counts` table, held as a (date-partitionable)
  * DataFrame.
  *
  * Every request method runs its Spark jobs when it is called and
  * returns a local DataFrame holding the answer; constructing a
  * `Playcounts` runs nothing.
  *
  * File requests answer first and probe only on an empty answer. The
  * answer scan collects the file's (date, count) rows under the request's
  * date filter: no aggregate, so one job over the date-pruned files with
  * `file` pushed down. Those rows are bounded by days-in-range × path
  * variants of one name, and are summed on the driver with ANSI `sum`'s
  * rules (NULLs skipped, overflow throws). A row proves the file known;
  * only an empty answer runs the existence probe, one job over every
  * partition in which each task stops at its first match. The probe is
  * never folded into the answer scan: an existence test inside the
  * answer aggregate must read the file's whole history with no early
  * exit and loses the answer's date pruning (measured 2–3× slower on the
  * known-file path over a 1500-partition table).
  *
  * Category requests resolve their member files with a broadcast
  * left-semi join, so the counts table is scanned once, only its
  * per-file partial sums are shuffled, and a file listed twice counts
  * once; the per-file sums they collect are bounded by the membership
  * the broadcast already holds.
  */
final class Playcounts(counts: DataFrame) {
  import Playcounts._

  private def local(schema: StructType, rows: Seq[Row]): DataFrame =
    counts.sparkSession.createDataFrame(rows.asJava, schema)

  /** `file`'s (date, count) rows on the dates `onDates` keeps. */
  private def lookup(file: String, onDates: Column): Array[Row] =
    counts.filter(col("file") === file && onDates)
      .select(col("date"), col("count")).collect()

  /** Does the counts table hold any row of `file`? Gates the zero-fill,
    * so "zero plays that day" (known file) and "never seen" (empty
    * answer, the reference's unknown-file error path) stay apart.
    */
  private def knownFile(file: String): Boolean =
    counts.sparkSession.sparkContext.runJob(
      counts.filter(col("file") === file).queryExecution.toRdd,
      (rows: Iterator[InternalRow]) => rows.hasNext).contains(true)

  /** Single (file, date) point lookup — MySQL PK lookup analog. A KNOWN
    * file on a date with no stored row answers count 0, not an empty
    * result: the reference's API returns a zero count for dates with no
    * plays (the same zero-fill contract as `join_anti_zerofill`), and
    * the pipeline_daily_e2e oracle (a COUNT(*) over the raw events)
    * produces a 0-row for such dates. A filename absent from counts
    * entirely answers an EMPTY result.
    */
  def dateCount(file: String, date: java.sql.Date): DataFrame = {
    val rows = lookup(file, col("date") === date)
    local(DateCountSchema,
      if (rows.isEmpty && !knownFile(file)) Nil
      else Seq(Row(file, date, orZero(sumExact(rows.map(countOf))))))
  }

  /** Range query: grand total + date-sorted per-day details — the
    * `{filename, total, details:[{date,count}…]}` API response shape.
    * Same unknown-file contract as `dateCount`: a known file with no
    * plays in range answers (total 0, details []), an unknown file
    * answers empty.
    */
  def dateRangeCount(file: String, start: java.sql.Date, end: java.sql.Date): DataFrame = {
    val rows = lookup(file, col("date").between(start, end))
    // The detail struct's date keeps the table's nullability, as a
    // grouping key over the table's date column does.
    val schema = dateRangeSchema(counts.schema("date").nullable)
    if (rows.isEmpty && !knownFile(file)) local(schema, Nil)
    else {
      val details = rows.groupBy(_.getDate(0)).toSeq.sortBy(_._1.getTime)
        .map { case (d, day) => Row(d, sumExact(day.map(countOf))) }
      local(schema, Seq(Row(file, orZero(sumExact(details.map(countOf))), details)))
    }
  }

  /** Sliding "last N days" ending at `asOf` (the reference anchors at
    * today; explicit anchor keeps the library deterministic).
    */
  def lastN(file: String, asOf: java.sql.Date, n: Int): DataFrame = {
    // Loud contract: n <= 0 is caller garbage — a silent empty-range
    // zero-total for a known file would be indistinguishable from "no
    // plays in the window" (same loud-beats-silent rule as the
    // batch value-domain keys).
    require(n > 0, s"lastN window must be positive, got $n")
    dateRangeCount(file, java.sql.Date.valueOf(asOf.toLocalDate.minusDays(n - 1L)), asOf)
  }

  def last30(file: String, asOf: java.sql.Date): DataFrame = lastN(file, asOf, 30)
  def last90(file: String, asOf: java.sql.Date): DataFrame = lastN(file, asOf, 90)

  /** Category roll-up: membership (category, file) ⨝ counts, summed per
    * category — the reference's only join, done there as N API calls +
    * a Python loop; here one broadcast semi-join + per-file aggregate.
    */
  def categoryCount(members: DataFrame, category: String,
                    start: java.sql.Date, end: java.sql.Date): DataFrame =
    rollup(members.filter(col("category") === category), category, start, end)

  /** Recursive variant — the reference's AskCommons category →
    * subcategory → … descent: membership is the closure of `category`
    * over the `edges` (parent, child) dimension. The closure is walked on
    * the driver, one job per round (the next frontier's children), with
    * the seen set held locally, so the walk terminates on cyclic graphs
    * and a file reachable through several subcategories counts once.
    * Depth is bounded LOUDLY (callers with deeper hierarchies raise
    * `maxDepth` — real Commons chains can exceed the default), and so is
    * the closure's size (`MaxClosureCategories`).
    */
  def categoryCount(members: DataFrame, edges: DataFrame, category: String,
                    start: java.sql.Date, end: java.sql.Date,
                    maxDepth: Int = 20): DataFrame = {
    var seen = Set(category)
    var frontier = seen
    var round = 0
    while (frontier.nonEmpty && round < maxDepth) {
      frontier = edges.filter(col("parent").isin(frontier.toSeq: _*))
        .select(col("child")).collect().map(_.getString(0)).toSet -- seen
      seen ++= frontier
      require(seen.size <= MaxClosureCategories,
        s"category closure of $category exceeds $MaxClosureCategories categories")
      round += 1
    }
    require(frontier.isEmpty,
      s"category closure did not terminate within $round rounds; " +
        s"raise maxDepth (currently $maxDepth) for deeper hierarchies")
    rollup(members.filter(col("category").isin(seen.toSeq: _*)), category, start, end)
  }

  private def rollup(members: DataFrame, category: String,
                     start: java.sql.Date, end: java.sql.Date): DataFrame = {
    val perFile = counts
      .join(broadcast(members.select(col("file"))), Seq("file"), "left_semi")
      .filter(col("date").between(start, end))
      .groupBy(col("file")).agg(sum(col("count")).as("count"))
      .collect()
    local(CategorySchema,
      Seq(Row(category, orZero(sumExact(perFile.map(countOf))), perFile.length.toLong)))
  }
}

object Playcounts {

  /** Bound on a recursive category closure: its seen set lives on the
    * driver and is shipped to the roll-up as one IN list.
    */
  val MaxClosureCategories: Int = 100000

  private val DateCountSchema = new StructType()
    .add("file", StringType, nullable = false)
    .add("date", DateType, nullable = false)
    .add("count", LongType, nullable = false)

  private def dateRangeSchema(dateNullable: Boolean) = new StructType()
    .add("file", StringType, nullable = false)
    .add("total", LongType, nullable = false)
    .add("details", ArrayType(new StructType()
      .add("date", DateType, dateNullable)
      .add("count", LongType), containsNull = false), nullable = false)

  private val CategorySchema = new StructType()
    .add("category", StringType, nullable = false)
    .add("total", LongType, nullable = false)
    .add("n_files", LongType, nullable = false)

  /** Column 1 of a (key, count) row, NULL kept. */
  private def countOf(r: Row): java.lang.Long =
    if (r.isNullAt(1)) null else r.getLong(1)

  /** BIGINT `sum` as ANSI SQL computes it: NULLs skipped, NULL when no
    * value is left, overflow throws `ArithmeticException`.
    */
  private def sumExact(xs: Iterable[java.lang.Long]): java.lang.Long =
    xs.foldLeft(null: java.lang.Long) { (acc, x) =>
      if (x == null) acc
      else if (acc == null) x
      else Math.addExact(acc.longValue, x.longValue)
    }

  private def orZero(x: java.lang.Long): Long = if (x == null) 0L else x.longValue

  /** Playable-media extensions (reference whitelist [MED on exact set]). */
  val playableExtensions: Seq[String] =
    Seq("ogg", "oga", "ogv", "webm", "wav", "mp3", "mid", "flac")

  /** `LogProcessor.parse` as one declarative pipeline over raw mediacounts
    * TSV lines: split → whitelist filter (path prefix + extension) →
    * `-`→0 counter parse → play count = original + transcoded audio +
    * transcoded movie → percent-decode + dir-prefix strip → (file, date,
    * count) rows.
    *
    * Column positions follow the public mediacounts format: col 0 = path,
    * play-relevant transfer counters at positions 3 (original), 4
    * (transcoded audio), 16 (transcoded movie) [MED — positional detail].
    *
    * @param lines one raw TSV line per row, column name `line`
    * @param date  the dump's day (one file per day in the reference)
    */
  def fromMediacountsLog(lines: DataFrame, date: java.sql.Date): DataFrame = {
    val f = split(col("line"), "\t")
    // get(), not [i]: under ANSI an ordinal access beyond the array kills
    // the job with INVALID_ARRAY_INDEX, so one TRUNCATED dump line — the
    // most ordinary real-world corruption — would end the whole day.
    // get() answers NULL out of bounds, so a missing counter column falls
    // into the same '-'→0 rule as an unparseable one.
    def counter(i: Int): Column =
      coalesce(expr(s"try_cast(get(split(line, '\t'), $i) AS BIGINT)"), lit(0L))
    lines
      .select(element_at(f, 1).as("path"),
        // try_add, not `+`: this is the RAWEST ingest surface, and under
        // ANSI one absurd dump line with near-Long.Max counters kills
        // the whole day with ARITHMETIC_OVERFLOW (the Python reference's
        // bigints can't overflow). Overflow → NULL count → the count > 0
        // filter below drops the garbage row, matching the existing
        // tolerance for undecodable paths.
        try_add(try_add(counter(3), counter(4)), counter(16)).as("count"))
      .filter(col("path").startsWith("/wikipedia/commons/")
        && lower(regexp_extract(col("path"), "\\.([a-zA-Z0-9]+)$", 1))
          .isin(playableExtensions: _*))
      .select(
        // Percent-decode ONLY (the reference uses urllib.parse.unquote):
        // pre-escaping '+' keeps it literal (url_decode is form-encoding
        // and would turn it into a space), and try_+coalesce keeps one
        // malformed '%' from aborting a whole day's ingest — the Python
        // reference leaves undecodable bytes untouched.
        coalesce(
          expr("try_url_decode(replace(substring_index(path, '/', -1), '+', '%2B'))"),
          substring_index(col("path"), "/", -1)).as("file"),
        lit(date).as("date"),
        col("count"))
      .filter(col("count") > 0)
  }
}
