package graft

import java.sql.Date
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end reference-API parity: mediacounts-shaped TSV lines →
  * `fromMediacountsLog` ingest → every `FilePlaycount`/`CategoryPlaycount`
  * query shape, with hand-computed golden values.
  */
class ApiSpec extends AnyFunSuite {
  import SparkFixture._

  private def mkLine(path: String, orig: Long, tAudio: String, tMovie: Long): String = {
    // 17 cols: path, -, -, original, transcoded_audio, 11 fillers, transcoded_movie
    val cols = Array.fill[String](17)("-")
    cols(0) = path; cols(3) = orig.toString; cols(4) = tAudio; cols(16) = tMovie.toString
    cols.mkString("\t")
  }

  private lazy val day1 = Date.valueOf("2024-03-01")
  private lazy val day2 = Date.valueOf("2024-03-02")

  private lazy val counts = {
    import spark.implicits._
    val lines1 = Seq(
      mkLine("/wikipedia/commons/a/ab/Cat%20video.webm", 10, "5", 3),   // playable: 18
      mkLine("/wikipedia/commons/b/bc/Song.ogg", 7, "-", 0),            // playable: 7
      mkLine("/wikipedia/commons/c/cd/Photo.jpg", 99, "9", 9),          // filtered: not playable
      mkLine("/wikipedia/en/x/xy/Other.webm", 50, "1", 1)               // filtered: not commons
    ).toDF("line")
    val lines2 = Seq(
      mkLine("/wikipedia/commons/a/ab/Cat%20video.webm", 2, "1", 1)     // playable: 4
    ).toDF("line")
    api.Playcounts.fromMediacountsLog(lines1, day1)
      .unionByName(api.Playcounts.fromMediacountsLog(lines2, day2))
  }

  test("ingest: whitelist, '-'→0, url-decode, prefix strip, play sum") {
    val rows = counts.orderBy(col("date"), col("file"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    assert(rows.toSeq == Seq(
      ("Cat video.webm", "2024-03-01", 18L),
      ("Song.ogg", "2024-03-01", 7L),
      ("Cat video.webm", "2024-03-02", 4L)))
  }

  test("ingest decode parity: literal '+' survives, malformed '%' tolerated") {
    import spark.implicits._
    val lines = Seq(
      mkLine("/wikipedia/commons/a/ab/A+B.ogg", 1, "0", 0),       // '+' is literal (unquote parity)
      mkLine("/wikipedia/commons/a/ab/Bad%GG.ogg", 2, "0", 0),    // malformed escape: keep raw
      mkLine("/wikipedia/commons/a/ab/Ok%C3%A9.ogg", 3, "0", 0)   // valid UTF-8 escape decodes
    ).toDF("line")
    val rows = api.Playcounts.fromMediacountsLog(lines, day1)
      .orderBy(col("file")).collect().map(_.getString(0)).toSeq
    assert(rows == Seq("A+B.ogg", "Bad%GG.ogg", "Oké.ogg"), s"got $rows")
  }

  test("ingest tolerance: one absurd-counter line is dropped, not a job kill") {
    // The rawest surface (r12 find): under ANSI a dump line whose
    // counters sum past Long.Max used to kill the WHOLE day with
    // ARITHMETIC_OVERFLOW — the Python reference's bigints can't
    // overflow, and the r11 doctrine is that one corrupt raw row never
    // ends a 100 TB ingest. try_add → NULL count → the count > 0
    // filter drops exactly the garbage row; neighbors survive intact.
    import spark.implicits._
    val max = Long.MaxValue
    val lines = Seq(
      mkLine("/wikipedia/commons/a/ab/Good.ogg", 100, "50", 25),
      s"/wikipedia/commons/a/ab/Evil.ogg\t-\t-\t$max\t$max\t" +
        ("-\t" * 11) + max.toString)
      .toDF("line")
    val rows = api.Playcounts.fromMediacountsLog(lines, day1)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(rows == Seq(("Good.ogg", 175L)), s"got $rows")
    // A single near-Max counter that does NOT overflow still ingests —
    // the drop is the overflow tolerance, not a magnitude cap.
    val big = Seq(mkLine("/wikipedia/commons/a/ab/Big.oga", max, "-", 0))
      .toDF("line")
    val bigRows = api.Playcounts.fromMediacountsLog(big, day1)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(bigRows == Seq(("Big.oga", max)), s"got $bigRows")
  }

  test("ingest tolerance: truncated dump lines count missing columns as 0") {
    // The other one-corrupt-row job kill (r12 find): ANSI ordinal array
    // access threw INVALID_ARRAY_INDEX on any line with fewer than 17
    // columns. get() answers NULL beyond the array, so a truncated line
    // keeps the counters it has (missing → 0, the '-' rule), and a line
    // cut before any counter drops via count > 0.
    import spark.implicits._
    val lines = Seq(
      mkLine("/wikipedia/commons/a/ab/Good.ogg", 100, "50", 25),
      "/wikipedia/commons/a/ab/Short.ogg\t1\t2",      // cut before col 3
      "/wikipedia/commons/a/ab/Mid.ogg\t0\t0\t7\t3"   // has 3,4; no 16
    ).toDF("line")
    val rows = api.Playcounts.fromMediacountsLog(lines, day1)
      .orderBy(col("file"))
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(rows == Seq(("Good.ogg", 175L), ("Mid.ogg", 10L)), s"got $rows")
  }

  test("dateCount point lookup") {
    val pc = new api.Playcounts(counts)
    val r = pc.dateCount("Song.ogg", day1).collect()
    assert(r.length == 1 && r(0).getLong(2) == 7L)
    // A date with no plays answers a ZERO count row, not an empty result
    // (the reference API's zero-fill contract).
    val zero = pc.dateCount("Song.ogg", day2).collect()
    assert(zero.length == 1 && zero(0).getLong(2) == 0L,
      s"missing date should zero-fill, got ${zero.toSeq}")
    // A filename counts has NEVER seen answers EMPTY, not zero — the
    // reference API's unknown-file error path stays distinguishable from
    // a known file's playless date (round-10 ADVICE).
    val unknown = pc.dateCount("Never-ingested.ogg", day1).collect()
    assert(unknown.isEmpty, s"unknown file should be empty, got ${unknown.toSeq}")
  }

  test("dateRangeCount unknown file answers empty, known playless range zero") {
    val pc = new api.Playcounts(counts)
    val unknown = pc.dateRangeCount("Never-ingested.ogg", day1, day2).collect()
    assert(unknown.isEmpty, s"unknown file should be empty, got ${unknown.toSeq}")
    // Known file, range strictly after its plays: zero-fill with [] details.
    val playless = pc.dateRangeCount("Song.ogg",
      Date.valueOf("2024-04-01"), Date.valueOf("2024-04-30")).collect()
    assert(playless.length == 1 && playless(0).getAs[Long]("total") == 0L &&
      playless(0).getSeq[org.apache.spark.sql.Row](2).isEmpty)
  }

  test("dateRangeCount returns total plus date-sorted details") {
    val pc = new api.Playcounts(counts)
    val r = pc.dateRangeCount("Cat video.webm", day1, day2).collect()(0)
    assert(r.getAs[Long]("total") == 22L)
    val details = r.getSeq[org.apache.spark.sql.Row](2)
    assert(details.map(d => (d.getDate(0).toString, d.getLong(1))) ==
      Seq(("2024-03-01", 18L), ("2024-03-02", 4L)))
  }

  test("last30 window anchored at asOf") {
    val pc = new api.Playcounts(counts)
    val r = pc.last30("Cat video.webm", Date.valueOf("2024-03-30")).collect()(0)
    assert(r.getAs[Long]("total") == 22L) // both days inside [03-01, 03-30]
    val r2 = pc.last30("Cat video.webm", Date.valueOf("2024-03-31")).collect()(0)
    assert(r2.getAs[Long]("total") == 4L) // only day2 inside [03-02, 03-31]
  }

  test("lastN rejects non-positive windows loudly") {
    val pc = new api.Playcounts(counts)
    val e = intercept[IllegalArgumentException] {
      pc.lastN("Cat video.webm", Date.valueOf("2024-03-30"), 0)
    }
    assert(e.getMessage.contains("lastN window must be positive"))
    intercept[IllegalArgumentException] {
      pc.lastN("Cat video.webm", Date.valueOf("2024-03-30"), -30)
    }
  }

  test("categoryCount broadcast roll-up") {
    import spark.implicits._
    // Song.ogg is listed twice: a duplicated membership row must not
    // multiply its plays.
    val members = Seq(
      ("Cat videos", "Cat video.webm"),
      ("Cat videos", "Song.ogg"),
      ("Cat videos", "Song.ogg"),
      ("Empty cat", "Nonexistent.ogv")).toDF("category", "file")
    val pc = new api.Playcounts(counts)
    val r = pc.categoryCount(members, "Cat videos", day1, day2).collect()(0)
    assert(r.getAs[Long]("total") == 29L && r.getAs[Long]("n_files") == 2L)
    val empty = pc.categoryCount(members, "Empty cat", day1, day2).collect()(0)
    assert(empty.getAs[Long]("total") == 0L && empty.getAs[Long]("n_files") == 0L)
  }

  /** Diamond: "Cat videos" reachable from Media via BOTH Cats and Audio;
    * cycle: Cat videos → Cats. The closure must count each file once and
    * terminate anyway.
    */
  private def diamond = {
    import spark.implicits._
    (Seq(("Cat videos", "Cat video.webm"), ("Audio", "Song.ogg")).toDF("category", "file"),
      Seq(("Media", "Cats"), ("Media", "Audio"), ("Cats", "Cat videos"),
        ("Audio", "Cat videos"), ("Cat videos", "Cats")).toDF("parent", "child"))
  }

  test("categoryCount recursive closure: diamond counted once, cycle terminates") {
    val (members, edges) = diamond
    val pc = new api.Playcounts(counts)
    val media = pc.categoryCount(members, edges, "Media", day1, day2).collect()(0)
    assert(media.getAs[Long]("total") == 29L && media.getAs[Long]("n_files") == 2L)
    val cats = pc.categoryCount(members, edges, "Cats", day1, day2).collect()(0)
    assert(cats.getAs[Long]("total") == 22L && cats.getAs[Long]("n_files") == 1L)
    // The flat (non-recursive) variant sees no direct members of "Media".
    val flat = pc.categoryCount(members, "Media", day1, day2).collect()(0)
    assert(flat.getAs[Long]("total") == 0L && flat.getAs[Long]("n_files") == 0L)
  }

  test("categoryCount maxDepth: default rejects deeper chains, raised accepts") {
    import spark.implicits._
    // A 25-deep chain cat0 → cat1 → … → cat25; only the leaf has a member.
    val members = Seq(("cat25", "Cat video.webm")).toDF("category", "file")
    val edges = (0 until 25).map(i => (s"cat$i", s"cat${i + 1}"))
      .toDF("parent", "child")
    val pc = new api.Playcounts(counts)
    val e = intercept[IllegalArgumentException] {
      pc.categoryCount(members, edges, "cat0", day1, day2).collect()
    }
    assert(e.getMessage.contains("maxDepth"))
    val deep = pc.categoryCount(members, edges, "cat0", day1, day2, maxDepth = 30)
      .collect()(0)
    assert(deep.getAs[Long]("total") == 22L && deep.getAs[Long]("n_files") == 1L)
  }

  /** `df` at rest in parquet, as the API is served. */
  private def atRest(df: DataFrame, partitionCols: String*): DataFrame = {
    val dir = Staging.tempDirReapedAtExit("graft_api_at_rest")
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(dir)
    spark.read.parquet(dir)
  }

  private lazy val stored = atRest(counts, "date")

  private def rangeSchema(dateNullable: Boolean) = new StructType()
    .add("file", StringType, nullable = false)
    .add("total", LongType, nullable = false)
    .add("details", ArrayType(new StructType()
      .add("date", DateType, dateNullable)
      .add("count", LongType), containsNull = false), nullable = false)

  test("result schemas are pinned for every request shape") {
    val point = new StructType()
      .add("file", StringType, nullable = false)
      .add("date", DateType, nullable = false)
      .add("count", LongType, nullable = false)
    val category = new StructType()
      .add("category", StringType, nullable = false)
      .add("total", LongType, nullable = false)
      .add("n_files", LongType, nullable = false)
    val (members, edges) = diamond
    // The detail struct's date carries the table's date nullability:
    // NOT NULL on the ingest frame, nullable when read back from parquet.
    for ((table, dateNullable) <- Seq(counts -> false, stored -> true)) {
      val pc = new api.Playcounts(table)
      assert(pc.dateCount("Song.ogg", day1).schema == point)
      assert(pc.dateCount("Never-ingested.ogg", day1).schema == point)
      assert(pc.dateRangeCount("Cat video.webm", day1, day2).schema == rangeSchema(dateNullable))
      assert(pc.dateRangeCount("Never-ingested.ogg", day1, day2).schema == rangeSchema(dateNullable))
      assert(pc.last30("Cat video.webm", day2).schema == rangeSchema(dateNullable))
      assert(pc.categoryCount(members, "Cat videos", day1, day2).schema == category)
      assert(pc.categoryCount(members, edges, "Media", day1, day2).schema == category)
    }
  }

  test("dateCount and dateRangeCount overflow loudly past Long.MaxValue") {
    import spark.implicits._
    // Two path variants of one name, each a legal near-Max count; their
    // sum does not fit a BIGINT.
    val max = Long.MaxValue
    val big = api.Playcounts.fromMediacountsLog(Seq(
      mkLine("/wikipedia/commons/a/ab/Big.oga", max, "-", 0),
      mkLine("/wikipedia/commons/c/cd/Big.oga", max, "-", 0)).toDF("line"), day1)
    assert(big.count() == 2L)
    val pc = new api.Playcounts(big)
    intercept[ArithmeticException](pc.dateCount("Big.oga", day1).collect())
    intercept[ArithmeticException](pc.dateRangeCount("Big.oga", day1, day2).collect())
  }

  test("each request runs one job; only an empty answer adds the probe") {
    val pc = new api.Playcounts(stored)
    assert(jobsOf(pc.dateCount("Song.ogg", day1).collect()) == 1L)
    assert(jobsOf(pc.dateRangeCount("Cat video.webm", day1, day2).collect()) == 1L)
    assert(jobsOf(pc.dateCount("Never-ingested.ogg", day1).collect()) == 2L)
    assert(jobsOf(pc.dateRangeCount("Never-ingested.ogg", day1, day2).collect()) == 2L)
    // Known file, playless date: the empty answer pays the probe too.
    assert(jobsOf(pc.dateCount("Song.ogg", day2).collect()) == 2L)
    // Diamond closure at rest: 3 frontier rounds + the roll-up's
    // broadcast, map and result jobs.
    val (members, edges) = diamond
    val (m, e) = (atRest(members), atRest(edges))
    val tree = jobsOf(pc.categoryCount(m, e, "Media", day1, day2).collect())
    assert(tree <= 6L, s"recursive categoryCount ran $tree jobs")
    // The answers off the stored table match the in-memory ones.
    assert(pc.dateRangeCount("Cat video.webm", day1, day2).collect().toSeq ==
      new api.Playcounts(counts).dateRangeCount("Cat video.webm", day1, day2).collect().toSeq)
  }
}
