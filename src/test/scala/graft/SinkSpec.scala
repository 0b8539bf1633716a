package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The date-partition writer (`Sinks.upsertPartitions`) and the JDBC
  * upsert — the reference's daily MySQL upsert re-expressed at-rest
  * (SURVEY §2.1).
  */
class SinkSpec extends AnyFunSuite {
  import SparkFixture._
  import T._

  test("partitioned write produces one directory per day and prunes") {
    val out = Staging.tempDirReapedAtExit("graft_sink")
    val daily = events(spark, sf)
      .groupBy(day(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    sinks.Sinks.upsertPartitions(spark, daily, out, "day")
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("day="))
    assert(dirs.length == 30, s"expected 30 day partitions, got ${dirs.length}")
    // Partition pruning: a one-day filter must scan a single partition.
    val reread = spark.read.parquet(out).filter(col("day") === "2024-01-05")
    val scanned = reread.queryExecution.executedPlan.toString
    assert(reread.count() > 0)
    assert(scanned.contains("PartitionFilters"), s"no partition filters:\n$scanned")
  }

  test("JDBC counts upsert is idempotent (embedded Derby, zero extra deps)") {
    val db = Staging.tempDirReapedAtExit("graft_derby") + "/countsdb"
    val url = s"jdbc:derby:$db;create=true"
    def delta(d: String) = events(spark, sf)
      .filter(day(col("ts")) === java.sql.Date.valueOf(d))
      .groupBy(day(col("ts")).cast("string").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val colTypes = Some("day VARCHAR(10), event_type VARCHAR(64)")
    sinks.Sinks.upsertJdbcCounts(delta("2024-01-03"), url, "counts", "day", colTypes)
    sinks.Sinks.upsertJdbcCounts(delta("2024-01-04"), url, "counts", "day", colTypes)
    val before = spark.read.jdbc(url, "counts", new java.util.Properties())
      .orderBy(col("day"), col("event_type")).collect().toSeq
    // Re-running a day must replace, not duplicate, its rows.
    sinks.Sinks.upsertJdbcCounts(delta("2024-01-03"), url, "counts", "day", colTypes)
    val after = spark.read.jdbc(url, "counts", new java.util.Properties())
      .orderBy(col("day"), col("event_type")).collect().toSeq
    assert(before == after)
    assert(after.map(_.getString(0)).distinct.sorted == Seq("2024-01-03", "2024-01-04"))
  }

  test("JDBC upsert survives a Turkish default locale (dotted-I metadata trap)") {
    // Under tr-TR, "i".toUpperCase is dotted 'İ' — a locale-sensitive
    // uppercase of a table name containing 'i' misses the Derby metadata
    // lookup, skips the DELETE half of the upsert, and the re-run
    // duplicates rows instead of replacing them. Pin Locale.ROOT usage.
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      val db = Staging.tempDirReapedAtExit("graft_derby_tr") + "/visitsdb"
      val url = s"jdbc:derby:$db;create=true"
      def delta(d: String) = events(spark, sf)
        .filter(day(col("ts")) === java.sql.Date.valueOf(d))
        .groupBy(day(col("ts")).cast("string").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val colTypes = Some("day VARCHAR(10), event_type VARCHAR(64)")
      sinks.Sinks.upsertJdbcCounts(delta("2024-01-03"), url, "visits", "day", colTypes)
      val before = spark.read.jdbc(url, "visits", new java.util.Properties()).count()
      sinks.Sinks.upsertJdbcCounts(delta("2024-01-03"), url, "visits", "day", colTypes)
      val after = spark.read.jdbc(url, "visits", new java.util.Properties()).count()
      assert(before == after,
        s"tr-TR locale broke upsert idempotence: $before rows -> $after")
    } finally java.util.Locale.setDefault(saved)
  }

  test("upsert replaces only the delta's partitions (idempotent re-run)") {
    val e = events(spark, sf)
    // One day's per-(day, event_type) counts: the reference's daily load.
    def delta(d: String) = e
      .filter(day(col("ts")) === java.sql.Date.valueOf(d))
      .groupBy(day(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
    // Under tr-TR a lowercase partitionOverwriteMode value upper-cases to
    // dotted "DYNAMİC" and the write throws; run under both locales.
    val saved = java.util.Locale.getDefault
    for (locale <- Seq(saved, new java.util.Locale("tr", "TR"))) try {
      java.util.Locale.setDefault(locale)
      val out = Staging.tempDirReapedAtExit("graft_upsert")
      sinks.Sinks.upsertPartitions(spark, delta("2024-01-03"), out, "day")
      sinks.Sinks.upsertPartitions(spark, delta("2024-01-04"), out, "day")
      val before = spark.read.parquet(out).orderBy(col("day"), col("event_type")).collect()
      // Re-running day 3 must change nothing (idempotence) and keep day 4.
      sinks.Sinks.upsertPartitions(spark, delta("2024-01-03"), out, "day")
      val after = spark.read.parquet(out).orderBy(col("day"), col("event_type")).collect()
      assert(before.toSeq == after.toSeq, s"locale $locale")
      assert(spark.read.parquet(out).select(col("day")).distinct().count() == 2,
        s"locale $locale")
    } finally java.util.Locale.setDefault(saved)
  }
}
