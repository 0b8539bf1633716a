package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sinks (SURVEY.md §2.1): the reference's daily upsert into MySQL
  * (`LogProcessor.py` insert loop [UNVERIFIED]) re-expressed as the
  * 100 TB-scale pattern — date-partitioned parquet with idempotent
  * partition overwrite. At scale the parquet table is the table of
  * record, and a day's re-run must replace exactly that day's partition
  * (dynamic partition overwrite), never touch the rest.
  * [[upsertJdbcCounts]] keeps the reference's RDBMS upsert as a parity
  * sink for the API-facing aggregate store.
  *
  * Exercised by SinkSpec (unit tests) rather than `SparkEntry.queries` —
  * sinks return no DataFrame for the driver to hash.
  */
object Sinks {

  /** Write `df` partitioned by `partitionCol` (e.g. day). Executor-side
    * writes, one directory per partition value — partition pruning serves
    * the reference's `WHERE date BETWEEN` queries from directory listing.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Idempotent daily upsert — the reference's cron re-run semantics:
    * replace ONLY the partitions present in `delta`, leave others intact.
    * Uses dynamic partition overwrite (no read-modify-write of the whole
    * table, no delete-then-append race).
    */
  def upsertPartitions(spark: SparkSession, delta: DataFrame, path: String,
                       partitionCol: String): Unit =
    // Per-write option, NOT a session conf — a session-level
    // partitionOverwriteMode=dynamic would silently change the semantics
    // of every later Overwrite write (e.g. writePartitioned's full replace).
    // "DYNAMIC" (pre-uppercased): Spark parses this per-write option with
    // a locale-SENSITIVE toUpperCase (InsertIntoHadoopFsRelationCommand.
    // dynamicPartitionOverwrite — no Locale.ROOT, unlike the session-conf
    // path), so "dynamic" under a Turkish default locale becomes
    // "DYNAMİC" and the enum lookup throws. Uppercase ASCII is a fixed
    // point of toUpperCase in every locale. Same at all call sites.
    delta.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "DYNAMIC")
      .partitionBy(partitionCol)
      .parquet(path)

  /** The reference's daily ingest → counts-table load, end to end:
    * events for one day → per-(entity, day) counts → upsert that day's
    * partition.
    */
  def ingestDay(spark: SparkSession, events: DataFrame, day: String,
                path: String): Unit = {
    val delta = events
      .filter(date_trunc("DAY", col("ts")).cast("date") === lit(java.sql.Date.valueOf(day)))
      .groupBy(date_trunc("DAY", col("ts")).cast("date").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
    upsertPartitions(spark, delta, path, "day")
  }

  /** RDBMS parity sink — the reference's literal MySQL upsert
    * (`LogProcessor.py` insert loop [UNVERIFIED]) as delete-day-then-
    * append over JDBC. Embedded Derby ships on the Spark classpath, so
    * this works with zero extra dependencies; any JDBC URL works.
    *
    * Scale note: the DELETE is one driver-side statement per re-ingested
    * day (day keys are collected — a bounded partition-key set, never
    * data rows); the INSERT is executor-side `df.write.jdbc` batches.
    * At 100 TB the parquet `upsertPartitions` path is the table of
    * record and JDBC serves the API-facing aggregate store, mirroring
    * the reference's MySQL role.
    */
  def upsertJdbcCounts(delta: DataFrame, url: String, table: String,
                       dayCol: String = "day",
                       createColumnTypes: Option[String] = None): Unit = {
    val days = delta.select(col(dayCol)).distinct().collect()
      .map(r => r.get(0).toString)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      // Locale.ROOT: under a Turkish default locale, "i".toUpperCase is
      // dotted 'İ', so any table name containing 'i' would miss the JDBC
      // metadata lookup and skip the DELETE half of the upsert.
      val meta = conn.getMetaData.getTables(
        null, null, table.toUpperCase(java.util.Locale.ROOT), null)
      val exists = meta.next()
      if (exists && days.nonEmpty) {
        // Parameterized IN list — day values travel as bind parameters,
        // never string-interpolated SQL (r6 VERDICT hygiene note). Spark's
        // JDBC writer creates case-sensitive quoted columns, and maps
        // StringType to CLOB on some dialects (Derby) — CAST makes the
        // day filter comparable either way.
        val placeholders = days.map(_ => "?").mkString(", ")
        val st = conn.prepareStatement(
          s"""DELETE FROM $table WHERE CAST("$dayCol" AS VARCHAR(32)) IN ($placeholders)""")
        try {
          days.zipWithIndex.foreach { case (d, i) => st.setString(i + 1, d) }
          st.executeUpdate()
        } finally st.close()
      }
    } finally conn.close()
    val w = delta.write.mode("append")
    // e.g. "day VARCHAR(10), event_type VARCHAR(64)" — keeps key columns
    // index/compare-friendly instead of the dialect's CLOB default.
    createColumnTypes.foreach(t => w.option("createTableColumnTypes", t))
    w.jdbc(url, table, new java.util.Properties())
  }
}
