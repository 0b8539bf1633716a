package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** True Structured Streaming behavior — watermarks, late-data drop,
  * stateful dedup, and the foreachBatch upsert that makes the reference's
  * daily cron incremental (SURVEY §2.9). No oracle: golden asserts over
  * hand-built MemoryStream sequences with explicitly advanced watermarks.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkFixture._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("watermark drops late rows in append-mode tumbling agg") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, String)]
    val agg = mem.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .count()
    val q = agg.writeStream.format("memory").queryName("wm_tumbling")
      .outputMode(OutputMode.Append()).start()
    try {
      // Batch 1: two rows in window [00:00, 00:10); watermark advances to
      // max(ts) - 10m after processing.
      mem.addData((ts("2024-01-01 00:01:00"), "a"), (ts("2024-01-01 00:05:00"), "a"))
      q.processAllAvailable()
      // Batch 2: push event time far ahead → watermark passes 00:20,
      // closing the first window; its row is emitted.
      mem.addData((ts("2024-01-01 00:31:00"), "a"))
      q.processAllAvailable()
      // Batch 3: a LATE row for the closed window — must be dropped.
      mem.addData((ts("2024-01-01 00:02:00"), "a"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 00:59:00"), "a"))
      q.processAllAvailable()
      val rows = spark.table("wm_tumbling")
        .select(col("window.start").cast("string"), col("count")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      // First window emitted with count 2 — the late row did NOT bump it to 3.
      assert(rows("2024-01-01 00:00:00") == 2L,
        s"late row leaked into closed window: $rows")
    } finally q.stop()
  }

  // Pin the two exact-boundary comparators the stream_late_drop oracle
  // models, on data the fixture's microsecond timestamps can never
  // produce: (1) append mode EMITS a window whose end equals the
  // watermark exactly (emission rule `end <= wm`, matching the oracle's
  // `day + 1 DAY <= wm`); (2) a row with event time exactly AT the
  // watermark is NOT late (drop rule `ts < wm`, keep-at-boundary).
  test("append emission and late-drop rules at the exact watermark boundary") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, String)]
    val agg = mem.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .count()
    val q = agg.writeStream.format("memory").queryName("wm_boundary")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts("2024-01-01 00:05:00"), "a"))   // window [00:00, 00:10)
      q.processAllAvailable()
      // Advance event time so wm = 00:20 - 10m = EXACTLY window1's end.
      mem.addData((ts("2024-01-01 00:20:00"), "a"))   // window [00:20, 00:30)
      q.processAllAvailable()
      val afterEq = spark.table("wm_boundary")
        .select(col("window.start").cast("string")).collect().map(_.getString(0)).toSet
      assert(afterEq.contains("2024-01-01 00:00:00"),
        s"window with end == watermark was NOT emitted (rule would be `end < wm`): $afterEq")
      // A row exactly AT the current watermark (00:10:00) must be kept:
      // it lands in the open window [00:10, 00:20), which closes once the
      // watermark passes 00:20.
      mem.addData((ts("2024-01-01 00:10:00"), "a"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 00:40:00"), "a"))   // wm → 00:30
      q.processAllAvailable()
      val counts = spark.table("wm_boundary")
        .select(col("window.start").cast("string"), col("count")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(counts.get("2024-01-01 00:10:00").contains(1L),
        s"row exactly at the watermark was dropped (rule would be `ts <= wm`): $counts")
    } finally q.stop()
  }

  // Streaming session windows must merge with the SAME end-inclusive
  // boundary rule the batch form has (GenPropertySpec proved batch: an
  // event at exactly prev_end merges; the session_5m oracle flag is `>`).
  // Golden: events at 00:00 and 00:05 with a 5-minute gap — exactly
  // adjacent — form ONE session [00:00, 00:10); an event at 00:10:01
  // (one second PAST the new end) starts a second session.
  test("streaming session_window merges an event at exactly prev_end") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, String)]
    val agg = mem.toDF().toDF("ts", "u")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("u"))
      .count()
    val q = agg.writeStream.format("memory").queryName("sess_boundary")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        (ts("2024-01-01 00:00:00"), "a"),   // session opens, end 00:05
        (ts("2024-01-01 00:05:00"), "a"),   // exactly at end → MERGES, end 00:10
        (ts("2024-01-01 00:10:01"), "a"))   // past end → new session
      q.processAllAvailable()
      // Advance the watermark far past both sessions so append emits them.
      mem.addData((ts("2024-01-01 01:00:00"), "b"))
      q.processAllAvailable()
      val rows = spark.table("sess_boundary").filter(col("u") === "a")
        .select(col("w.start").cast("string"), col("w.end").cast("string"),
          col("count")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(
        ("2024-01-01 00:00:00", "2024-01-01 00:10:00", 2L),
        ("2024-01-01 00:10:01", "2024-01-01 00:15:01", 1L)),
        s"streaming session boundary semantics diverged: $rows")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups within the watermark horizon") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, Long)]
    val dedup = mem.toDF().toDF("ts", "event_id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = dedup.writeStream.format("memory").queryName("wm_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts("2024-01-01 00:01:00"), 1L), (ts("2024-01-01 00:02:00"), 1L),
        (ts("2024-01-01 00:03:00"), 2L))
      q.processAllAvailable()
      assert(spark.table("wm_dedup").count() == 2,
        "duplicate event_id within watermark not dropped")
    } finally q.stop()
  }

  test("mapGroupsWithState maintains a running per-key counts table") {
    // The reference's counts table as CUSTOM streaming state: per file,
    // accumulate total plays across micro-batches (incremental cron).
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, Long)]
    val totals = mem.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (file: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.map(_._2).sum
          state.update(total)
          (file, total)
      }
    val q = totals.toDF("file", "total").writeStream.format("memory")
      .queryName("gws_totals").outputMode(OutputMode.Update()).start()
    try {
      mem.addData(("a.webm", 3L), ("a.webm", 2L), ("b.ogg", 7L))
      q.processAllAvailable()
      mem.addData(("a.webm", 5L))
      q.processAllAvailable()
      val last = spark.table("gws_totals").groupBy("file")
        .agg(max("total").as("total"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(last == Map("a.webm" -> 10L, "b.ogg" -> 7L), s"got $last")
    } finally q.stop()
  }

  test("parquet file source streams daily-dump arrivals incrementally") {
    // The reference's cron loop as a file stream: each daily dump lands as
    // a parquet file in a watched directory; AvailableNow drains whatever
    // has arrived, maxFilesPerTrigger bounds per-batch work at scale.
    import spark.implicits._
    val dir = Staging.tempDirReapedAtExit("graft_file_stream")
    Seq((ts("2024-01-01 01:00:00"), "view", 1.0), (ts("2024-01-01 02:00:00"), "view", 2.0))
      .toDF("ts", "event_type", "value").write.mode("append").parquet(dir)
    Seq((ts("2024-01-02 01:00:00"), "click", 5.0))
      .toDF("ts", "event_type", "value").write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val agg = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .groupBy(date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("file_stream_daily")
      .outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      val rows = spark.table("file_stream_daily")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
      assert(rows == Map("2024-01-01" -> 2L, "2024-01-02" -> 1L), s"got $rows")
    } finally q.stop()
  }

  test("transformWithState (Spark 4 stateful v2) running totals on RocksDB state") {
    // Same running-counts semantics as the mapGroupsWithState test, on the
    // replacement API: explicit typed ValueState handles + RocksDB state
    // store (the 100 TB operational path — incremental checkpoints, state
    // larger than executor heap).
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    implicit val sql = spark.sqlContext
    import spark.implicits._

    class RunningTotal extends StatefulProcessor[String, (String, Long), (String, Long)] {
      @transient private var total: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        total = getHandle.getValueState[Long]("total", implicitly[org.apache.spark.sql.Encoder[Long]], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[(String, Long)],
          timers: TimerValues): Iterator[(String, Long)] = {
        val t = (if (total.exists()) total.get() else 0L) + rows.map(_._2).sum
        total.update(t)
        Iterator.single((key, t))
      }
    }

    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(String, Long)]
    val totals = mem.toDS()
      .groupByKey(_._1)
      .transformWithState(new RunningTotal, TimeMode.None(), OutputMode.Update())
    val q = totals.toDF("file", "total").writeStream.format("memory")
      .queryName("tws_totals").outputMode(OutputMode.Update()).start()
    try {
      mem.addData(("a.webm", 3L), ("a.webm", 2L), ("b.ogg", 7L))
      q.processAllAvailable()
      mem.addData(("a.webm", 5L))
      q.processAllAvailable()
      val last = spark.table("tws_totals").groupBy("file")
        .agg(max("total").as("total"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(last == Map("a.webm" -> 10L, "b.ogg" -> 7L), s"got $last")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream_batch_equiv shape converges over multiple micro-batches") {
    // The oracle-checked key happens to drain the fixture in ONE batch;
    // the real streaming claim is that the complete-mode foreachBatch
    // overwrite converges to the batch answer over MANY batches — forced
    // here with 3 files × maxFilesPerTrigger=1.
    import spark.implicits._
    val in  = Staging.tempDirReapedAtExit("graft_sbe_multi_in")
    val out = Staging.tempDirReapedAtExit("graft_sbe_multi_out")
    Seq((ts("2024-01-01 01:00:00"), "view", 1.5))
      .toDF("ts", "event_type", "value").write.mode("append").parquet(in)
    Seq((ts("2024-01-01 02:00:00"), "view", 2.25), (ts("2024-01-02 01:00:00"), "click", 5.0))
      .toDF("ts", "event_type", "value").write.mode("append").parquet(in)
    Seq((ts("2024-01-02 03:00:00"), "view", 4.0))
      .toDF("ts", "event_type", "value").write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def shape(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("total_cents"))
        .select(col("w.start").cast("date").cast("string").as("day"),
          col("event_type"), col("n"), col("total_cents"))
    val q = shape(spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in))
      .writeStream.outputMode(OutputMode.Complete())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.write.mode("overwrite").parquet(out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(shape(spark.read.parquet(in)))
    assert(streamed == batch && batch.size == 3, s"streamed=$streamed batch=$batch")
  }

  test("foreachBatch incremental upsert matches batch recompute") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val out = Staging.tempDirReapedAtExit("graft_stream_upsert")
    val mem = MemoryStream[(Timestamp, String, Double)]
    val daily = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 day")
      .groupBy(date_trunc("DAY", col("ts")).cast("date").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    val q = daily.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        sinks.Sinks.upsertPartitions(spark, batch, out, "day")
      }
      .start()
    try {
      mem.addData((ts("2024-01-01 01:00:00"), "view", 1.0),
        (ts("2024-01-01 02:00:00"), "view", 2.0),
        (ts("2024-01-02 01:00:00"), "click", 5.0))
      q.processAllAvailable()
      // Day 1 gets more data → its partition is REPLACED with updated agg.
      mem.addData((ts("2024-01-01 03:00:00"), "view", 4.0))
      q.processAllAvailable()
      val result = spark.read.parquet(out)
        .orderBy(col("day"), col("event_type"))
        .select(col("day").cast("string"), col("event_type"), col("n"), col("total"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(result.toSeq == Seq(
        ("2024-01-01", "view", 3L, 7.0),
        ("2024-01-02", "click", 1L, 5.0)), s"got: ${result.toSeq}")
    } finally q.stop()
  }

  // VERDICT r7 task 4 / r8 task 3 "done" criterion: staging must RESTAGE
  // when the marker is missing, stale (wrong fingerprint), or unreadable —
  // and must NOT restage when the marker matches the current fixture.
  test("Staging.once restages on missing/stale/corrupt marker, reuses on match") {
    val in = Staging.tempDirReapedAtExit("graft_stage_t")
    val marker = java.nio.file.Paths.get(s"$in/_STAGED")
    var runs = 0
    def attempt(): Unit =
      Staging.once(in, Staging.eventsFingerprint(spark, sf)) { tmp =>
        runs += 1
        java.nio.file.Files.writeString(tmp.resolve("payload.txt"), s"staging#$runs")
      }
    attempt()                       // fresh dir → stage
    assert(runs == 1)
    val fp = java.nio.file.Files.readString(marker)
    assert(fp == Staging.eventsFingerprint(spark, sf))
    attempt()                       // matching marker → reuse
    assert(runs == 1, "restaged despite matching fingerprint")
    // Stale marker (the regenerated-fixture case): old-format / wrong fp.
    java.nio.file.Files.writeString(marker, "rows=999;maxTs=bogus")
    attempt()
    assert(runs == 2, "stale marker was silently trusted")
    // The wipe-and-restage must have replaced payload AND marker.
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$in/payload.txt")) == "staging#2")
    assert(java.nio.file.Files.readString(marker) == fp)
    // Name-only empty marker — the exact r7 silent-wrong-data class.
    java.nio.file.Files.writeString(marker, "")
    attempt()
    assert(runs == 3, "empty (name-only) marker was trusted")
    // Unreadable marker (a directory): Try-wrapped read → restage, not throw.
    java.nio.file.Files.delete(marker)
    java.nio.file.Files.createDirectory(marker)
    attempt()
    assert(runs == 4, "unreadable marker did not trigger restage")
    assert(java.nio.file.Files.readString(marker) == fp)
  }

  test("atomicPublishDir swaps generations atomically and leaves no debris") {
    val root = java.nio.file.Paths.get(Staging.tempDirReapedAtExit("graft_pub_t"))
    val dst = root.resolve("idx")
    def buildTmp(gen: Int): java.nio.file.Path = {
      val t = root.resolve(s"idx.tmp.$gen")
      java.nio.file.Files.createDirectories(t)
      java.nio.file.Files.writeString(t.resolve("payload.txt"), s"gen#$gen")
      java.nio.file.Files.writeString(t.resolve("_STAGED"), s"fp#$gen")
      t
    }
    // First publish: dst absent → single rename.
    Staging.atomicPublishDir(buildTmp(1), dst)
    assert(java.nio.file.Files.readString(dst.resolve("payload.txt")) == "gen#1")
    // Second publish over a live generation: retire-aside + rename; the
    // new content and marker become visible together, the old
    // generation and the temp dir are both gone.
    Staging.atomicPublishDir(buildTmp(2), dst)
    assert(java.nio.file.Files.readString(dst.resolve("payload.txt")) == "gen#2")
    assert(java.nio.file.Files.readString(dst.resolve("_STAGED")) == "fp#2")
    val leftovers = java.nio.file.Files.list(root).iterator()
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    while (leftovers.hasNext) names += leftovers.next().getFileName.toString
    assert(names.sorted == Seq("idx"),
      s"publish left debris next to the destination: $names")
    // Failed publish (the move-in rename throws AFTER the live
    // generation was retired aside — here: tmp never existed): the
    // caller must see the failure AND the previous generation must be
    // rolled back into place, never deleted — a failed publish can
    // degrade to "kept the old index", never to "no index at all".
    val ghost = root.resolve("idx.tmp.ghost")
    intercept[java.nio.file.NoSuchFileException] {
      Staging.atomicPublishDir(ghost, dst)
    }
    assert(java.nio.file.Files.readString(dst.resolve("payload.txt")) == "gen#2",
      "failed publish must roll the retired generation back into place")
    assert(java.nio.file.Files.readString(dst.resolve("_STAGED")) == "fp#2")
  }

  // A restage whose build fails must leave the previous generation live:
  // staging builds beside the dir and publishes only a complete one.
  test("Staging.once: a failed restage keeps the live generation") {
    val root = java.nio.file.Paths.get(Staging.tempDirReapedAtExit("graft_once_t"))
    val dir = root.resolve("staged")
    def read(name: String) = java.nio.file.Files.readString(dir.resolve(name))
    Staging.once(dir.toString, "fp#1") { tmp =>
      java.nio.file.Files.writeString(tmp.resolve("payload.txt"), "gen#1")
    }
    // The fixture changed (marker now stale); the rebuild dies half way.
    val err = intercept[IllegalStateException] {
      Staging.once(dir.toString, "fp#2") { tmp =>
        java.nio.file.Files.writeString(tmp.resolve("payload.txt"), "gen#2 partial")
        throw new IllegalStateException("build died")
      }
    }
    assert(err.getMessage == "build died")
    assert(read("payload.txt") == "gen#1", "failed restage destroyed the live payload")
    assert(read("_STAGED") == "fp#1")
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.list(root).forEach(p => names += p.getFileName.toString)
    assert(names.toSeq == Seq("staged"), s"failed restage left debris: $names")
    var runs = 0
    def attempt(): Unit = Staging.once(dir.toString, "fp#2") { tmp =>
      runs += 1
      java.nio.file.Files.writeString(tmp.resolve("payload.txt"), "gen#2")
    }
    attempt()
    attempt()
    assert(runs == 1)
    assert(read("payload.txt") == "gen#2")
    assert(read("_STAGED") == "fp#2")
    Staging.rmr(root)
  }

  test("validateArrivals gates every file the stream source lists, not just *.parquet") {
    val in = Staging.tempDirReapedAtExit("graft_gate_t")
    val expected = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    spark.range(3).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(s"$in/stage")
    val part = new java.io.File(s"$in/stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    java.nio.file.Files.copy(part,
      java.nio.file.Paths.get(s"$in/arrival-000.parquet"))
    Staging.rmr(java.nio.file.Paths.get(s"$in/stage"))
    // Clean dir: gate passes.
    Staging.validateArrivals(spark, in, expected)
    // Poison WITHOUT a .parquet suffix — the r14 gate's blind spot: the
    // file stream source lists it (no hidden prefix), reads it as
    // parquet, and crashes or NULL-fills mid-batch. The gate must now
    // catch it up front, naming the file.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/data.pq"), "not parquet at all")
    val err = intercept[IllegalArgumentException] {
      Staging.validateArrivals(spark, in, expected)
    }
    assert(err.getMessage.contains("data.pq"),
      s"gate must name the poison file: ${err.getMessage}")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$in/data.pq"))
    // Files the SOURCE ignores (hidden/marker/in-flight) stay ungated —
    // gate and source must agree on the file set in both directions.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/_STAGED"), "fingerprint, not parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/.hidden"), "junk")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/x._COPYING_"), "in-flight junk")
    Staging.validateArrivals(spark, in, expected)
    // But `_metadata`-named files ARE listed by the source (the one
    // readmission in Spark's hidden-path rule) — so the gate checks them.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/_metadata"), "junk the source reads")
    val err2 = intercept[IllegalArgumentException] {
      Staging.validateArrivals(spark, in, expected)
    }
    assert(err2.getMessage.contains("_metadata"))
  }

  // VERDICT r9 task 6: the stream_late_drop oracle's emission rule
  // (`day + 1 DAY <= wm`, INCLUSIVE) has never been exercised at the
  // boundary — fixture microsecond timestamps never produce a day-window
  // end exactly equal to max(on-time ts) − 1 h. Craft a fixture where
  // they coincide and run the REAL driver key end-to-end (staging,
  // three micro-batches, checkpoint, two-watermark lateness model):
  // every rule the oracle models must hold, including the boundary.
  test("stream_late_drop end-to-end: day window ending exactly at the watermark is emitted") {
    import spark.implicits._
    val dir = Staging.tempDirReapedAtExit("graft_sld_bnd")
    def ev(id: Long, t: String): (Long, Timestamp, Long, String, Double, String) =
      (id, ts(t), id % 5, "a", 1.0, "{}")
    Seq(
      // On-time file (ts ≥ Jan 10). Max on-time ts = Jan 12 01:00:00
      // → final watermark = Jan 12 00:00:00 EXACTLY (1 h delay).
      ev(1, "2024-01-10 10:00:00"),
      ev(2, "2024-01-10 11:00:00"),
      ev(3, "2024-01-11 05:00:00"), // window [Jan 11, Jan 12): end == wm
      ev(4, "2024-01-12 01:00:00"), // sets the watermark; own window open
      // Mid file (Jan 5 ≤ ts < Jan 10): passes the one-batch-lagging
      // late filter, aggregated + emitted.
      ev(5, "2024-01-06 08:00:00"),
      ev(6, "2024-01-06 09:00:00"),
      // Truly late (ts < Jan 5): dropped by the advanced watermark.
      ev(7, "2024-01-03 00:00:00"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    try {
      val got = SparkEntry.queries("stream_late_drop")(spark, dir)
        .select(col("day").cast("string"), col("event_type"), col("n"),
          col("total_cents"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == Set(
        ("2024-01-06", "a", 2L, 200L),
        ("2024-01-10", "a", 2L, 200L),
        // THE BOUNDARY ROW: window end Jan 12 00:00 == watermark. Absent
        // ⇒ Spark's emission rule is strict `<` and the oracle's `<=`
        // is wrong; present with Jan 12's window also present ⇒ the
        // open-window rule is wrong.
        ("2024-01-11", "a", 1L, 100L)),
        s"late-drop boundary semantics diverged: $got")
    } finally {
      // The key stages arrivals into a per-fixture /tmp dir keyed by the
      // (unique) temp dir name — reap it so test runs don't accumulate.
      Seq(dir, s"/tmp/graft_sld_in_${Staging.tag(dir)}")
        .foreach(p => Staging.rmr(java.nio.file.Paths.get(p)))
    }
  }

  // VERDICT r9 task 3: the r9 fixture-regeneration event, as a spec. The
  // SAME JVM sees the fixture swapped under it (the driver's mid-session
  // regeneration); the fingerprint cache is keyed on the on-disk file
  // signature, so Staging.once must miss the cache, re-fingerprint, and
  // restage — no manual marker tampering involved (the test above covers
  // marker corruption; this one covers the cache keying).
  test("Staging.once restages after an in-place fixture regeneration (mid-JVM)") {
    import org.apache.spark.sql.functions._
    val dir = Staging.tempDirReapedAtExit("graft_regen")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    raw.write.parquet(s"$dir/events.parquet")
    val in = Staging.tempDirReapedAtExit("graft_regen_in")
    var runs = 0
    def attempt(): Unit =
      Staging.once(in, Staging.eventsFingerprint(spark, dir)) { _ => runs += 1 }
    attempt()
    assert(runs == 1)
    attempt()
    assert(runs == 1, "restaged an unchanged fixture")
    // Regenerate IN PLACE: same path, same schema, changed content
    // (value column shifted) — the exact driver scenario.
    val mutated = raw.withColumn("value", col("value") + 1.0)
    val tmp = Staging.tempDirReapedAtExit("graft_regen_mut")
    mutated.write.parquet(s"$tmp/events.parquet")
    Staging.rmr(java.nio.file.Paths.get(s"$dir/events.parquet"))
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$tmp/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    attempt()
    assert(runs == 2, "mid-JVM regeneration was not restaged (stale cache key?)")
    attempt()
    assert(runs == 2, "restaged again on the stable new generation")
  }

  // r9-find spirit (boundary semantics the fixture can never exercise):
  // the stream_stream_join attribution band is CLOSED on both ends —
  // `c_ts >= p_ts - 5 min` AND `c_ts <= p_ts` — and the oracle repeats
  // the same inequalities, but fixture microsecond timestamps never land
  // exactly ON either endpoint, so the hash gate has never actually
  // distinguished closed from open. Force all four boundary cases, one
  // microsecond apart, through a REAL two-stream watermarked inner join.
  test("stream-stream interval join includes both band endpoints exactly") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val clicks    = MemoryStream[(Long, Timestamp)]
    val p = purchases.toDF().toDF("p_id", "user_id", "p_ts")
      .withWatermark("p_ts", "1 hour")
    val c = clicks.toDF().toDF("c_user", "c_ts")
      .withWatermark("c_ts", "1 hour")
    val joined = p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES"))
      .select(col("p_id"), col("c_ts"))
    val q = joined.writeStream.format("memory").queryName("ssj_boundary")
      .outputMode(OutputMode.Append()).start()
    try {
      purchases.addData((1L, 7L, ts("2024-01-01 01:00:00")))
      clicks.addData(
        (7L, ts("2024-01-01 00:54:59.999999")), // 1 µs before band → OUT
        (7L, ts("2024-01-01 00:55:00")),        // exactly p_ts − 5 min → IN
        (7L, ts("2024-01-01 01:00:00")),        // exactly p_ts → IN
        (7L, ts("2024-01-01 01:00:00.000001"))) // 1 µs after → OUT
      q.processAllAvailable()
      val got = spark.table("ssj_boundary")
        .select(col("c_ts").cast("string")).collect().map(_.getString(0)).toSet
      assert(got == Set("2024-01-01 00:55:00", "2024-01-01 01:00:00"),
        s"interval-join band endpoints diverged from the closed-band oracle: $got")
    } finally q.stop()
  }

  // r8 ADVICE: a regeneration preserving row count + max ts but changing
  // row CONTENT must still change the fingerprint (xxhash64-XOR term),
  // and a mid-JVM regeneration must bust the per-dir cache (file-sig key).
  test("eventsFingerprint detects content-only fixture regeneration") {
    import org.apache.spark.sql.functions._
    val dir = Staging.tempDirReapedAtExit("graft_fp_t")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    raw.write.parquet(s"$dir/events.parquet")
    val fp1 = Staging.eventsFingerprint(spark, dir)
    assert(fp1 == Staging.eventsFingerprint(spark, dir)) // stable
    // Regenerate IN PLACE with identical row count and max ts but one
    // column's contents changed — the r8-ADVICE hole in the old
    // rows+maxTs fingerprint. The cache is keyed on file size+mtime, so
    // the rewrite is picked up within the same JVM.
    val mutated = raw.withColumn("event_type", upper(col("event_type")))
    val tmp = Staging.tempDirReapedAtExit("graft_fp_mut")
    mutated.write.parquet(s"$tmp/events.parquet")
    Staging.rmr(java.nio.file.Paths.get(s"$dir/events.parquet"))
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$tmp/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val fp2 = Staging.eventsFingerprint(spark, dir)
    assert(fp1 != fp2, s"content-only regeneration not detected: $fp1")
  }

  // The one streaming contract the driver keys can't exercise: every key
  // runs with a FRESH checkpoint, so state restore across a process
  // restart — the whole point of checkpointLocation at 100 TB — was
  // unpinned. A complete-mode aggregate restarted on the same checkpoint
  // must (a) NOT re-read already-committed source files and (b) restore
  // its aggregation state, so the post-restart emission covers old+new
  // data. One assertion kills both failure modes: lost state reads as
  // new-data-only totals, re-read sources read as doubled totals.
  test("checkpointed restart restores agg state without re-reading committed files") {
    import spark.implicits._
    val in   = Staging.tempDirReapedAtExit("graft_restart_in")
    val out  = Staging.tempDirReapedAtExit("graft_restart_out")
    val ckpt = Staging.tempDirReapedAtExit("graft_restart_ck")
    Seq((ts("2024-01-01 01:00:00"), "view", 1.0), (ts("2024-01-01 02:00:00"), "view", 2.0))
      .toDF("ts", "event_type", "value").write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    // A new query instance per call — only `ckpt` carries continuity,
    // exactly as a restarted driver process would.
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        .writeStream.outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("overwrite").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    def table(): Map[String, (Long, Double)] =
      spark.read.parquet(out).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    run()
    assert(table() == Map("view" -> (2L, 3.0)), s"run 1: ${table()}")
    // Arrivals while "down": more data for the EXISTING key + a new key.
    Seq((ts("2024-01-02 01:00:00"), "view", 4.0), (ts("2024-01-02 02:00:00"), "click", 5.0))
      .toDF("ts", "event_type", "value").write.mode("append").parquet(in)
    run()
    assert(table() == Map("view" -> (3L, 7.0), "click" -> (1L, 5.0)),
      s"state lost or source re-read across restart: ${table()}")
    // Restart with nothing new: idempotent — the serving table is unchanged.
    run()
    assert(table() == Map("view" -> (3L, 7.0), "click" -> (1L, 5.0)),
      s"no-new-data restart perturbed the sink: ${table()}")
  }

  // Same restart contract for CUSTOM state: a transformWithState ValueState
  // on RocksDB (the stream_stateful_totals machinery) must come back from
  // the checkpoint, so post-restart emissions continue the running total
  // instead of restarting from zero.
  test("transformWithState ValueState survives a checkpointed restart") {
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    import spark.implicits._

    class RunningTotal extends StatefulProcessor[String, (String, Long), (String, Long)] {
      @transient private var total: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        total = getHandle.getValueState[Long]("total", implicitly[org.apache.spark.sql.Encoder[Long]], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[(String, Long)],
          timers: TimerValues): Iterator[(String, Long)] = {
        val t = (if (total.exists()) total.get() else 0L) + rows.map(_._2).sum
        total.update(t)
        Iterator.single((key, t))
      }
    }

    val in   = Staging.tempDirReapedAtExit("graft_tws_rs_in")
    val out  = Staging.tempDirReapedAtExit("graft_tws_rs_out")
    val ckpt = Staging.tempDirReapedAtExit("graft_tws_rs_ck")
    Seq(("a.webm", 3L), ("a.webm", 2L), ("b.ogg", 7L))
      .toDF("file", "n").write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .as[(String, Long)]
        .groupByKey(_._1)
        .transformWithState(new RunningTotal, TimeMode.None(), OutputMode.Update())
        .toDF("file", "total")
        .writeStream.outputMode(OutputMode.Update())
        // The parquet sink rejects update mode; append each batch's
        // update-mode emissions via foreachBatch (the emission LOG — the
        // max per key below reads the latest running total).
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    try {
      run()
      // New arrivals for an existing key while "down", then restart: the
      // emitted total continues from the RESTORED 5, not from zero.
      Seq(("a.webm", 5L)).toDF("file", "n").write.mode("append").parquet(in)
      run()
      val last = spark.read.parquet(out).groupBy("file")
        .agg(max("total").as("total"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(last == Map("a.webm" -> 10L, "b.ogg" -> 7L),
        s"ValueState not restored across restart: $last")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  // Version-SKEW restart (r12 verdict task 5): the production failure the
  // same-code restart pins can't see is a deploy that changes the state
  // layout and then restarts on the OLD checkpoint. The contract has
  // exactly two acceptable outcomes — resume with restored state, or a
  // LOUD state-schema-incompatibility error — and one catastrophic one:
  // the query runs and silently starts from empty state (totals reset to
  // the new arrivals only). This golden builds a committed v1 checkpoint
  // (ValueState[Long] on RocksDB, one committed batch), "deploys" a v2
  // processor whose same-named state variable is a (Long, Long) tuple,
  // restarts on the same checkpoint, and asserts the outcome is never
  // the silent third.
  test("state-layout skew on a committed checkpoint: resume or loud error, never silent reset") {
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    import spark.implicits._

    class V1 extends StatefulProcessor[String, (String, Long), (String, Long)] {
      @transient private var total: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        total = getHandle.getValueState[Long]("total",
          implicitly[org.apache.spark.sql.Encoder[Long]], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[(String, Long)],
          timers: TimerValues): Iterator[(String, Long)] = {
        val t = (if (total.exists()) total.get() else 0L) + rows.map(_._2).sum
        total.update(t)
        Iterator.single((key, t))
      }
    }
    // Same state variable NAME, different value layout — the minimal
    // honest schema skew (a deploy that widens the accumulator).
    class V2 extends StatefulProcessor[String, (String, Long), (String, Long)] {
      @transient private var total: ValueState[(Long, Long)] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        total = getHandle.getValueState[(Long, Long)]("total",
          implicitly[org.apache.spark.sql.Encoder[(Long, Long)]], TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[(String, Long)],
          timers: TimerValues): Iterator[(String, Long)] = {
        val (s0, n0) = if (total.exists()) total.get() else (0L, 0L)
        val add = rows.map(_._2).sum
        total.update((s0 + add, n0 + 1))
        Iterator.single((key, s0 + add))
      }
    }

    val in   = Staging.tempDirReapedAtExit("graft_skew_in")
    val out  = Staging.tempDirReapedAtExit("graft_skew_out")
    val ckpt = Staging.tempDirReapedAtExit("graft_skew_ck")
    Seq(("a.webm", 3L), ("a.webm", 2L)).toDF("file", "n")
      .write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def run(proc: StatefulProcessor[String, (String, Long), (String, Long)]): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .as[(String, Long)]
        .groupByKey(_._1)
        .transformWithState(proc, TimeMode.None(), OutputMode.Update())
        .toDF("file", "total")
        .writeStream.outputMode(OutputMode.Update())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    try {
      run(new V1) // committed v1 checkpoint: a.webm → 5
      Seq(("a.webm", 5L)).toDF("file", "n").write.mode("append").parquet(in)
      val outcome = try { run(new V2); None } catch {
        case e: Throwable =>
          // unwrap StreamingQueryException to the root cause chain
          Some(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toList)
      }
      outcome match {
        case Some(chain) =>
          val diag = chain
            .map(x => x.getClass.getName + ": " + String.valueOf(x.getMessage))
            .mkString(" <- ")
          // LOUD is acceptable — but it must be the state-schema guard
          // speaking, not an unrelated crash. Match the SPECIFIC guard:
          // a SparkThrowable whose error condition is the state-store
          // schema family, or 'schema' in a MESSAGE — class names are
          // excluded from matching (r13 ADVICE: the old rendered-chain
          // match accepted any crash surfacing
          // java.lang.IllegalStateException, a common unrelated
          // streaming-shutdown class, as the guard).
          val conditions = chain.collect {
            case st: org.apache.spark.SparkThrowable
              if st.getCondition != null => st.getCondition
          }
          val msgs = chain.map(x => String.valueOf(x.getMessage).toLowerCase)
          assert(conditions.exists(c =>
              c.startsWith("STATE_STORE") && c.contains("SCHEMA")) ||
              msgs.exists(_.contains("schema")),
            s"skewed restart failed for an unrelated reason: $diag")
        case None =>
          // It ran: the only acceptable emission is a RESUMED total
          // (5 restored + 5 new = 10). A fresh-state 5 is silent loss.
          val last = spark.read.parquet(out).groupBy("file")
            .agg(max("total").as("total"))
            .collect().map(r => (r.getString(0), r.getLong(1))).toMap
          assert(last("a.webm") == 10L,
            s"SILENT STATE LOSS: skewed restart ran with fresh state: $last")
      }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  // The lateness cutoff must survive a restart: the commit log carries the
  // watermark, so rows that are late relative to PRE-restart progress stay
  // dropped even though the restarted query has seen no data yet. A
  // watermark that silently reset to zero would both aggregate the stale
  // rows and emit a phantom closed window for them.
  test("restored watermark still drops rows late relative to pre-restart progress") {
    import spark.implicits._
    val in   = Staging.tempDirReapedAtExit("graft_wm_rs_in")
    val out  = Staging.tempDirReapedAtExit("graft_wm_rs_out")
    val ckpt = Staging.tempDirReapedAtExit("graft_wm_rs_ck")
    // Run 1: Jan-10 traffic only → final watermark = 10:00 − 1 h; the
    // Jan-10 day window stays OPEN in state (end > wm), nothing emits.
    Seq((ts("2024-01-10 09:00:00"), "view"), (ts("2024-01-10 10:00:00"), "view"))
      .toDF("ts", "event_type").write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    var emittedSchema: org.apache.spark.sql.types.StructType = null
    def run(): Unit = {
      val agg = spark.readStream.schema(schema).parquet(in)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").cast("date").cast("string").as("day"), col("n"))
      emittedSchema = agg.schema
      val q = agg.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    run()
    // While "down": one file carrying rows nine days LATE relative to the
    // restored watermark plus a Jan-20 row that closes the Jan-10 window.
    Seq((ts("2024-01-01 05:00:00"), "view"), (ts("2024-01-01 06:00:00"), "view"),
        (ts("2024-01-20 12:00:00"), "view"))
      .toDF("ts", "event_type").write.mode("append").parquet(in)
    run()
    val rows = spark.read.schema(emittedSchema).parquet(out)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // Jan 10 closes with ONLY run-1's rows; the Jan-1 rows were dropped by
    // the RESTORED watermark (a reset one would emit ("2024-01-01" -> 2)).
    assert(rows.get("2024-01-10").contains(2L) && !rows.contains("2024-01-01"),
      s"watermark not restored across restart: $rows")
  }

  // Exactly-once under redelivery ACROSS a restart: dropDuplicates state
  // comes back from the checkpoint, so ids redelivered after the process
  // bounced are still recognized — the at-least-once upstream contract
  // (stream_dedup) holds through deployments, not just within one run.
  test("dedup state survives a restart: post-restart redelivery stays deduped") {
    import spark.implicits._
    val in   = Staging.tempDirReapedAtExit("graft_dd_rs_in")
    val out  = Staging.tempDirReapedAtExit("graft_dd_rs_out")
    val ckpt = Staging.tempDirReapedAtExit("graft_dd_rs_ck")
    Seq((ts("2024-01-01 00:01:00"), 1L), (ts("2024-01-01 00:02:00"), 2L),
        (ts("2024-01-01 00:03:00"), 3L))
      .toDF("ts", "event_id").write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    var emittedSchema: org.apache.spark.sql.types.StructType = null
    def run(): Unit = {
      val dedup = spark.readStream.schema(schema).parquet(in)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      emittedSchema = dedup.schema
      val q = dedup.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    run()
    // Redelivery lands AFTER the bounce: ids 2 and 3 again (within the
    // watermark horizon) plus a genuinely new id 4.
    Seq((ts("2024-01-01 00:04:00"), 2L), (ts("2024-01-01 00:05:00"), 3L),
        (ts("2024-01-01 00:06:00"), 4L))
      .toDF("ts", "event_id").write.mode("append").parquet(in)
    run()
    val ids = spark.read.schema(emittedSchema).parquet(out)
      .groupBy("event_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ids == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      s"dedup state lost across restart (redelivered ids re-emitted): $ids")
  }
}
