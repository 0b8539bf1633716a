package graft.operators

import graft.{QueryModule, Staging, T}
import graft.sinks.Sinks
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Event-time windowing (SURVEY.md §2.9).
  *
  * The reference's cron-driven daily batch (`LogProcessor.full_run`
  * [UNVERIFIED]) is semantically a 1-day tumbling window over the event
  * stream; these keys express tumbling / sliding / session windows with
  * Spark's `window()` / `session_window()` in batch mode so they fit the
  * driver's DataFrame contract and get a DuckDB oracle. The SAME
  * expressions run under `readStream` — exercised with `MemoryStream` +
  * watermarks in StreamingSpec (no oracle there; golden asserts).
  *
  * Scale notes (100 TB):
  * - tumbling/sliding windows are plain hash aggregates on (window, key) —
  *   map-side partial agg applies; the sliding window fans each row out to
  *   exactly windowDuration/slideDuration (= 2) buckets before the agg;
  * - session windows shuffle once on user_id; in true streaming the state
  *   store holds one open session per key, bounded by the watermark;
  * - in streaming mode the watermark bounds state: late rows beyond
  *   10 minutes are dropped — verified in StreamingSpec.
  */
object Streaming extends QueryModule {
  import T._

  /** Stage `df` as ONE flat parquet part-file at `dir/name.parquet` with
    * an explicit mtime — the staged-arrival recipe shared by the
    * micro-batch keys (the file stream source lists plain files, not
    * parquet output dirs, and orders pending files by modification time).
    */
  private def stageSingleFile(df: DataFrame, dir: Path, name: String,
                              mtime: Long): Unit = {
    val stage = Files.createTempDirectory("graft_stage")
    try {
      val tmp = s"$stage/$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val dst = dir.resolve(s"$name.parquet")
      Files.move(part, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    } finally Staging.rmr(stage)
  }

  // Integer cents of `value`. try_cast, not cast: one non-finite or
  // overflowing value (NaN, ±Inf, |v| ≳ 9.2e16 — every real 100 TB log has
  // some) would otherwise kill the whole streaming job with CAST_OVERFLOW.
  // NULL cents skip a sum while the row still counts; the oracles'
  // TRY_CAST agrees on every input class.
  private val cents: Column = expr("try_cast(round(value * 100) AS BIGINT)")

  /** One arrival dir of a staged stream, relative to the input dir, and
    * the file (or dir) relative to it whose footer gives the stream's
    * schema. `oneFilePerBatch` makes each arrival file its own
    * micro-batch, in mtime order.
    */
  private final case class Arrivals(schemaOf: String, dir: String = "",
                                    oneFilePerBatch: Boolean = true)

  /** How an emission lands in the run's output dir. */
  private type Sink = (DataStreamWriter[Row], String) => DataStreamWriter[Row]

  private val appendFiles: Sink = (w, out) =>
    w.outputMode("append").format("parquet").option("path", out)

  // Complete-mode foreachBatch: each trigger delivers the full updated
  // aggregate; the idempotent overwrite is the exactly-once upsert analog
  // (a real deployment would MERGE day-partitions).
  private val rewriteAll: Sink = (w, out) =>
    w.outputMode("complete").foreachBatch { (bdf: Dataset[Row], _: Long) =>
      bdf.write.mode("overwrite").parquet(out)
    }

  // Idempotent upsert: each batch replaces only the `by` partitions it
  // emitted (Sinks.upsertPartitions); partitions silent in a later batch
  // keep their last written rows.
  private def upsertBy(by: String): Sink = (w, out) =>
    w.outputMode("update").foreachBatch { (bdf: Dataset[Row], _: Long) =>
      Sinks.upsertPartitions(bdf.sparkSession, bdf, out, by)
    }

  /** The checkpointed streaming keys' shared run: stage the input, gate
    * and read every arrival dir as a stream, drain it through `query`
    * with an AvailableNow trigger into `sink` on a fresh checkpoint, and
    * read the output back with the emission's own schema (a run that
    * emits nothing leaves no footer to infer from; the right answer is
    * the empty result).
    *
    * The input is `/tmp/graft_<name>_in_<tag>`, staged by `stage` once
    * per events fingerprint ([[Staging.once]]). The checkpoint is deleted
    * after the run, success or not; the output dir lives until JVM exit
    * because the returned DataFrame reads it lazily.
    *
    * Confs: 4 state partitions instead of the session's one per core —
    * state parallelism tracks key cardinality (~10 groups here), and each
    * state store adds checkpoint files per micro-batch; the value is baked
    * into the fresh checkpoint, so restoring the session conf afterwards
    * is safe. No-data micro-batches are off: they only advance the
    * watermark, and no key but stream_late_drop emits on a watermark
    * advance. `confs` override these.
    */
  private def runStaged(s: SparkSession, d: String, name: String,
      sources: Seq[Arrivals], sink: Sink,
      confs: Seq[(String, String)] = Nil)(stage: Path => Unit)(
      query: Seq[DataFrame] => DataFrame): DataFrame = {
    val out  = Staging.tempDirReapedAtExit(s"graft_${name}_out")
    val ckpt = Staging.freshCkptDir(s"graft_${name}_ckpt")
    val in = Paths.get(s"/tmp/graft_${name}_in_${Staging.tag(d)}")
    val allConfs = (Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.minBatchesToRetain" -> "2",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") ++ confs).toMap
    Staging.withConf(s, allConfs.toSeq: _*) { try {
      Staging.once(in.toString, Staging.eventsFingerprint(s, d))(stage)
      val streams = sources.map { a =>
        val dir = in.resolve(a.dir).toString
        val schema = s.read.parquet(in.resolve(a.schemaOf).toString).schema
        // Fail loud on a poisoned arrival file before the stream starts.
        Staging.validateArrivals(s, dir, schema)
        val reader = s.readStream.schema(schema)
        (if (a.oneFilePerBatch) reader.option("maxFilesPerTrigger", "1")
         else reader).parquet(dir)
      }
      val emitted = query(streams)
      sink(emitted.writeStream.option("checkpointLocation", ckpt), out)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      s.read.schema(emitted.schema).parquet(out)
    } finally Staging.rmr(Paths.get(ckpt)) }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Daily tumbling window ≡ the reference's per-day batch roll-up.
    "stream_tumbling_daily" -> ((s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("total"))
        .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("total"))
    }),

    // 1-hour windows sliding every 30 minutes: each event lands in exactly
    // two windows (epoch-aligned starts in both engines).
    "stream_sliding_1h30m" -> ((s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .select(col("w.start").as("wstart"), col("n"), col("n_users"))
    }),

    // Stream-equals-batch equivalence, driver-checked: a TRUE Structured
    // Streaming run (readStream file source → tumbling-window stateful agg
    // → foreachBatch upsert into a serving table, AvailableNow trigger) —
    // the reference's cron-driven daily batch made incremental — whose
    // final table must equal the batch SQL oracle. Aggregates are
    // integer-exact (count + cents sum) so incremental state-merge order
    // cannot perturb the result vs the batch plan. At 100 TB this is the
    // operational ingest shape: new log files land, AvailableNow drains
    // them through bounded state, foreachBatch upserts day-partitions.
    "stream_batch_equiv" -> ((s, d) => {
      // The file stream source watches a DIRECTORY (its real contract:
      // log files landing in a drop folder); the fixture is a single
      // file, so the stage copies it into one. Complete mode has no
      // watermark, so a trailing no-data batch would only redo the full
      // rewrite.
      runStaged(s, d, "sbe", Seq(Arrivals("events.parquet", oneFilePerBatch = false)),
          rewriteAll) { in =>
        Files.copy(Paths.get(s"$d/events.parquet"), in.resolve("events.parquet"))
      } { case Seq(ev) =>
        T.normalizeTs(ev)
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(cents).as("total_cents"))
          .select(col("w.start").cast("date").as("day"), col("event_type"),
            col("n"), col("total_cents"))
      }
    }),

    // Watermark late-data semantics, driver-checked: the events table is
    // staged as THREE arrival files — on-time rows (ts ≥ Jan 10) land
    // first, then a mid file (Jan 5 ≤ ts < Jan 10), then a truly-late file
    // (ts < Jan 5). maxFilesPerTrigger=1 + AvailableNow processes them as
    // three micro-batches. Spark 4 runs append aggregation on the TWO-
    // WATERMARK model: the late-events filter uses the PREVIOUS batch's
    // watermark while eviction/emission uses the current one — so batch 1
    // (mid) still passes the stale initial watermark and is aggregated +
    // emitted, but batch 2 (late) hits lateEvents wm = max(on-time ts) − 1h
    // and every row is DROPPED (verified empirically: 1362 dropped rows at
    // sf0.01, batch 2 emits nothing). Append mode emits exactly the
    // surviving day windows whose end ≤ final watermark (the last open day
    // stays in state, unemitted — AvailableNow does not flush open
    // windows). The oracle reproduces both rules in batch SQL: aggregate
    // rows ts ≥ Jan 5 only, keep windows with end ≤ max(on-time ts) − 1 h.
    // Aggregates are integer-exact so micro-batch merge order can't
    // perturb parity. At 100 TB this is THE ingest correctness contract:
    // bounded state via watermark, deterministic lateness cutoff, no
    // double-emits for closed windows.
    "stream_late_drop" -> ((s, d) => {
      val cutoff = lit(java.sql.Timestamp.valueOf("2024-01-10 00:00:00"))
      val mid    = lit(java.sql.Timestamp.valueOf("2024-01-05 00:00:00"))
      // Append-mode windows close only when the watermark passes them, so
      // this key keeps the trailing no-data batch. The arrivals are
      // TIMESTAMP parquet written from T.events; mtimes are set 60 s apart
      // because the file source orders pending files by modification time.
      runStaged(s, d, "sld", Seq(Arrivals("0_ontime.parquet")), appendFiles,
          confs = Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "true")) { in =>
        val ev = events(s, d)
        val t0 = System.currentTimeMillis() - 180000
        stageSingleFile(ev.filter(col("ts") >= cutoff), in, "0_ontime", t0)
        stageSingleFile(ev.filter(col("ts") >= mid && col("ts") < cutoff),
          in, "1_mid", t0 + 60000)
        stageSingleFile(ev.filter(col("ts") < mid), in, "2_late", t0 + 120000)
      } { case Seq(ev) =>
        ev.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(cents).as("total_cents"))
          .select(col("w.start").cast("date").as("day"), col("event_type"),
            col("n"), col("total_cents"))
      }
    }),

    // Streaming exactly-once dedup, driver-checked: the events file lands
    // twice — once whole, then a second arrival file re-delivering every
    // 'click' row (the at-least-once redelivery every real log pipeline
    // produces). Two micro-batches (maxFilesPerTrigger=1 + AvailableNow);
    // dropDuplicatesWithinWatermark(event_id) keeps the FIRST occurrence
    // and bounds its state by the 1 h watermark — the 100 TB contract: at
    // unbounded-state dropDuplicates the dedup map grows with the whole
    // stream's key space; within-watermark state holds only the last
    // hour's ids. Batch 2 emits nothing because every redelivered id is
    // STILL IN DEDUP STATE (state expires only past watermark + delay;
    // the redelivered rows sit within 1 h of the stream max, so the
    // watermark alone would NOT drop them all) — shrinking the 1 h delay
    // below the redelivery lag is what would break exactly-once here.
    // The read-back aggregate must equal the plain batch aggregate over
    // events (each id once).
    "stream_dedup" -> ((s, d) => {
      // dropDuplicatesWithinWatermark is a stateful FILTER: survivors emit
      // in the batch they arrive in, so no no-data batch is needed.
      runStaged(s, d, "sdd", Seq(Arrivals("0_full.parquet")), appendFiles) { in =>
        val ev = events(s, d)
        val t0 = System.currentTimeMillis() - 180000
        stageSingleFile(ev, in, "0_full", t0)
        stageSingleFile(ev.filter(col("event_type") === "click"),
          in, "1_redelivered", t0 + 60000)
      } { case Seq(ev) =>
        ev.withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      }
        // Aggregate the deduped emission for a compact, integer-exact
        // compare: equality certifies each event_id survived exactly once
        // with its original row intact.
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          sum(cents).as("total_cents"))
    }),

    // Arbitrary stateful processing (Spark 4 transformWithState),
    // driver-checked: the reference's incremental counts table as CUSTOM
    // state — per event_type, a typed ValueState (n, cents) accumulated
    // across two staged micro-batches on RocksDB state (the operational
    // store at 100 TB: incremental checkpoints, state beyond heap).
    // Update-mode emissions upsert via dynamic partition overwrite (each
    // batch rewrites only the event_type partitions it emitted), so the
    // final table is the running total per key — which must equal the
    // plain batch aggregate.
    "stream_stateful_totals" -> ((s, d) => {
      import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig, TimerValues, ValueState}
      import s.implicits._
      class Totals extends StatefulProcessor[String, (String, Long), (String, Long, Long)] {
        @transient private var st: ValueState[(Long, Long)] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          st = getHandle.getValueState[(Long, Long)]("totals",
            implicitly[org.apache.spark.sql.Encoder[(Long, Long)]], TTLConfig.NONE)
        override def handleInputRows(key: String, rows: Iterator[(String, Long)],
            timers: TimerValues): Iterator[(String, Long, Long)] = {
          var (n, cents) = if (st.exists()) st.get() else (0L, 0L)
          rows.foreach { r => n += 1; cents += r._2 }
          st.update((n, cents))
          Iterator.single((key, n, cents))
        }
      }
      // transformWithState requires the RocksDB state store.
      runStaged(s, d, "sst", Seq(Arrivals("0_h1.parquet")), upsertBy("event_type"),
          confs = Seq("spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) { in =>
        val ev = events(s, d)
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        val split = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
        val t0 = System.currentTimeMillis() - 120000
        stageSingleFile(ev.filter(col("ts") < split), in, "0_h1", t0)
        stageSingleFile(ev.filter(col("ts") >= split), in, "1_h2", t0 + 60000)
      } { case Seq(ev) =>
        // coalesce: a NULL or dirty value row still COUNTS while adding 0
        // cents — the oracle's count(*) + sum-skips-NULL — and never
        // reaches the typed encoder as NULL.
        ev.select(col("event_type"), coalesce(cents, lit(0L)).as("cents"))
          .as[(String, Long)]
          .groupByKey(_._1)
          .transformWithState(new Totals, TimeMode.None(), OutputMode.Update())
          .toDF("event_type", "n", "total_cents")
      }
        // The emission schema's event_type doubles as the partition column.
        .select(col("event_type"), col("n"), col("total_cents"))
    }),

    // Stream-stream interval join, driver-checked: the purchase and click
    // streams join on user_id with clicks in the 5 minutes before each
    // purchase — the attribution join, run as TRUE streaming (two file
    // sources, watermarks on both sides, append mode). The time-range
    // condition + watermarks are what bound the join state at 100 TB:
    // each side buffers only rows younger than watermark + band; without
    // them an inner stream-stream join buffers both streams forever.
    // Both staged files arrive in micro-batch 0 (no maxFilesPerTrigger),
    // so no row is watermark-late and the emission must equal the batch
    // theta join — the oracle.
    "stream_stream_join" -> ((s, d) => {
      runStaged(s, d, "ssj", Seq(Arrivals("p", "p", oneFilePerBatch = false),
          Arrivals("c", "c", oneFilePerBatch = false)), appendFiles) { in =>
        val ev = events(s, d).filter(col("user_id").isNotNull)
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
          .coalesce(1).write.mode("overwrite").parquet(s"$in/p")
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"))
          .coalesce(1).write.mode("overwrite").parquet(s"$in/c")
      } { case Seq(purchases, clicks) =>
        val p = purchases
          .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val c = clicks
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        p.join(c,
            col("user_id") === col("c_user") &&
              col("c_ts") <= col("p_ts") &&
              col("c_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES"))
          .select(col("p_id"), col("user_id"))
      }
        // Pair counts per user — compact, integer-exact compare.
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_pairs"))
    }),

    // The reference's ENTIRE operational loop as ONE driver-checked key:
    // daily dumps land (two staged arrival halves, split by time) → the
    // incremental streaming aggregation rolls (file, date) play counts →
    // each micro-batch UPSERTS its date partitions into the at-rest
    // counts table (dynamic partition overwrite — the halves touch
    // disjoint dates, exactly the daily-cron shape) → the result is read
    // back through graft.api.Playcounts, the reference's own query API.
    // Oracle = the same point lookups straight off the raw events: the
    // whole ingest→sink→API chain must be lossless.
    "pipeline_daily_e2e" -> ((s, d) => {
      val counts = runStaged(s, d, "p2e", Seq(Arrivals("0_h1.parquet")), upsertBy("date")) { in =>
        val ev = events(s, d)
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        val split = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
        val t0 = System.currentTimeMillis() - 120000
        stageSingleFile(ev.filter(col("ts") < split), in, "0_h1", t0)
        stageSingleFile(ev.filter(col("ts") >= split), in, "1_h2", t0 + 60000)
      } { case Seq(ev) =>
        ev.groupBy(col("event_type").as("file"), day(col("ts")).as("date"))
          .agg(count(lit(1)).as("count"))
      }
      // Query the upserted counts table through the reference API; on a
      // zero-row corpus it must answer empty off an empty table.
      val pc = new graft.api.Playcounts(counts)
      pc.dateCount("view", java.sql.Date.valueOf("2024-01-20"))
        .unionByName(pc.dateCount("click", java.sql.Date.valueOf("2024-01-05")))
    }),

    // Per-user session windows, 5-minute gap. Session end = last event +
    // gap, and the merge is END-INCLUSIVE: an event at exactly prev_end
    // (= prev event + gap) MERGES into the session — Spark's session
    // merge condition is sessionStart <= currentEnd, adjacent windows
    // included. Proven off-fixture by the GenPropertySpec island-merge
    // property with forced boundary arrivals (which caught the oracle's
    // original `>=` new-session flag as a latent divergence: fixture
    // microsecond timestamps never land exactly on a gap boundary, so
    // the hash gate alone could never see it). The oracle's
    // gaps-and-islands flag uses `>` to match.
    "stream_session_5m" -> ((s, d) => {
      events(s, d)
        .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), r4(sum(col("value"))).as("total"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("total"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "stream_tumbling_daily" -> """
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS wstart, event_type,
             count(*) AS n, round(sum(value), 4) AS total
      FROM events GROUP BY 1, 2 ORDER BY wstart, event_type
    """,

    "stream_sliding_1h30m" -> """
      WITH fanout AS (
        SELECT user_id,
               unnest([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
                 AS wstart
        FROM events)
      SELECT wstart, count(*) AS n, count(DISTINCT user_id) AS n_users
      FROM fanout GROUP BY wstart ORDER BY wstart
    """,

    // The streaming dedup must emit each event exactly once: its
    // read-back aggregate equals the plain batch aggregate (each row's
    // redelivered copy dropped by first-occurrence-wins).
    "stream_dedup" -> """
      SELECT event_type, count(*) AS n,
             count(DISTINCT event_id) AS n_ids,
             CAST(sum(TRY_CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM events GROUP BY event_type ORDER BY event_type
    """,

    // The full ingest→sink→API chain must be lossless: the API's point
    // lookups off the upserted counts table equal the raw-event counts.
    // HAVING count(*) > 0 mirrors the API's unknown-file contract (r10
    // ADVICE): a file type with NO events anywhere answers EMPTY, a known
    // type on a playless date answers the zero-fill row — without the
    // gate the oracle would fabricate a count-0 row for an absent type
    // on corpora that lack it (the fixture always has both types).
    "pipeline_daily_e2e" -> """
      SELECT 'view' AS file, DATE '2024-01-20' AS date,
             count(*) FILTER (WHERE CAST(date_trunc('day', ts) AS DATE)
                              = DATE '2024-01-20') AS count
      FROM events WHERE event_type = 'view'
      HAVING count(*) > 0
      UNION ALL
      SELECT 'click' AS file, DATE '2024-01-05' AS date,
             count(*) FILTER (WHERE CAST(date_trunc('day', ts) AS DATE)
                              = DATE '2024-01-05') AS count
      FROM events WHERE event_type = 'click'
      HAVING count(*) > 0
      ORDER BY file
    """,

    // The transformWithState running totals must equal the plain batch
    // aggregate after the last micro-batch's upsert. coalesce(sum, 0):
    // the typed state accumulates 0 cents per dirty/NULL row (a running
    // total is never NULL), so a group whose values are ALL dirty reads
    // 0 — the oracle's bare sum over all-NULL would read NULL
    // (stream_dirty corpus, r11).
    "stream_stateful_totals" -> """
      SELECT event_type, count(*) AS n,
             CAST(coalesce(sum(TRY_CAST(round(value * 100) AS BIGINT)), 0)
                  AS BIGINT) AS total_cents
      FROM events GROUP BY event_type ORDER BY event_type
    """,

    // The streaming interval join must equal the batch theta join: both
    // staged files land in micro-batch 0, so nothing is watermark-late.
    "stream_stream_join" -> """
      SELECT p.user_id, count(*) AS n_pairs
      FROM (SELECT user_id, ts FROM events
            WHERE event_type = 'purchase' AND user_id IS NOT NULL) p
      JOIN (SELECT user_id, ts AS c_ts FROM events
            WHERE event_type = 'click' AND user_id IS NOT NULL) c
        ON p.user_id = c.user_id AND c.c_ts <= p.ts
           AND c.c_ts >= p.ts - INTERVAL 5 MINUTES
      GROUP BY p.user_id ORDER BY p.user_id
    """,

    // The batch SQL the streaming run must equal (sum over BIGINT is
    // HUGEINT in DuckDB — cast back).
    "stream_batch_equiv" -> """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n,
             CAST(sum(TRY_CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM events GROUP BY 1, 2 ORDER BY day, event_type
    """,

    // Batch restatement of the streaming run's TWO rules: (1) the truly-
    // late file (ts < Jan 5, arriving after the watermark advanced past
    // it) is excluded — the mid file still passes the one-batch-lagging
    // lateEvents watermark; (2) append mode emits only day windows whose
    // end ≤ final watermark = max(on-time ts) − 1 h.
    "stream_late_drop" -> """
      WITH kept AS (
        SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'),
      wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events
             WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'),
      g AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               count(*) AS n,
               CAST(sum(TRY_CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        FROM kept GROUP BY 1, 2)
      SELECT day, event_type, n, total_cents
      FROM g, wm
      WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= wm.w
      ORDER BY day, event_type
    """,

    "stream_session_5m" -> """
      WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL '5 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL '5 minutes' AS session_end,
             count(*) AS n_events, round(sum(value), 4) AS total
      FROM sessions GROUP BY user_id, sid
      ORDER BY user_id, session_start
    """
  )
}
