package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.{Date, DriverManager, SQLException}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.SparkAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{QueryModule, SparkEntry, T}
import graft.api.Playcounts
import graft.sinks.Sinks

/** Fixed-work benchmark harness. Executes, in order, exactly the
  * operations listed in a plan file written by `perfbench/run.py` and
  * times each one from outside the program, through its public API:
  *
  *   key  <name>                      SparkEntry.queries(name) -> plan -> noop write
  *   day  <date> <tsv>                fromMediacountsLog -> upsertPartitions
  *                                    -> upsertJdbcCounts -> reopen Playcounts
  *   req  <kind> <arg> <d1> <d2>      one Playcounts call, collected
  *
  * Raw per-operation records go to `records.jsonl`; every metric is
  * derived from them by run.py. Output checks run after the timed loop.
  */
object Harness {

  val modules: Seq[(String, QueryModule)] = Seq(
    "Relational" -> graft.operators.Relational,
    "Joins" -> graft.operators.Joins,
    "Windows" -> graft.operators.Windows,
    "Functions" -> graft.operators.Functions,
    "Dedup" -> graft.operators.Dedup,
    "Sampling" -> graft.operators.Sampling,
    "TextAnalysis" -> graft.operators.TextAnalysis,
    "Similarity" -> graft.operators.Similarity,
    "Streaming" -> graft.operators.Streaming)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    a("mode") match {
      case "keys" => listKeys(Paths.get(a("out")))
      case "run"  => new Run(a).apply()
    }
  }

  /** module, key, has-oracle — one line per SparkEntry key. Fails if a
    * key belongs to no module listed above, so a new module cannot drop
    * out of the benchmark unnoticed.
    */
  private def listKeys(out: Path): Unit = {
    val oracle = SparkEntry.oracleSql.keySet
    val rows = for ((m, q) <- modules; k <- q.queries.keys.toSeq.sorted)
      yield s"$m\t$k\t${oracle(k)}"
    val covered = modules.flatMap(_._2.queries.keys).toSet
    val missing = SparkEntry.queries.keySet -- covered
    require(missing.isEmpty, s"keys outside the listed modules: $missing")
    Files.write(out, rows.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    val js = v match {
      case s: String => q(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case xs: Seq[_] => xs.map {
        case s: String => q(s)
        case o => o.toString
      }.mkString("[", ",", "]")
      case o => o.toString
    }
    s"${q(k)}:$js"
  }.mkString("{", ",", "}")
}

/** Listener counters, read as deltas around each phase (traced runs only). */
final class Counters extends SparkListener {
  val jobs, stages, tasks, cpuNs, shuffleRead, shuffleWrite, spill =
    new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def snap(): Array[Long] = Array(jobs, stages, tasks, cpuNs, shuffleRead,
    shuffleWrite, spill).map(_.get)
}

final class StreamCounters extends StreamingQueryListener {
  val batches, batchMs, droppedLate = new AtomicLong
  val stateRows = new java.util.concurrent.ConcurrentHashMap[String, Long]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.incrementAndGet()
    batchMs.addAndGet(p.batchDuration)
    droppedLate.addAndGet(p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
    stateRows.put(p.runId.toString, p.stateOperators.map(_.numRowsTotal).sum)
  }
}

final class Run(a: Map[String, String]) {
  import Harness.{obj, q}

  private val workload = a("workload")
  private val traced = a("trace") == "1"
  private val cpus = a("cpus").toInt
  private val sf = a("sf")
  private val inputs = Paths.get(a("inputs"))
  private val state = Paths.get(a("state"))
  private val out = Paths.get(a("out"))
  private val setups = a("setups").toInt
  private val plan: Vector[Array[String]] =
    Files.readAllLines(Paths.get(a("plan")), UTF_8).asScala.toVector
      .filter(_.nonEmpty).map(_.split("\t", -1))
  private val warmup: Vector[Array[String]] =
    Files.readAllLines(Paths.get(a("warmup")), UTF_8).asScala.toVector
      .filter(_.nonEmpty).map(_.split("\t", -1))
  private val checkKeys = a.getOrElse("check", "").split(",").filter(_.nonEmpty)

  private val countsPath = state.resolve("counts").toString
  private val derbyPath = state.resolve("derby").toString
  private val jdbcUrl = s"jdbc:derby:$derbyPath;create=true"

  private var spark: SparkSession = _
  private var pc: Playcounts = _
  private var members: DataFrame = _
  private var edges: DataFrame = _
  private val counters = new Counters
  private val streams = new StreamCounters
  private val records = new StringBuilder
  private val extra = scala.collection.mutable.LinkedHashMap[String, Any]()

  private def now(): Long = System.nanoTime()
  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** Counter snapshot after the listener bus has caught up. */
  private def snap(): Array[Long] =
    if (!traced) Array.emptyLongArray
    else { SparkAccess.drain(spark.sparkContext); counters.snap() }

  private def delta(prefix: String, s0: Array[Long], s1: Array[Long]): Seq[(String, Any)] =
    if (!traced) Nil
    else Seq("jobs", "stages", "tasks", "cpu_ns", "shuffle_read",
      "shuffle_write", "spill").zipWithIndex.map { case (n, i) =>
      s"${prefix}_$n" -> (s1(i) - s0(i))
    }

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", state.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", state.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def rmr(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toVector.reverse
    all.foreach(Files.delete)
  }

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  private def shutdownDerby(): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$derbyPath;shutdown=true")
    catch { case _: SQLException => () }

  /** One set-up of the workload's fresh state on the session: the sweep
    * opens every fixture table, the ingest restores the history table and
    * an empty Derby store and opens the API on them.
    */
  private def setUp(): Unit = {
    if (workload == "ingest_and_serve") {
      rmr(state.resolve("counts"))
      copyTree(inputs.resolve("history"), state.resolve("counts"))
      shutdownDerby()
      rmr(Paths.get(derbyPath))
      DriverManager.getConnection(jdbcUrl).close()
      members = spark.read.parquet(inputs.resolve("members.parquet").toString)
      edges = spark.read.parquet(inputs.resolve("edges.parquet").toString)
      pc = new Playcounts(spark.read.parquet(countsPath))
    } else T.tables.foreach(t => T.tbl(spark, sf, t))
  }

  private def d(s: String): Date = Date.valueOf(s)

  private def runKey(i: Int, name: String, record: Boolean): Unit = {
    val fn = SparkEntry.queries(name)
    val s0 = snap(); val t0 = now()
    try {
      val df = fn(spark, sf)
      val t1 = now(); val s1 = snap(); val t1b = now()
      df.queryExecution.executedPlan
      val t2 = now(); val s2 = snap(); val t2b = now()
      df.write.format("noop").mode("overwrite").save()
      val t3 = now(); val s3 = snap()
      if (record) emit(Seq("op" -> i, "kind" -> "key", "name" -> name,
        "ok" -> true, "build_ms" -> ms(t0, t1), "plan_ms" -> ms(t1b, t2),
        "exec_ms" -> ms(t2b, t3),
        "ms" -> (ms(t0, t1) + ms(t1b, t2) + ms(t2b, t3))) ++
        delta("build", s0, s1) ++ delta("plan", s1, s2) ++ delta("exec", s2, s3))
    } catch {
      case e: Throwable =>
        if (record) emit(Seq("op" -> i, "kind" -> "key", "name" -> name,
          "ok" -> false, "error" -> String.valueOf(e.getMessage).take(500)))
    } finally spark.catalog.clearCache()
  }

  private def filesUnder(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).toVector
      (fs.size.toLong, fs.map(Files.size).sum)
    }

  private def ingest(date: String, tsv: String, path: String,
                     table: String): (Double, Double, Array[Long], Array[Long], Array[Long]) = {
    val s0 = snap(); val t0 = now()
    val lines = spark.read.text(inputs.resolve(tsv).toString).toDF("line")
    val dayDf = Playcounts.fromMediacountsLog(lines, d(date))
    Sinks.upsertPartitions(spark, dayDf, path, "date")
    val t1 = now(); val s1 = snap(); val t1b = now()
    Sinks.upsertJdbcCounts(dayDf, jdbcUrl, table, "date",
      Some("file VARCHAR(1024)"))
    val t2 = now(); val s2 = snap()
    (ms(t0, t1), ms(t1b, t2), s0, s1, s2)
  }

  private def runDay(i: Int, date: String, tsv: String, record: Boolean): Unit = {
    try {
      val (upMs, jdbcMs, s0, s1, s2) = ingest(date, tsv, countsPath, "counts")
      val t0 = now()
      pc = new Playcounts(spark.read.parquet(countsPath))
      val openMs = ms(t0, now())
      val s3 = snap()
      val files =
        if (traced) filesUnder(Paths.get(countsPath, s"date=$date")) else (0L, 0L)
      if (record) emit(Seq("op" -> i, "kind" -> "day", "name" -> date,
        "ok" -> true, "upsert_partitions_ms" -> upMs, "upsert_jdbc_ms" -> jdbcMs,
        "ms" -> (upMs + jdbcMs), "open_ms" -> openMs,
        "files_written" -> files._1, "bytes_written" -> files._2) ++
        delta("upsert_partitions", s0, s1) ++ delta("upsert_jdbc", s1, s2) ++
        delta("open", s2, s3))
    } catch {
      case e: Throwable =>
        if (record) emit(Seq("op" -> i, "kind" -> "day", "name" -> date,
          "ok" -> false, "error" -> String.valueOf(e.getMessage).take(500)))
    }
  }

  /** Scan nodes' file counts in an executed (possibly adaptive) plan. */
  private def filesRead(p: SparkPlan): Long = p match {
    case ap: AdaptiveSparkPlanExec => filesRead(ap.executedPlan)
    case qs: QueryStageExec => filesRead(qs.plan)
    case other =>
      other.metrics.get("numFiles").filter(_ => other.nodeName.startsWith("Scan"))
        .map(_.value).getOrElse(0L) +
        other.children.map(filesRead).sum + other.subqueries.map(filesRead).sum
  }

  private def answer(kind: String, rows: Array[Row]): String =
    if (rows.isEmpty) "null"
    else kind match {
      case "date_count" => s"[${rows(0).getLong(2)}]"
      case "date_range" | "last30" | "last90" =>
        val r = rows(0)
        val det = r.getSeq[Row](2).map(x => s"[${q(x.getDate(0).toString)},${x.getLong(1)}]")
        s"[${r.getLong(1)},${det.mkString("[", ",", "]")}]"
      case _ => s"[${rows(0).getLong(1)},${rows(0).getLong(2)}]"
    }

  private def runReq(i: Int, op: Array[String], record: Boolean): Unit = {
    val Array(_, kind, arg, d1, d2) = op
    val s0 = snap(); val t0 = now()
    try {
      val df = kind match {
        case "date_count" => pc.dateCount(arg, d(d1))
        case "date_range" => pc.dateRangeCount(arg, d(d1), d(d2))
        case "last30" => pc.last30(arg, d(d1))
        case "last90" => pc.last90(arg, d(d1))
        case "category" => pc.categoryCount(members, arg, d(d1), d(d2))
        case "category_tree" => pc.categoryCount(members, edges, arg, d(d1), d(d2))
      }
      val t1 = now(); val s1 = snap(); val t1b = now()
      val rows = df.collect()
      val t2 = now(); val s2 = snap()
      if (record) emit(Seq("op" -> i, "kind" -> "req", "name" -> kind, "ok" -> true,
        "build_ms" -> ms(t0, t1), "exec_ms" -> ms(t1b, t2),
        "ms" -> (ms(t0, t1) + ms(t1b, t2)),
        "files_read" -> (if (traced) filesRead(df.queryExecution.executedPlan) else 0L),
        "answer" -> RawJson(answer(kind, rows))) ++
        delta("build", s0, s1) ++ delta("exec", s1, s2))
    } catch {
      case e: Throwable =>
        if (record) emit(Seq("op" -> i, "kind" -> "req", "name" -> kind,
          "ok" -> false, "error" -> String.valueOf(e.getMessage).take(500)))
    }
  }

  private final case class RawJson(s: String) { override def toString: String = s }

  private def emit(kv: Seq[(String, Any)]): Unit =
    records.append(obj(kv: _*)).append('\n')

  private def exec(i: Int, op: Array[String], record: Boolean): Unit = op(0) match {
    case "key" => runKey(i, op(1), record)
    case "day" => runDay(i, op(1), op(2), record)
    case "req" => runReq(i, op, record)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  /** Fixture-table opens, each timed alone (the T layer, traced runs). */
  private def tableReads(): Unit = {
    var readMs = 0.0
    var jobs = 0L
    T.tables.foreach { t =>
      val s0 = snap(); val t0 = now()
      T.tbl(spark, sf, t)
      readMs += ms(t0, now())
      jobs += snap()(0) - s0(0)
    }
    extra("T.read_ms") = readMs
    extra("T.read_jobs") = jobs
  }

  private def sweepChecks(): Unit = {
    val dir = out.resolve("check")
    Files.createDirectories(dir)
    val oracle = SparkEntry.oracleSql
    checkKeys.foreach { k =>
      try SparkEntry.queries(k)(spark, sf).coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(k).toString)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] check write $k failed: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    val js = checkKeys.filter(oracle.contains)
      .map(k => s"${q(k)}:${q(oracle(k))}").mkString("{", ",", "}")
    Files.write(dir.resolve("oracle_sql.json"), js.getBytes(UTF_8))
  }

  private def ingestChecks(): Unit = {
    val parquet = spark.read.parquet(countsPath).groupBy(col("date"))
      .agg(sum(col("count")).as("total"), count(lit(1)).as("rows"))
      .collect().map(r => s"[${q(r.getDate(0).toString)},${r.getLong(1)},${r.getLong(2)}]")
    val conn = DriverManager.getConnection(jdbcUrl)
    val jdbc = scala.collection.mutable.ArrayBuffer[String]()
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT CAST("date" AS VARCHAR(10)), SUM("count"), COUNT(*) FROM counts GROUP BY "date"""")
      while (rs.next()) jdbc += s"[${q(rs.getString(1))},${rs.getLong(2)},${rs.getLong(3)}]"
    } finally conn.close()
    val (nFiles, nBytes) = filesUnder(Paths.get(countsPath))
    extra("counts.files") = nFiles
    extra("counts.bytes") = nBytes
    Files.write(out.resolve("totals.json"),
      s"""{"parquet":${parquet.mkString("[", ",", "]")},"jdbc":${jdbc.mkString("[", ",", "]")}}"""
        .getBytes(UTF_8))
  }

  def apply(): Unit = {
    Files.createDirectories(out)
    val s0 = now()
    spark = session()
    val sessionMs = ms(s0, now())
    val setupMs = (1 to setups).map { _ =>
      val t0 = now(); setUp(); ms(t0, now())
    }
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      spark.streams.addListener(streams)
    }
    // Untimed warm-up: the same fixed operations for every seed. For the
    // ingest workload they write to a separate table, never the measured one.
    val w0 = now()
    warmup.foreach { op =>
      val t = now()
      op match {
        case Array("day", date, tsv) =>
          try ingest(date, tsv, state.resolve("warm_counts").toString, "warm")
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] warm-up day failed: ${e.getMessage}") }
        case _ => exec(-1, op, record = false)
      }
      System.err.println(f"[perfbench] warm-up ${op.mkString(" ")}: ${ms(t, now())}%.0f ms")
    }
    val warmupMs = ms(w0, now())
    if (traced && workload != "ingest_and_serve") tableReads()
    val gc0 = gcMs(); val cpu0 = cpuNs(); val t0 = now()
    plan.zipWithIndex.foreach { case (op, i) => exec(i, op, record = true) }
    val loopMs = ms(t0, now())
    val gc1 = gcMs(); val cpu1 = cpuNs()
    val rss = peakRssMb()
    if (traced) {  // before the checks, which may re-run a streaming key
      SparkAccess.drain(spark.sparkContext)
      extra("Streaming.batches") = streams.batches.get
      extra("Streaming.batch_ms") = streams.batchMs.get
      extra("Streaming.rows_dropped_late") = streams.droppedLate.get
      extra("Streaming.state_rows") = streams.stateRows.values.asScala.sum
    }
    val c0 = now()
    if (workload == "ingest_and_serve") ingestChecks() else sweepChecks()
    val checkJvmMs = ms(c0, now())
    Files.write(out.resolve("records.jsonl"), records.toString.getBytes(UTF_8))
    Files.write(out.resolve("summary.json"), obj(Seq(
      "session_ms" -> sessionMs, "setup_ms" -> setupMs, "loop_ms" -> loopMs, "peak_rss_mb" -> rss,
      "gc_ms" -> (gc1 - gc0), "cpu_s" -> (cpu1 - cpu0) / 1e9,
      "check_jvm_ms" -> checkJvmMs, "warmup_ms" -> warmupMs, "slots" -> cpus) ++ extra.toSeq: _*)
      .getBytes(UTF_8))
    spark.stop()
    shutdownDerby()
  }
}
