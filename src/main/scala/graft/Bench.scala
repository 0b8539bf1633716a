package graft

/** Driver throughput bench: every selected key runs fully against the
  * `noop` sink, three timed runs per key after untimed warm-ups, and the
  * key reports the min (-1 when it fails). All samples go to
  * bench_full.json; one summary line goes to stdout.
  */
object Bench {
  /** Chars the shown keys may spend on the stdout line. The driver parses
    * the line from a 2000-char stdout tail, sbt's trailing "[success]"
    * line takes ~80 of it, and the fixed fields take ~140 more.
    */
  private val KeyBudget = 1700

  private def f(v: Double): String =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString

  /** The stdout line: the slowest keys until [[KeyBudget]] is spent, the
    * remaining fast keys folded into a count and summed seconds.
    */
  def stdoutLine(results: Map[String, Double], sf: String, ckpt: String): String = {
    // Failures (-1) sort FIRST: they take the budget before any timed
    // key, so a failure is not folded into the omitted summary.
    val sorted = results.toSeq.sortBy { case (k, v) => (v >= 0, -v, k) }
    var used = 0
    val (shown, omitted) = sorted.partition { case (k, v) =>
      val cost = k.length + f(v).length + 4 // "k":v,
      val fits = used + cost <= KeyBudget
      if (fits) used += cost
      fits
    }
    val qs = shown.map { case (k, v) => s"\"$k\":${f(v)}" }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val omittedSec = omitted.map(_._2).filter(_ >= 0).sum
    s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,""" +
      s""""omitted_fast_keys":${omitted.size},"omitted_sec":${f(omittedSec)},""" +
      s""""sf":"$sf","ckpt":"$ckpt"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sfName = new java.io.File(sfDir).getName
    val spark = LocalRun.session()
    // Noop sink forces FULL execution of every operator: a count() action
    // would let Catalyst prune projections and eliminate sorts, timing a
    // bare scan for projection-only keys.
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    def untimed(name: String): Unit = try run(name) catch { case _: Throwable => () }
    // Sorted keys: a fixed order keeps the same key absorbing any
    // residual warm-up or GC phase from run to run.
    val keys = LocalRun.select(SparkEntry.queries).keys.toSeq.sorted
    // Untimed warm-ups: JVM/codegen/file-index warm-up otherwise lands on
    // whichever query runs first (~4 s on one key); warming the first
    // measured key too covers its own codegen. multimodal_binary is the
    // one key on the typed mapPartitions path, whose first-touch encoder
    // JIT once made its driver number 6–9× its warm time. Each selected
    // checkpointed streaming key runs once too: they share JVM-global
    // first-touch cost (StreamExecution, file-source/sink classes, the
    // RocksDB state store, streaming codegen) that otherwise lands inside
    // the first streaming key's first sample.
    untimed("agg_daily_counts")
    keys.headOption.foreach(untimed)
    if (LocalRun.selected("multimodal_binary")) untimed("multimodal_binary")
    keys.filter(Staging.checkpointedKeys).foreach(untimed)
    val samples = keys.map { name =>
      val ss =
        try Seq.fill(3) {
          val t0 = System.nanoTime()
          run(name)
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => Seq(-1.0) }
        // Release this key's persisted DataFrames before the next key;
        // its own three samples share them.
        finally try spark.catalog.clearCache() catch { case _: Throwable => () }
      name -> ss
    }
    val results = samples.map { case (k, ss) => k -> ss.min }.toMap
    // `ckpt` says where the streaming keys' checkpoints went: the
    // /dev/shm preference falls back to disk silently.
    val ckpt = if (Staging.ckptOnShm) "shm" else "tmp"
    // Every key with all its samples; the stdout line carries only the
    // slowest keys.
    val keyJson = samples.map { case (k, ss) =>
      s"""    "$k": {"samples": [${ss.map(f).mkString(", ")}], "min": ${f(ss.min)}}"""
    }.mkString(",\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_full.json"),
      s"""{\n  "sf": "$sfName",\n  "cpus": ${LocalRun.cpus},\n  "ckpt": "$ckpt",\n""" +
        s"""  "total_min_sec": ${f(results.values.filter(_ >= 0).sum)},\n""" +
        s"""  "keys": {\n$keyJson\n  }\n}\n""")
    println(stdoutLine(results, sfName, ckpt))
    spark.stop()
  }
}
