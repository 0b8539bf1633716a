package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalRun.session()
    // Optional extra confs for local robustness runs (k=v;k=v) — e.g.
    // SPARK_GRAFT_CONF="spark.sql.adaptive.enabled=false" proves results
    // don't depend on AQE re-planning. The driver never sets it.
    sys.env.get("SPARK_GRAFT_CONF").foreach(
      _.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k.trim, v.trim)
          case _ => System.err.println(
            s"[verify] ignoring malformed SPARK_GRAFT_CONF entry: '$kv'")
        }
      })
    new java.io.File(outDir).mkdirs()
    LocalRun.select(SparkEntry.queries).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // Append the ANSI query-context fragment when present (e.g.
        // divide-by-zero carries the offending expression text; CAST
        // overflow does NOT — Spark's castingCauseOverflowError takes no
        // context, so those stay value-only: "The value NaN … cannot be
        // cast", which is why tools/degen_check.py's batch_dirty family
        // pins the column by probe construction instead). Exceptions can
        // chain through a write-job wrapper, so walk the causes for the
        // first SparkThrowable carrying context.
        val ctx = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .take(8).collectFirst {
            case st: org.apache.spark.SparkThrowable
              if st.getQueryContext != null && st.getQueryContext.nonEmpty =>
              st.getQueryContext.map(_.fragment()).filter(_ != null)
                .filter(_.nonEmpty).distinct.mkString(" in: ", " | ", "")
          }.getOrElse("")
        System.err.println(s"[verify] $name failed: ${e.getMessage}$ctx")
      }
      // Mirror Bench's per-key cache discipline (r18 ADVICE): several keys
      // persist() multi-consumer subtrees with no in-key unpersist (funnel
      // m1/m2, bigram big/uc, zipf tf, tfidf, embed-cosine assignment);
      // without this the 138-key loop accumulates MEMORY_AND_DISK blocks
      // for the whole verify run — pressure only, but it grows with every
      // optimization round that adds a persist.
      finally
        try spark.catalog.clearCache() catch { case _: Throwable => () }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The oracle dump honors the same key filter: an unfiltered dump
    // under SPARK_GRAFT_KEYS makes tools/check.py report every
    // unselected key as declared-but-missing, burying the real result
    // (the driver never filters, so driver dumps are always complete).
    val json = LocalRun.select(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
