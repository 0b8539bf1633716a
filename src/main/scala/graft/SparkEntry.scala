package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator module's `queries`/`oracleSql` into the single
  * map the driver's Verify/Bench harness consumes. Each key is one operator
  * from SURVEY.md §2; its oracle is ANSI SQL runnable by DuckDB 1.0 against
  * views named after the fixture tables.
  */
object SparkEntry {

  private def modules: Seq[QueryModule] = Seq(
    operators.Relational,
    operators.Joins,
    operators.Windows,
    operators.Functions,
    operators.Dedup,
    operators.Sampling,
    operators.TextAnalysis,
    operators.Similarity,
    operators.Streaming
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Flagship = `agg_daily_counts`, the reference's core per-(entity, day)
    * play-count aggregation (SURVEY.md §7.2).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_daily_counts")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * first registers the library's SQL functions on its session.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).map { case (key, build) =>
      key -> { (s: SparkSession, d: String) =>
        functions.SqlFunctions.register(s)
        build(s, d)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys (engine-specific sketches,
    * streaming state) get the driver's weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracleSql).toMap
}
