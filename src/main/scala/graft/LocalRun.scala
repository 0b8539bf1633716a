package graft
import org.apache.spark.sql.SparkSession

/** The local session and key selection shared by [[Bench]] and [[Verify]]. */
object LocalRun {
  /** Executor width: SPARK_GRAFT_CPUS, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` session with one shuffle partition per core. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Oracle-parity invariant (see T.normalizeTs): don't depend on the
      // sbt fork's -D flag alone — a run launched any other way must
      // still read NTZ fixtures as UTC instants.
      .config("spark.sql.session.timeZone", "UTC")
      // At 100 TB a table is thousands of ≥128 MB splits and every core
      // has work; the sf0.1 fixtures are single ~50 MB files, which the
      // default 128 MB split turns into 1–3 partitions — a 32-core run
      // where 29 cores idle. Small splits emulate the cluster's natural
      // scan parallelism at fixture scale (scan config, not a query
      // change — plans and results are identical).
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Optional comma-separated key filter (SPARK_GRAFT_KEYS) for local
    * isolation runs; unset, every key is selected.
    */
  private lazy val keyFilter: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_KEYS").map(_.split(",").map(_.trim).toSet)

  def selected(key: String): Boolean = keyFilter.forall(_(key))

  def select[V](byKey: Map[String, V]): Map[String, V] =
    byKey.filter { case (k, _) => selected(k) }
}
