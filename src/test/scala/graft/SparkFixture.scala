package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (Spark re-creation per suite is
  * the dominant test cost). sf0.001 fixtures keep asserts hand-checkable.
  */
object SparkFixture {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs started by `body` in any session of the shared context,
    * counted once the listener bus drains.
    */
  def jobsOf(body: => Any): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graftspec.SparkAccess.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.graftspec.SparkAccess.drain(sc); n.get }
    finally sc.removeSparkListener(listener)
  }
}
