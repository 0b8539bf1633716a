package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located join — the core 100 TB fact-fact join story: both
  * tables bucketed+sorted on the join key at write time, so the join
  * needs NO shuffle at read time (bucket scan satisfies the required
  * distribution). This is the design the operator docs point at whenever
  * they say "pre-partition / bucket the fact tables".
  */
class BucketSpec extends AnyFunSuite {
  import SparkFixture._
  import T._

  test("bucketed fact-fact join plans with zero exchanges") {
    val base = Staging.tempDirReapedAtExit("graft_buckets")
    lineitem(spark, sf).write.format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$base/li").saveAsTable("li_bucketed")
    orders(spark, sf).write.format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$base/ord").saveAsTable("ord_bucketed")
    try {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("li_bucketed")
          .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        joined.collect()
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        // The join inputs must come straight from the bucketed scans — no
        // exchange on either join key (the post-join aggregation's exchange
        // on o_orderstatus is the only acceptable one).
        assert(!plan.contains("Exchange hashpartitioning(l_orderkey")
          && !plan.contains("Exchange hashpartitioning(o_orderkey"),
          s"bucketed join should not shuffle its inputs:\n$plan")
        assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
          s"scan did not use buckets:\n$plan")
        // Same result as the plain join.
        val plain = lineitem(spark, sf)
          .join(orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        assert(joined.orderBy("o_orderstatus").collect().toSeq ==
          plain.orderBy("o_orderstatus").collect().toSeq)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("join_bucketed_colocated builds with no Spark job once staged") {
    // The staged tables' DDL is read from the fixtures' cached schemas and
    // the fingerprints are cached too, so a second build runs no job.
    val build = SparkEntry.queries("join_bucketed_colocated")
    build(spark, sf)
    assert(jobsOf(build(spark, sf)) == 0)
  }

  test("join_bucketed_colocated restages when lineitem is rewritten mid-JVM") {
    // A temp copy of the two tables the key reads, so the rewrite below
    // touches no shared fixture.
    val d = Staging.tempDirReapedAtExit("graft_bkt_fixture")
    val staged = java.nio.file.Paths.get(s"/tmp/graft_buckets_${Staging.tag(d)}")
    def file(t: String) = java.nio.file.Paths.get(s"$d/$t.parquet")
    Seq("lineitem", "orders").foreach(t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"), file(t)))
    def plain = lineitem(spark, d)
      .join(orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(expr("""CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS DECIMAL(38,0)))
              AS DOUBLE)""") / 10000.0, 4).as("revenue"))
    def check(): Unit = assert(
      SparkEntry.queries("join_bucketed_colocated")(spark, d)
        .orderBy("o_orderpriority").collect().toSeq ==
        plain.orderBy("o_orderpriority").collect().toSeq)
    try {
      check()
      // Rewrite lineitem in place: every other order's items dropped and
      // all discounts zeroed, so both n_items and revenue change.
      val out = Staging.tempDirReapedAtExit("graft_bkt_rewrite")
      lineitem(spark, d).filter(col("l_orderkey") % 2 === 0)
        .withColumn("l_discount", lit(0.0))
        .coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part, file("lineitem"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      check()
    } finally {
      val tag = Staging.tag(d)
      spark.sql(s"DROP TABLE IF EXISTS li_bkt_$tag")
      spark.sql(s"DROP TABLE IF EXISTS ord_bkt_$tag")
      Staging.rmr(staged)
    }
  }
}
