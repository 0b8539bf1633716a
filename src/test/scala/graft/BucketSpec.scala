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
}
