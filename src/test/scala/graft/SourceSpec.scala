package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Source-format coverage (SURVEY §2.1): the reference's at-rest input is
  * bz2-compressed TSV (splittable codec — a 100 TB dump still parallelizes);
  * JSON lines and ORC round-trips prove the reader surface beyond parquet.
  * Explicit schemas everywhere — never inferSchema (SURVEY §1.3).
  */
class SourceSpec extends AnyFunSuite {
  import SparkFixture._
  import T._

  private lazy val daily = events(spark, sf)
    .groupBy(day(col("ts")).as("day"), col("event_type"))
    .agg(count(lit(1)).as("n"))
    .select(col("day").cast("string").as("day"), col("event_type"), col("n"))

  private val schema = StructType(Seq(
    StructField("day", StringType), StructField("event_type", StringType),
    StructField("n", LongType)))

  test("bz2 TSV round-trip with explicit schema (the mediacounts format)") {
    val dir = Staging.tempDirReapedAtExit("graft_tsv") + "/out"
    daily.write.option("sep", "\t").option("compression", "bzip2").csv(dir)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".csv.bz2")))
    val back = spark.read.option("sep", "\t").schema(schema).csv(dir)
    assert(back.exceptAll(daily).count() == 0 && daily.exceptAll(back).count() == 0)
  }

  test("JSON lines round-trip with explicit schema") {
    val dir = Staging.tempDirReapedAtExit("graft_json") + "/out"
    daily.write.json(dir)
    val back = spark.read.schema(schema).json(dir)
    assert(back.exceptAll(daily).count() == 0 && daily.exceptAll(back).count() == 0)
  }

  test("ORC round-trip") {
    val dir = Staging.tempDirReapedAtExit("graft_orc") + "/out"
    daily.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.exceptAll(daily).count() == 0 && daily.exceptAll(back).count() == 0)
  }
}
