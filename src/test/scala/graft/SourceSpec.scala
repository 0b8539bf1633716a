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

  test("T.tbl infers a fixture's schema once per session") {
    val s = spark.newSession()
    assert(jobsOf(tbl(s, sf, "nation")) >= 1, "the first read infers the schema")
    assert(jobsOf(tbl(s, sf, "nation")) == 0, "the second read must reuse it")
    assert(tbl(s, sf, "nation").schema == spark.read.parquet(s"$sf/nation.parquet").schema)
  }

  test("T.tbl infers again when the fixture is rewritten mid-JVM") {
    val d = Staging.tempDirReapedAtExit("graft_tbl_sig")
    val p = s"$d/region.parquet"
    region(spark, sf).write.parquet(p)
    assert(!tbl(spark, d, "region").columns.contains("added"))
    region(spark, sf).withColumn("added", lit(1)).write.mode("overwrite").parquet(p)
    val back = tbl(spark, d, "region")
    assert(back.columns.contains("added"), s"stale schema: ${back.schema.simpleString}")
    assert(back.filter(col("added") === 1).count() == back.count())
  }

  test("a session with other parquet settings infers its own schema") {
    // Written without Spark's schema in the footer, as the fixtures are:
    // Spark reads a schema it wrote back as written, whatever the setting.
    val d = Staging.tempDirReapedAtExit("graft_tbl_conf")
    val msg = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required binary b; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$d/bin.parquet")).withType(msg).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
      .newGroup().append("b", "x"))
    finally w.close()
    assert(tbl(spark, d, "bin").schema("b").dataType == BinaryType)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(jobsOf(assert(tbl(s2, d, "bin").schema("b").dataType == StringType)) >= 1)
    assert(tbl(spark, d, "bin").schema("b").dataType == BinaryType)
  }

  test("ORC round-trip") {
    val dir = Staging.tempDirReapedAtExit("graft_orc") + "/out"
    daily.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.exceptAll(daily).count() == 0 && daily.exceptAll(back).count() == 0)
  }
}
