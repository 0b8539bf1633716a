package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's `SPARK_GRAFT_CONF` parsing. No Spark session: the parse runs
  * before Verify opens one.
  */
class VerifyConfSpec extends AnyFunSuite {
  test("a valid two-pair string parses in order") {
    assert(Verify.confPairs(
      "spark.sql.adaptive.enabled=false;spark.sql.shuffle.partitions=8") ==
      Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "8"))
  }

  test("blank entries and surrounding whitespace are skipped") {
    assert(Verify.confPairs(" ; a.b = 1 ;;\t c=x=y ; ") ==
      Seq("a.b" -> "1", "c" -> "x=y"))
    assert(Verify.confPairs("  ").isEmpty)
  }

  test("an entry without '=' throws naming the entry") {
    val e = intercept[IllegalArgumentException](Verify.confPairs(
      "spark.sql.shuffle.partitions=8;spark.sql.adaptive.enabled false"))
    assert(e.getMessage.contains("spark.sql.adaptive.enabled false"))
  }
}
