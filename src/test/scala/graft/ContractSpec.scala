package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants: every query runs at sf0.001, flagship is
  * non-empty, and the oracle map stays consistent with the query map.
  */
class ContractSpec extends AnyFunSuite {
  import SparkFixture._

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("every key has an oracle — sketch keys emit tolerance verdicts") {
    // Since r6 the two sketch keys emit engine-agnostic tolerance
    // verdicts (exact value + boolean) instead of raw sketch values, so
    // the FULL inventory is DuckDB-checkable: no key may lack an oracle.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"unexpected oracle-less keys: $noOracle")
  }

  test("every query executes at sf0.001") {
    // On a fresh session: it has none of the library's functions and none
    // of the shared session's runtime confs, so every key must work from
    // SparkEntry's own set-up and leave the session's confs and temp views
    // as it found them (a leaked conf changes every later key's plan; a
    // leaked view shadows a name for every later query of the session).
    val s = spark.newSession()
    def tempViews = s.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = s.conf.getAll
    val viewsBefore = tempViews
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(s, sf).count()
      withClue(name)(assert(n >= 0))
    }
    val after = s.conf.getAll
    assert(after == before, s"confs changed: ${after.toSet diff before.toSet}")
    val viewsAfter = tempViews
    assert(viewsAfter == viewsBefore,
      s"temp views changed: ${(viewsAfter diff viewsBefore).toSeq.sorted}")
  }

  test("T.normalizeTs maps NTZ ts to TIMESTAMP and rejects a raw long") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.TimestampType
    import spark.implicits._
    val microsUtc = 1704067199123456L // 2023-12-31 23:59:59.123456 UTC
    // The fixtures' ts arrives as TIMESTAMP_NTZ. Built from LITERAL
    // wall-clock fields (make_timestamp_ntz), NOT via a round-trip cast:
    // a cast-constructed NTZ and the cast back are inverse session-TZ
    // shifts, so that leg would pass under ANY timezone and could never
    // catch the cast ceasing to be value-preserving. With a literal NTZ,
    // the unix_micros equality below holds ONLY when the NTZ→LTZ cast
    // runs under a UTC session — the invariant normalizeTs asserts.
    val ntz = T.normalizeTs(
      spark.sql(
        "SELECT make_timestamp_ntz(2023, 12, 31, 23, 59, 59.123456) AS ts"))
    assert(ntz.schema("ts").dataType == TimestampType)
    assert(ntz.select(unix_micros(col("ts"))).head.getLong(0) == microsUtc)
    // A raw long ts has no unit to read it by: it must fail, naming the
    // type, not be cast as seconds.
    val e = intercept[IllegalArgumentException](
      T.normalizeTs(Seq(microsUtc * 1000L).toDF("ts")))
    assert(e.getMessage.contains("bigint"), e.getMessage)
    // And the live fixture loader lands on the same contract: every
    // watermark/window/date_trunc downstream assumes TimestampType.
    assert(T.events(spark, sf).schema("ts").dataType == TimestampType)
  }
}
