package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Bench's stdout line, which the driver parses from a 2000-char stdout
  * tail (sbt's trailing "[success]" line takes ~80 of it). No Spark
  * session: the line is a pure function of the per-key results.
  */
class BenchLineSpec extends AnyFunSuite {
  private val keys = SparkEntry.queries.keys.toSeq.sorted
  private val worst = 99999.99 // 5-digit seconds, the widest timing tested

  private def parse(line: String) = new ObjectMapper().readTree(line)

  test("a failed key stays on the line when slow keys overflow the budget") {
    val failed = keys.maxBy(_.length)
    val results = keys.map(k => k -> (if (k == failed) -1.0 else worst)).toMap
    val j = parse(Bench.stdoutLine(results, "sf0.1", "shm"))
    assert(j.get("queries").get(failed).asDouble == -1.0)
    val omitted = j.get("omitted_fast_keys").asInt
    assert(omitted > 0, "the worst case must overflow the budget")
    assert(j.get("queries").size + omitted == keys.size)
    assert(math.abs(j.get("value").asDouble - worst * (keys.size - 1)) < 0.01)
  }

  test("the line stays within 1900 chars for the inventory at 5-digit timings") {
    val shapes = Seq(
      keys.map(_ -> worst),
      keys.map(k => k -> (if (k.length % 2 == 0) worst else 0.01)),
      keys.zipWithIndex.map { case (k, i) => k -> (if (i % 7 == 0) -1.0 else worst) })
    shapes.foreach { rs =>
      val line = Bench.stdoutLine(rs.toMap, "sf0.1", "tmp")
      assert(line.length <= 1900, s"${line.length} chars")
    }
  }

  test("the line is one JSON object with the eight fields in order") {
    val results = keys.zipWithIndex.map { case (k, i) => k -> i * 0.37 }.toMap
    val line = Bench.stdoutLine(results, "sf0.1", "shm")
    assert(!line.contains("\n"))
    val j = parse(line)
    assert(j.fieldNames.asScala.toSeq == Seq("metric", "value", "unit", "queries",
      "omitted_fast_keys", "omitted_sec", "sf", "ckpt"))
    assert(j.get("metric").asText == "total" && j.get("unit").asText == "sec")
    val shown = j.get("queries").fieldNames.asScala.toSeq
    assert(shown.size + j.get("omitted_fast_keys").asInt == keys.size)
    // Shown slowest first, starting with the slowest key.
    assert(shown.map(results) == shown.map(results).sorted.reverse)
    assert(shown.head == results.maxBy(_._2)._1)
    val omittedSec = j.get("omitted_sec").asDouble
    assert(math.abs(omittedSec - results.filter { case (k, _) => !shown.contains(k) }
      .values.sum) < 0.01)
  }
}
