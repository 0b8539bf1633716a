package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 keys: deterministic moment stats, median/disc percentiles,
  * numeric range frames, multiset set ops, partition-pruned scans,
  * bucketed co-located join, regexp/trig families, and the mapPartitions
  * lang-ID rewrite (checked against its expression-form predecessor).
  */
class Round3Spec extends AnyFunSuite {
  import SparkFixture._

  private def q(key: String) = SparkEntry.queries(key)(spark, sf)

  // fn_collation's UTF8_LCASE semantics on the locale-sensitive fold
  // classes (r10 verdict task 5), pinned Spark-side because the engines'
  // Unicode case implementations GENUINELY diverge here (measured this
  // round, so these classes stay out of the cross-engine corpora):
  // - İ U+0130: Spark lower() → i + U+0307 combining dot (Unicode
  //   SpecialCasing), DuckDB/utf8proc → bare i;
  // - ß: Spark upper() → SS, DuckDB → U+1E9E CAPITAL SHARP S (so DuckDB
  //   round-trips the fan-out into ONE group where Spark splits ss/ß —
  //   and UTF8_LCASE deliberately does NOT fold ß = ss);
  // - final sigma: Spark lower('ΟΔΟΣ') is context-aware → ς, DuckDB is
  //   per-codepoint → σ; UTF8_LCASE folds σ = ς so all casings of the
  //   word land in ONE group;
  // - dotless ı U+0131: never folds to i in either engine — the one edge
  //   class BOTH engines agree on (pinned cross-engine in the degenerate
  //   part corpus rows 13/14).
  test("fn_collation UTF8_LCASE edges: İ, ß/SS split, final-sigma merge, dotless ı") {
    import spark.implicits._
    val dir = Staging.tempDirReapedAtExit("graft_coll_edge")
    try {
      val brands = Seq("İst#1", "ıssiz#2", "Straße#3", "ΟΔΟΣ#4", "οδος#4", "οδοσ#4")
      brands.zipWithIndex.map { case (b, i) =>
        (i.toLong, s"name$i", b, "t", i, i.toDouble)
      }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
        .coalesce(1).write.parquet(s"$dir/part.parquet")
      // The emitted label is lower() of whichever UTF8_LCASE-equal string
      // the hash aggregate retained as the group representative — for the
      // sigma group that can be the final-sigma or the medial-sigma form
      // depending on partitioning/merge order (lower('…σ') keeps σ; the
      // final-sigma mapping only fires when lowercasing Σ). Normalize
      // ς→σ before comparing so the pin asserts the MERGE, not the
      // nondeterministic representative (r11 review).
      val got = SparkEntry.queries("fn_collation")(spark, dir)
        .collect()
        .map(r => r.getString(0).replace('\u03c2', '\u03c3') -> r.getLong(1))
        .toMap
      assert(got == Map(
        "i\u0307st#1" -> 3L,     // İst + lower + upper all fold together
        "issiz#2" -> 1L,         // upper('ıssiz') = ISSIZ folds to issiz, NOT back to ı
        "\u0131ssiz#2" -> 2L,    // original + lower keep the dotless ı
        "strasse#3" -> 1L,       // upper('Straße') = STRASSE stays apart from ß
        "stra\u00dfe#3" -> 2L,
        "\u03bf\u03b4\u03bf\u03c3#4" -> 9L), // σ = ς under UTF8_LCASE: every casing merges
        s"got $got")
    } finally Staging.rmr(java.nio.file.Paths.get(dir))
  }

  // The fn_string dialect guard NULLs `lev` on non-ASCII args because
  // DuckDB's levenshtein counts BYTES there (8 for 'ıssiz#9' vs 't u');
  // Spark's code-point distance is the semantics this library claims —
  // pin it here since the cross-engine gate deliberately can't.
  test("levenshtein is code-point based: 'ıssiz#9' vs 't u' is 7, not 8 bytes") {
    import spark.implicits._
    val r = Seq(("ıssiz#9", "t u")).toDF("a", "b")
      .select(levenshtein(col("a"), col("b"))).collect().head.getInt(0)
    assert(r == 7, s"expected code-point distance 7, got $r")
  }

  test("agg_skew_kurt matches the builtin skewness/kurtosis to 1e-6") {
    val ours = q("agg_skew_kurt")
      .select("l_returnflag", "skew_qty", "kurt_qty").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val ref = T.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(skewness(col("l_quantity")).as("sk"), kurtosis(col("l_quantity")).as("ku"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    ref.foreach { case (k, (sk, ku)) =>
      assert(math.abs(ours(k)._1 - sk) < 1e-6, s"skew mismatch for $k")
      assert(math.abs(ours(k)._2 - ku) < 1e-6, s"kurt mismatch for $k")
    }
  }

  test("agg_median med_value equals exact percentile 0.5") {
    val med = q("agg_median").select("event_type", "med_value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ref = T.events(spark, sf).groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("p")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(med == ref)
  }

  test("win_range_numeric band matches a brute-force scan") {
    val got = q("win_range_numeric").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val part = T.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select("event_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    part.foreach { case (id, v) =>
      val band = part.filter(p => p._2 >= v - 10.0 && p._2 <= v)
      val n = band.length.toLong
      val s = band.map(p => math.round(p._2 * 100)).sum / 100.0
      assert(got(id)._1 == n, s"band_n mismatch for event $id")
      assert(math.abs(got(id)._2 - s) < 1e-9, s"band_sum mismatch for event $id")
    }
  }

  test("setop_multiset respects bag algebra: |A| = |A except all B| + |A intersect all B|") {
    val e = T.events(spark, sf)
    val nA = e.filter(col("value") < 100).count()
    val byOp = q("setop_multiset").groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byOp("except_all") + byOp("intersect_all") == nA)
    // B ⊆ A here (value<50 implies value<100), so intersect-all keeps all of B.
    assert(byOp("intersect_all") == e.filter(col("value") < 50).count())
  }

  test("scan_partition_pruned prunes partitions and matches the raw-table aggregate") {
    val df = q("scan_partition_pruned")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: ["), s"no partition filters in:\n$p")
    assert(p.contains("day#"), s"day not a partition filter column:\n$p")
    val raw = T.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .filter(col("day").between("2024-01-05", "2024-01-09"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
    assert(df.orderBy("day", "event_type").collect().toSeq ==
      raw.orderBy("day", "event_type").collect().toSeq)
  }

  test("join_bucketed_colocated equals the plain join") {
    val plain = T.lineitem(spark, sf)
      .join(T.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(expr("""CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS DECIMAL(38,0)))
              AS DOUBLE)""") / 10000.0, 4).as("revenue"))
    assert(q("join_bucketed_colocated").orderBy("o_orderpriority").collect().toSeq ==
      plain.orderBy("o_orderpriority").collect().toSeq)
  }

  test("fn_regexp spot row") {
    val r = q("fn_regexp").filter(col("swapped") =!= col("p_partkey").cast("string"))
      .orderBy("p_partkey").limit(1).collect().head
    // 'cold widget' → brand parsed, vowels counted, two-word swap applied
    assert(r.getAs[Int]("n_type_tokens") >= 1)
    assert(r.getAs[String]("swapped").split(" ").length >= 1)
  }

  test("fn_trig sin/cbrt sanity on integral quantities") {
    val r = q("fn_trig").filter(col("l_orderkey") === 1 && col("l_linenumber") === 1)
      .collect()
    if (r.nonEmpty) {
      val q0 = T.lineitem(spark, sf)
        .filter(col("l_orderkey") === 1 && col("l_linenumber") === 1)
        .select("l_quantity").collect().head.getDouble(0)
      assert(math.abs(r.head.getAs[Double]("sin_q")
        - BigDecimal(math.sin(q0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("fn_array_setops obeys inclusion-exclusion") {
    q("fn_array_setops").collect().foreach { r =>
      val (u, i, e) = (r.getAs[Int]("n_union"), r.getAs[Int]("n_intersect"),
        r.getAs[Int]("n_except"))
      // |A∪B| = |A\B| + |B| needs |B| — but |A| = |A\B| + |A∩B| always:
      assert(e + i <= u && i >= 0 && e >= 0)
      assert(r.getAs[String]("inter_str").split(",").filter(_.nonEmpty).length == i)
    }
  }

  test("text_zipf_coverage cum_share is monotone in rank and bounded by 1") {
    val rows = q("text_zipf_coverage").orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("tf"), r.getAs[Double]("cum_share")))
    assert(rows.map(_._1).toSeq == (1 to rows.length))
    assert(rows.map(_._2).toSeq == rows.map(_._2).sortBy(-_).toSeq, "tf not descending")
    rows.sliding(2).foreach { case Array((_, _, a), (_, _, b)) => assert(a <= b + 1e-12) }
    assert(rows.last._3 <= 1.0 + 1e-12)
  }

  test("multimodal_chunks tile exactly: per-doc chunk lengths sum to byte_len") {
    val sums = q("multimodal_chunks").groupBy("doc_id")
      .agg(sum(col("chunk_len")).as("s"), max(col("off")).as("maxoff")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    T.documents(spark, sf).select(col("doc_id"), length(col("text")).as("len"))
      .collect().foreach { r =>
        val (s, maxoff) = sums(r.getLong(0))
        assert(s == r.getInt(1).toLong, s"doc ${r.getLong(0)} chunks don't tile")
        assert(maxoff % 64 == 0)
      }
  }

  test("text_lang_id mapPartitions rewrite equals the expression form") {
    import spark.implicits._
    val got = q("text_lang_id").as[(Long, String, String, Int)].collect().sortBy(_._1)
    // Reference: the original HOF formulation, evaluated directly.
    val markers = Seq(
      "de" -> Seq("der", "und", "das", "nicht"),
      "en" -> Seq("the", "and", "of", "is"),
      "es" -> Seq("el", "los", "una", "que"),
      "fr" -> Seq("le", "et", "les", "dans"),
      "zh" -> Seq("shi", "bu", "wo", "zhe"))
    val ref = T.documents(spark, sf).select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().sortBy(_._1)
      .map { case (id, lang, text) =>
        val toks = text.split(" ", -1)
        val scores = markers.map { case (_, ts) => toks.count(ts.toSet) }
        val max = scores.max
        (id, lang, markers(scores.indexOf(max))._1, max)
      }
    assert(got.toSeq == ref.toSeq)
  }
}
