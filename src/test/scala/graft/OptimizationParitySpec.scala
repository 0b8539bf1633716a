package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** r18 optimization round: every rewritten key is pinned OLD ≡ NEW.
  *
  * Each test keeps the pre-r18 implementation inline as the reference and
  * asserts the optimized form produces the identical row multiset (Row
  * equality is bit-sensitive for doubles: java.lang.Double.equals
  * distinguishes -0.0/0.0 and makes NaN self-equal — stricter than ==).
  * Fixture corpora cover the oracle-checked surface; the crafted corpora
  * cover what fixtures can't (unicode astral chars, empty strings, NULL
  * keys, parse-adversarial strings).
  */
class OptimizationParitySpec extends AnyFunSuite {
  private val s = SparkFixture.spark
  private val sf = SparkFixture.sf
  import s.implicits._

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def assertSame(oldDf: DataFrame, newDf: DataFrame): Unit = {
    assert(oldDf.columns.toSeq == newDf.columns.toSeq)
    val o = multiset(oldDf)
    val n = multiset(newDf)
    assert(o == n, s"multisets differ: onlyOld=${(o.keySet -- n.keySet).take(3)} onlyNew=${(n.keySet -- o.keySet).take(3)}")
  }

  // ---- agg_approx_hll / agg_datasketch_hll: grid-first rewrite --------

  private def hllOld(e: DataFrame): DataFrame =
    e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("approx"))
  private def hllNew(e: DataFrame): DataFrame =
    e.select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type"))
      .agg(count(col("user_id")).as("n_users_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("approx"))

  test("hll grid rewrite: sketch + exact count identical on the fixture") {
    val e = T.events(s, sf)
    assertSame(hllOld(e), hllNew(e))
  }

  test("hll grid rewrite: NULL user_ids and all-NULL groups identical") {
    val e = Seq[(String, java.lang.Long)](
      ("a", 1L), ("a", 1L), ("a", 2L), ("a", null),
      ("b", null), ("b", null),                    // all-NULL group
      ("c", 3L), ("c", 3L), ("c", 3L),
      (null, 4L), (null, null)                     // NULL group key
    ).toDF("event_type", "user_id")
    assertSame(hllOld(e), hllNew(e))
  }

  test("datasketch grid rewrite: estimate identical on the fixture") {
    val e = T.events(s, sf).filter(col("user_id").isNotNull)
    val o = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users_exact"),
        expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("approx"))
    val n = e.select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type"))
      .agg(count(col("user_id")).as("n_users_exact"),
        expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("approx"))
    assertSame(o, n)
  }

  // ---- fn_try_ansi: guarded try_to_timestamp --------------------------

  test("try_to_timestamp guard is a superset of parseable strings") {
    val cases = Seq(
      "2024-01-13", "2024-99-99", "0001-01-01", "9999-12-31",
      " 2024-01-01", "\t2024-01-01", "+2024-01-01", "-0001-01-01",
      "Brand#13", "", "x2024-01-01", "２０２４-01-01", "٢٠٢٤-01-01",
      "2024-1-3", "20240113", "2024-01-13T00:00:00", "  ", "+", "-",
      "2024-01-13 trailing", "01-2024-13", "999999999-01-01"
    ).zipWithIndex
    val df = cases.map { case (t, i) => (i.toLong, t) }.toDF("id", "brand")
    df.createOrReplaceTempView("guard_probe")
    val o = s.sql(
      "SELECT id, try_to_timestamp(brand, 'yyyy-MM-dd') AS bad_ts FROM guard_probe")
    val n = s.sql(
      """SELECT id, CASE WHEN brand RLIKE '^\\s*[+-]?[0-9]'
                    THEN try_to_timestamp(brand, 'yyyy-MM-dd') END AS bad_ts
         FROM guard_probe""")
    assertSame(o, n)
  }

  // ---- fn_try_ansi r19: guarded try_add / try_cast ---------------------

  test("try_add overflow guard is an exact identity for all bigints") {
    val cases = Seq[java.lang.Long](
      0L, 1L, -1L, 42L, -42L, Long.MaxValue, Long.MinValue,
      Long.MinValue + 1, Long.MaxValue - 1, null)
    val df = cases.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "k")
    df.createOrReplaceTempView("add_probe")
    val o = s.sql(
      "SELECT id, try_add(9223372036854775807, k) AS add_ovf FROM add_probe")
    val n = s.sql(
      """SELECT id, CASE WHEN k <= 0
                    THEN try_add(9223372036854775807, k) END AS add_ovf
         FROM add_probe""")
    assertSame(o, n)
  }

  test("try_cast INT guard is a superset of ANSI-parseable strings") {
    val cases = Seq(
      "123", "+123", "-123", "0", " 42", "42 ", "\t7", "2147483647",
      "2147483648",            // parses as long, overflows INT → NULL both
      "-2147483648", "-2147483649",
      "Brand#13", "", " ", "abc", "12abc", "1.5", ".5", "+.5", "1e3",
      "１２３",                 // fullwidth digits: not ASCII → NULL both
      // control-char whitespace: UTF8String.trimAll eats every char in
      // [\x00-\x20], so "\u00011" and "\u000B9" parse WITHOUT the
      // leading char; a plain regex \s guard (excludes \x01) would
      // diverge on the first one.
      "\u0001" + "1", "\u000B" + "9",
      "+", "-", "--1", "++1", "0x1F", "  +0  "
    ).zipWithIndex
    val df = cases.map { case (t, i) => (i.toLong, t) }.toDF("id", "brand")
    df.createOrReplaceTempView("cast_probe")
    val o = s.sql("SELECT id, try_cast(brand AS INT) AS bad_cast FROM cast_probe")
    val n = s.sql(
      """SELECT id, CASE WHEN brand RLIKE '^[\\x00- ]*[+-]?[0-9]'
                    THEN try_cast(brand AS INT) END AS bad_cast
         FROM cast_probe""")
    assertSame(o, n)
  }

  // ---- fn_variant: single-parse layered projection --------------------

  test("fn_variant layered projection identical on the fixture") {
    T.events(s, sf).createOrReplaceTempView("variant_parity")
    val o = s.sql("""
      SELECT event_id,
             try_variant_get(try_parse_json(props), '$.k', 'int') AS k_var,
             try_variant_get(try_parse_json(props), '$.missing', 'string') AS missing,
             try_variant_get(try_parse_json(props), '$.k', 'int') > 50 AS k_gt50,
             schema_of_variant(try_parse_json(props)) AS vschema,
             to_json(try_parse_json(props)) AS canonical
      FROM variant_parity""")
    val n = SparkEntry.queries("fn_variant")(s, sf)
    assertSame(o, n)
  }

  // ---- text_quality_score: JIT'd mapPartitions ------------------------

  private def qualityOld(docs: DataFrame): DataFrame = {
    val stop = Seq("the", "and", "of", "to", "a", "in", "is")
    val inList = stop.map(t => s"'$t'").mkString(", ")
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val ttr = size(array_distinct(toks)) / nTok
    val stopRatio = expr(s"size(filter(split(text, ' '), t -> t IN ($inList)))") / nTok
    val avgLen = expr("aggregate(transform(split(text, ' '), t -> length(t)), 0, (a, x) -> a + x)") / nTok
    val lenScore = least(nTok, lit(100.0)) / 100.0
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      T.r6(ttr).as("type_token_ratio"),
      T.r6(stopRatio).as("stopword_ratio"),
      T.r6(avgLen).as("avg_token_len"),
      T.r6(ttr * 0.4 + lenScore * 0.3 + least(avgLen / 10.0, lit(1.0)) * 0.2
        + stopRatio * 0.1).as("quality"))
  }

  test("quality score JIT pass identical on the fixture") {
    assertSame(qualityOld(T.documents(s, sf)),
      SparkEntry.queries("text_quality_score")(s, sf))
  }

  test("quality score JIT pass identical on an adversarial corpus") {
    val texts = Seq(
      "", " ", "  ", "the the the", "a", "xyzzy",
      "the and of to a in is", ("tok " * 200).trim,
      "😀 astral 😁 😀", // astral: codePointCount ≠ .length
      "ümlaut tokens ümlaut", "tab\tinside token", "trailing space ",
      " leading", "multi  space", "ネコ 猫 ねこ", "𝕊𝕡𝕒𝕣𝕜 𝕊𝕡𝕒𝕣𝕜",
      // r19 (r18 ADVICE): NULL text must yield NULL metrics in both forms
      // (split(NULL) propagates NULL in the expression twin), not an NPE.
      null
    ).zipWithIndex
    val tmp = Staging.tempDirReapedAtExit("qparity")
    texts.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    try
      assertSame(qualityOld(T.documents(s, tmp)),
        SparkEntry.queries("text_quality_score")(s, tmp))
    finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  // ---- text_bigram_lm: map-side bigrams + vocab-from-uc ---------------

  private def bigramOld(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "token")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val big = tok
      .withColumn("prev", lag(col("token"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("doc_id"), col("prev"), col("token"))
    val bc = big.groupBy(col("prev"), col("token")).agg(count(lit(1)).as("c12"))
    val uc = tok.groupBy(col("token").as("prev")).agg(count(lit(1)).as("c1"))
    val v = tok.select(col("token")).distinct().agg(count(lit(1)).as("vocab"))
    big.join(broadcast(bc), Seq("prev", "token"))
      .join(broadcast(uc), Seq("prev"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        T.r6(avg(log((col("c12") + 1).cast("double") / (col("c1") + col("vocab")))))
          .as("avg_logp"))
  }

  test("bigram LM map-side rewrite identical on the fixture") {
    assertSame(bigramOld(T.documents(s, sf)),
      SparkEntry.queries("text_bigram_lm")(s, sf))
  }

  test("bigram LM map-side rewrite identical on an edge-case corpus") {
    val texts = Seq(
      "", "one", "one two", "a a a a", "x y x y x",
      "the quick brown fox", "solo", " lead", "trail ", "a  b"
    ).zipWithIndex
    val tmp = Staging.tempDirReapedAtExit("bparity")
    texts.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    try
      assertSame(bigramOld(T.documents(s, tmp)),
        SparkEntry.queries("text_bigram_lm")(s, tmp))
    finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  // ---- setop_multiset: one-pass counted replicate ----------------------

  private def multisetOld(e: DataFrame): DataFrame = {
    val a = e.filter(col("value") < 100).select(col("user_id"), col("event_type"))
    val b = e.filter(col("value") < 50).select(col("user_id"), col("event_type"))
    a.exceptAll(b).withColumn("op", lit("except_all"))
      .unionByName(a.intersectAll(b).withColumn("op", lit("intersect_all")))
  }
  private def multisetNew(e: DataFrame): DataFrame =
    e.filter(col("value") < 100)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("na"), expr("count_if(value < 50)").as("nb"))
      .select(col("user_id"), col("event_type"),
        explode(concat(
          expr(s"array_repeat('except_all', ${T.intExactSql("na - nb")})"),
          expr(s"array_repeat('intersect_all', ${T.intExactSql("nb")})")))
          .as("op"))

  test("intExactSql passes values through unchanged and raises on overflow") {
    // In-range: identical to a plain INT cast, including 0 and Int.MaxValue.
    val ok = Seq(0L, 3L, Int.MaxValue.toLong).toDF("cnt")
      .selectExpr(s"${T.intExactSql("cnt")} AS c").collect().map(_.getInt(0))
    assert(ok.toSeq == Seq(0, 3, Int.MaxValue))
    // Overflow: loud failure, not a wrapped-negative empty array_repeat.
    val e = intercept[Exception] {
      Seq(Int.MaxValue.toLong + 1).toDF("cnt")
        .selectExpr(s"${T.intExactSql("cnt")} AS c").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .flatMap(x => Option(x.getMessage)).toSeq
    assert(msgs(e).exists(_.contains("count exceeds Int.MaxValue")), msgs(e))
  }

  test("setop_multiset counted replicate identical on the fixture") {
    val e = T.events(s, sf)
    assertSame(multisetOld(e), multisetNew(e))
  }

  test("setop_multiset counted replicate identical on adversarial values") {
    val rows = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, "a", 10.0), (1L, "a", 10.0), (1L, "a", 60.0),   // na=3, nb=2
      (2L, "b", 49.999), (2L, "b", 50.0), (2L, "b", 99.999), // 50 not <50
      (3L, "c", 100.0), (3L, "c", 150.0),                   // filtered out entirely
      (4L, "d", 40.0), (4L, "d", 40.0),                     // na=nb=2: except empty
      (null, "e", 10.0), (null, null, 70.0),                // NULL keys group
      (5L, "f", Double.NaN), (5L, "f", java.lang.Double.valueOf(-1.0)), // NaN<100 false
      (6L, null, 99.0)
    ).toDF("user_id", "event_type", "value")
    assertSame(multisetOld(rows), multisetNew(rows))
  }

  // ---- win_first_last: group-scalar agg + broadcast join --------------

  private def firstLastOld(o: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    o.select(col("o_orderstatus"), col("o_orderkey"),
      first(col("o_orderkey")).over(w).as("first_key"),
      last(col("o_orderkey")).over(w).as("last_key"))
  }

  test("win_first_last agg rewrite identical on the fixture") {
    assertSame(firstLastOld(T.orders(s, sf)),
      SparkEntry.queries("win_first_last")(s, sf))
  }

  test("win_first_last agg rewrite identical with NULL order dates") {
    val rows = Seq[(String, Long, java.lang.Integer)](
      ("A", 1L, 20240101), ("A", 2L, null), ("A", 3L, 20231201),
      ("B", 4L, null), ("B", 5L, null),         // all-NULL date group
      ("C", 6L, 20240301),                       // singleton group
      (null, 7L, 20240101), (null, 8L, 20240102) // NULL group key
    )
    val o = rows.toDF("o_orderstatus", "o_orderkey", "d")
      .select(col("o_orderstatus"), col("o_orderkey"),
        to_date(col("d").cast("string"), "yyyyMMdd").as("o_orderdate"))
    val fl = o.groupBy(col("o_orderstatus").as("st"))
      .agg(
        expr("min_by(o_orderkey, struct(o_orderdate, o_orderkey))").as("first_key"),
        expr("max_by(o_orderkey, struct(o_orderdate, o_orderkey))").as("last_key"))
    val viaAgg = o.select(col("o_orderstatus"), col("o_orderkey"))
      .join(broadcast(fl), col("o_orderstatus") <=> col("st"))
      .select(col("o_orderstatus"), col("o_orderkey"),
        col("first_key"), col("last_key"))
    assertSame(firstLastOld(o), viaAgg)
  }

  // ---- join_category_closure: two-levels-per-round expansion ----------

  test("category closure two-level rounds equal brute force on random trees") {
    val rnd = new scala.util.Random(181)
    // Three shapes: dense prefix, sparse with gaps (missing intermediate
    // keys prune whole subtrees — parent edges only exist for PRESENT
    // keys, but a present key's parent link exists even if the parent
    // key itself is absent, exactly as the key builds edges), and a
    // deep chain-ish sample.
    val keySets = Seq(
      (1L to 90L).toSeq,
      Seq(1L, 2L, 3L, 5L, 17L, 21L, 68L, 200L, 273L, 1000L, 1093L, 4097L),
      (1L to 300L).filter(_ => rnd.nextBoolean()).toSeq :+ 4096L
    )
    keySets.zipWithIndex.foreach { case (keys, i) =>
      val tmp = Staging.tempDirReapedAtExit(s"ccparity$i")
      keys.map(k => (k, k * 1.5 + 0.25)).toDF("p_partkey", "p_retailprice")
        .write.mode("overwrite").parquet(s"$tmp/part.parquet")
      try {
        // Driver brute force: BFS over parent = key div 4 edges among
        // PRESENT keys (k >= 1), from roots {1,2,3}; roots count
        // themselves when present in part.
        val present = keys.toSet
        val children: Map[Long, Seq[Long]] =
          keys.filter(_ >= 1).groupBy(_ / 4).view.mapValues(_.toSeq).toMap
        def reach(root: Long): Set[Long] = {
          var seen = Set(root)
          var frontier = Set(root)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(n => children.getOrElse(n, Nil))
              .diff(seen)
            seen ++= frontier
          }
          seen
        }
        val want = Seq(1L, 2L, 3L).map { r =>
          val m = reach(r).filter(present)
          (r.toInt, m.size.toLong,
            m.toSeq.map(k => math.round((k * 1.5 + 0.25) * 100)).sum)
        }.filter(_._2 > 0).toSet
        val got = SparkEntry.queries("join_category_closure")(s, tmp)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == want, s"keyset $i: got=$got want=$want")
      } finally {
        import scala.jdk.CollectionConverters._
        val p = java.nio.file.Paths.get(tmp)
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  // ---- dedup_near_minhash: JIT'd signature fold -----------------------

  test("minhash JIT signatures equal the HOF expression spec") {
    val rnd = new scala.util.Random(18)
    val rows = (1L to 300L).map { id =>
      val n = rnd.nextInt(40) // includes 0 — empty codes must be filtered
      (id, Array.fill(n)(rnd.nextLong().abs % 2147483647L))
    }
    val docs = rows.toDF("doc_id", "codes")
    val viaExprs = docs.filter(size(col("codes")) > 0)
      .select(col("doc_id") +: operators.Dedup.minhashSigExprsSpec: _*)
    val viaJit = operators.Dedup.minhashSigsDS(docs)
      .select(col("doc_id") +: (0 until 16).map(i =>
        expr(s"element_at(sigs, ${i + 1})").as(s"sig$i")): _*)
    assertSame(viaExprs, viaJit)
  }
}
