package graft

import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Generator-driven invariants (SURVEY §5.2#4): the operator algebra must
  * hold on arbitrary inputs, not just the fixtures. Plain ScalaCheck Gen
  * with FIXED seeds (no scalatestplus bridge in the offline dep set, and
  * deterministic cases reproduce exactly on failure). Cases stay small —
  * the goal is semantic coverage, not load.
  */
class GenPropertySpec extends AnyFunSuite {
  import SparkFixture._

  /** 5 deterministic samples per property. */
  private def forAll[A](g: Gen[A])(body: A => Unit): Unit =
    (1 to 5).foreach { i =>
      val a = g.apply(Gen.Parameters.default.withSize(40), Seed(42L + i))
        .getOrElse(fail(s"generator returned no sample for seed ${42L + i}"))
      body(a)
    }
  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(body: (A, B) => Unit): Unit =
    forAll(Gen.zip(g1, g2))(p => body(p._1, p._2))

  private val rowsGen: Gen[List[(Long, Long, Double)]] =
    Gen.nonEmptyListOf(for {
      user <- Gen.chooseNum(0L, 5L)
      day <- Gen.chooseNum(0L, 9L)
      v <- Gen.chooseNum(-100, 100).map(_.toDouble)
    } yield (user, day, v))

  test("groupBy sum is union-decomposable (partial agg soundness)") {
    forAll(rowsGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("user", "day", "v")
      val whole = df.groupBy($"user").agg(sum($"v").as("s"))
      val halves = df.filter($"day" < 5).unionByName(df.filter($"day" >= 5))
        .groupBy($"user").agg(sum($"v").as("s"))
      assert(whole.exceptAll(halves).count() == 0 &&
        halves.exceptAll(whole).count() == 0)
    }
  }

  test("dropDuplicates is idempotent and minimal") {
    forAll(rowsGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("user", "day", "v")
      val once = df.dropDuplicates()
      assert(once.count() == once.dropDuplicates().count())
      assert(once.count() == rows.distinct.size)
    }
  }

  test("running total final row equals total sum per key") {
    forAll(rowsGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("user", "day", "v")
        .groupBy($"user", $"day").agg(sum($"v").as("v"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user").orderBy($"day")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val finals = df.withColumn("rt", sum($"v").over(w))
        .groupBy($"user").agg(max(struct($"day", $"rt")).getField("rt").as("final"))
      val direct = df.groupBy($"user").agg(sum($"v").as("total"))
      val bad = finals.join(direct, "user")
        .filter(abs($"final" - $"total") > 1e-9)
      assert(bad.count() == 0)
    }
  }

  test("left_semi ∪ left_anti partitions the left side") {
    forAll(rowsGen, rowsGen) { (l, r) =>
      import spark.implicits._
      val left = l.toDF("user", "day", "v")
      val right = r.toDF("user", "day", "v").select($"user").distinct()
      val semi = left.join(right, Seq("user"), "left_semi")
      val anti = left.join(right, Seq("user"), "left_anti")
      assert(semi.count() + anti.count() == left.count())
      assert(semi.join(anti.select($"user").distinct(), Seq("user"), "left_semi").count() == 0)
    }
  }

  test("recursive categoryCount matches brute-force closure on random graphs") {
    // The closure walk must equal a brute-force BFS on ARBITRARY edge
    // sets — diamonds, cycles, self-loops, disconnected parts — and the
    // roll-up must count each reachable file once, whatever the
    // membership: files shared by several categories, listings repeated.
    val pairGen: Gen[List[(Int, Int)]] =
      Gen.listOf(Gen.zip(Gen.chooseNum(0, 7), Gen.chooseNum(0, 7)))
    forAll(pairGen, pairGen) { (es, extra) =>
      import spark.implicits._
      // One file per category c: "f<c>" with count c+1 on a fixed day.
      val day = java.sql.Date.valueOf("2024-01-01")
      val counts = (0 to 7).map(c => (s"f$c", day, (c + 1).toLong))
        .toDF("file", "date", "count")
      // Category c lists "f<c>"; each extra (c, f) also lists "f<f>" under
      // "cat<c>" (a file shared with its own category), and the first
      // extras are listed twice.
      val membership = (0 to 7).map(c => (c, c)) ++ extra ++ extra.take(2)
      val members = membership.map { case (c, f) => (s"cat$c", s"f$f") }
        .toDF("category", "file")
      val edges = es.map { case (p, c) => (s"cat$p", s"cat$c") }.toDF("parent", "child")
      // Driver-side BFS truth.
      val adj = es.groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2).toSet }
      var seen = Set(0); var frontier = Set(0)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
      }
      val files = membership.collect { case (c, f) if seen(c) => f }.toSet
      val pc = new api.Playcounts(counts)
      val r = pc.categoryCount(members, edges, "cat0", day, day).collect()(0)
      assert(r.getAs[Long]("total") == files.map(_ + 1L).sum
        && r.getAs[Long]("n_files") == files.size.toLong,
        s"edges=$es extra=$extra closure=$seen files=$files " +
          s"got=(${r.getAs[Long]("total")}, ${r.getAs[Long]("n_files")})")
    }
  }

  test("bucketed carry-in range window equals brute-force band aggregate") {
    // The win_range_numeric re-plan (round 7, carry-trim round 9) rests on
    // a coverage proof: partitioning by a TWO-band-wide centi-value bucket
    // plus one carry-in copy of only each bucket's TOP band sees EXACTLY
    // the rows with value in [v-10, v]. Check the whole pipeline — the
    // same W/bandC/filter arithmetic the production key uses — against an
    // O(n²) brute force on random values, including negatives
    // (floor-division bucketing and floored mod) and exact ties.
    val valsGen = Gen.nonEmptyListOf(
      Gen.chooseNum(-3000, 3000).map(_ / 100.0))
    forAll(valsGen) { vals =>
      import spark.implicits._
      val bandC = 1000L
      val w = 2 * bandC
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("event_id", "value")
        .withColumn("vc", expr("CAST(round(value * 100) AS BIGINT)"))
        .withColumn("bkt", expr(s"CAST(floor(vc / $w.0) AS BIGINT)"))
      val anchors = df.withColumn("is_anchor", lit(true))
      val carry = df
        .filter(expr(s"vc - $w * CAST(floor(vc / $w.0) AS BIGINT) >= ${w - bandC}"))
        .withColumn("bkt", $"bkt" + 1).withColumn("is_anchor", lit(false))
      val got = anchors.unionByName(carry)
        .select($"event_id", $"is_anchor",
          expr("""count(*) OVER (PARTITION BY bkt ORDER BY value
                  RANGE BETWEEN 10.0 PRECEDING AND CURRENT ROW)""").as("band_n"),
          expr("""sum(vc) OVER (PARTITION BY bkt ORDER BY value
                  RANGE BETWEEN 10.0 PRECEDING AND CURRENT ROW)""").as("band_cents"))
        .filter($"is_anchor")
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
      vals.zipWithIndex.foreach { case (v, i) =>
        val inBand = vals.filter(u => u >= v - 10.0 && u <= v)
        val want = (inBand.size.toLong, inBand.map(u => math.round(u * 100)).sum)
        assert(got(i.toLong) == want,
          s"row $i v=$v: got ${got(i.toLong)}, want $want over $vals")
      }
    }
  }

  test("Misra-Gries summary obeys its undercount bound on random streams") {
    // text_heavy_hitters' exactness rests entirely on this guarantee:
    // for every token, m ≤ f ≤ m + n/(k+1) (m = surviving count, 0 if
    // evicted), hence any token with f > n/(k+1) survives. Check on
    // random Zipf-ish streams with k SMALLER than the vocabulary so
    // evictions actually happen.
    val streamGen: Gen[List[String]] = Gen.nonEmptyListOf(
      Gen.frequency(8 -> Gen.oneOf("a", "b"), 3 -> Gen.oneOf("c", "d", "e"),
        1 -> Gen.oneOf((0 to 25).map(i => s"t$i"))))
    forAll(streamGen, Gen.chooseNum(2, 6)) { (toks, k) =>
      val m = operators.TextAnalysis.misraGries(toks.iterator, k).toMap
      val f = toks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      val bound = toks.size.toLong / (k + 1)
      f.foreach { case (t, ft) =>
        val mt = m.getOrElse(t, 0L)
        assert(mt <= ft && ft <= mt + bound,
          s"token $t: f=$ft m=$mt bound=$bound k=$k stream=$toks")
        if (ft > bound) assert(m.contains(t),
          s"token $t with f=$ft > n/(k+1)=$bound must survive; stream=$toks")
      }
      // Survivors never exceed k counters.
      assert(m.size <= k)
    }
  }

  test("two-pass heavy-hitter pipeline equals the direct aggregate") {
    // The FULL text_heavy_hitters path (MG partition summaries →
    // candidate superset → broadcast recount, with the overflow-safe
    // floor thresholds) must equal a plain count-filter aggregate on
    // random corpora — with k BELOW the vocabulary size so evictions
    // really happen, repartitioned so multiple MG summaries merge.
    val docGen: Gen[List[String]] = Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(Gen.frequency(
        6 -> Gen.const("hot"), 3 -> Gen.oneOf("w1", "w2", "w3"),
        2 -> Gen.oneOf((0 to 19).map(i => s"r$i"))))
        .map(_.mkString(" ")))
    forAll(docGen, Gen.chooseNum(6, 11)) { (texts, k) =>
      import spark.implicits._
      val docs = texts.toDF("text").repartition(3)
      val got = operators.TextAnalysis.heavyHitters(docs, k, phiDen = 5L)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val toks = texts.flatMap(_.split(" ", -1))
      val n = toks.size.toLong
      val want = toks.groupBy(identity).view
        .mapValues(_.size.toLong).filter(_._2 * 5 > n).toMap
      assert(got == want, s"k=$k n=$n got=$got want=$want")
    }
  }

  test("chained-min funnel equals brute-force sequential scan") {
    // agg_funnel_steps' join-chain formulation (min over rows later than
    // the previous step's min, within the window) must equal the direct
    // definition: scan each user's history once, advancing a step
    // pointer. Random histories hit the tricky cases — step events
    // before the first view, ties, windows that expire.
    val evGen: Gen[List[(Long, Long, Int)]] = Gen.nonEmptyListOf(for {
      user <- Gen.chooseNum(0L, 3L)
      t <- Gen.chooseNum(0L, 50L)
      step <- Gen.chooseNum(0, 2) // 0=view 1=click 2=purchase
    } yield (user, t, step))
    val W = 10L // window per step
    forAll(evGen) { evs =>
      import spark.implicits._
      val names = Map(0 -> "view", 1 -> "click", 2 -> "purchase")
      val df = evs.map { case (u, t, s) => (u, t, names(s)) }
        .toDF("user_id", "t", "event_type")
      val m1 = df.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"t").as("t1"))
      val m2 = df.filter($"event_type" === "click").join(m1, "user_id")
        .filter($"t" > $"t1" && $"t" <= $"t1" + W)
        .groupBy($"user_id").agg(min($"t").as("t2"))
      val m3 = df.filter($"event_type" === "purchase").join(m2, "user_id")
        .filter($"t" > $"t2" && $"t" <= $"t2" + W)
        .groupBy($"user_id").agg(min($"t").as("t3"))
      val got = (m1.count(), m2.count(), m3.count())
      // Brute force: first view; first qualifying click after it; first
      // qualifying purchase after that.
      val want = {
        val byUser = evs.groupBy(_._1)
        var (n1, n2, n3) = (0L, 0L, 0L)
        byUser.values.foreach { h =>
          val t1 = h.filter(_._3 == 0).map(_._2).minOption
          t1.foreach { v =>
            n1 += 1
            val t2 = h.filter(e => e._3 == 1 && e._2 > v && e._2 <= v + W)
              .map(_._2).minOption
            t2.foreach { c =>
              n2 += 1
              val t3 = h.filter(e => e._3 == 2 && e._2 > c && e._2 <= c + W)
                .map(_._2).minOption
              if (t3.nonEmpty) n3 += 1
            }
          }
        }
        (n1, n2, n3)
      }
      assert(got == want, s"funnel mismatch: got=$got want=$want evs=$evs")
    }
  }

  test("cohort retention grid equals brute-force per-user computation") {
    // agg_retention_cohort's distinct-grid + min-day-join formulation
    // must equal the direct definition: for each user, cohort = first
    // active day, and every active day contributes one count at its
    // offset — duplicate events per (user, day) collapse to one.
    forAll(rowsGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("user", "day", "v")
      val days = df.select($"user", $"day").distinct()
      val cohort = days.groupBy($"user").agg(min($"day").as("cohort"))
      val got = days.join(cohort, "user")
        .groupBy($"cohort", ($"day" - $"cohort").as("off"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = rows.map(r => (r._1, r._2)).distinct
        .groupBy(_._1).toSeq.flatMap { case (_, ds) =>
          val c = ds.map(_._2).min
          ds.map(d => (c, d._2 - c))
        }
        .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
      assert(got == want, s"rows=$rows got=$got want=$want")
    }
  }

  test("bitmap bucket aggregation counts distinct exactly across boundaries") {
    // agg_bitmap_distinct's two-level scheme must equal count(DISTINCT)
    // on ids straddling the 32768-bit bucket boundary (0, 32767, 32768,
    // multiples, duplicates) and across multiple groups.
    val idsGen: Gen[List[(Int, Long)]] = Gen.nonEmptyListOf(for {
      g <- Gen.chooseNum(0, 2)
      id <- Gen.oneOf(Gen.chooseNum(0L, 10L), Gen.chooseNum(32760L, 32775L),
        Gen.chooseNum(65530L, 65545L), Gen.chooseNum(0L, 200000L))
    } yield (g, id))
    forAll(idsGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("g", "id").repartition(3)
      df.createOrReplaceTempView("bm_prop")
      val got = spark.sql("""
        WITH b AS (
          SELECT g, bitmap_bucket_number(id) AS bkt,
                 bitmap_construct_agg(bitmap_bit_position(id)) AS bm
          FROM bm_prop GROUP BY 1, 2)
        SELECT g, CAST(sum(bitmap_count(bm)) AS BIGINT) AS n
        FROM b GROUP BY g""")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val want = rows.groupBy(_._1).map { case (g, xs) =>
        g -> xs.map(_._2).distinct.size.toLong
      }
      assert(got == want, s"got=$got want=$want rows=$rows")
    }
  }

  test("limit/offset pagination covers exactly the sorted prefix") {
    forAll(rowsGen) { rows =>
      import spark.implicits._
      val df = rows.zipWithIndex.map { case ((u, d, v), i) => (i.toLong, u, d, v) }
        .toDF("id", "user", "day", "v")
      val page1 = df.orderBy($"id").limit(3).collect().map(_.getLong(0)).toSeq
      val page2 = df.orderBy($"id").offset(3).limit(3).collect().map(_.getLong(0)).toSeq
      val all = df.orderBy($"id").limit(6).collect().map(_.getLong(0)).toSeq
      assert(page1 ++ page2 == all)
    }
  }

  // VERDICT r7 task 5 / r8 task 5: the prefix-filter candidate set must be
  // a SUPERSET of every pair the semantic gate (round(J,6) ≥ 0.8, i.e.
  // exact J ≥ 799999/10⁶) can accept — the last unproven dedup bound.
  // Corpora are built to stress the prefix BOUNDARY: a tiny code universe
  // (forced collisions), plus per-base variants that drop the SMALLEST
  // code (shifting the indexed prefix) and append a new largest code
  // (changing set size, hence prefix length ⌈t·n⌉ arithmetic), and exact
  // duplicates (J = 1 with identical prefixes).
  // Session-window merge is END-INCLUSIVE: an event at exactly
  // prev_session_end (= last event + gap) MERGES into the session
  // (Spark merges adjacent windows: sessionStart <= currentEnd). The
  // fixture's microsecond timestamps essentially never land exactly on
  // a gap boundary, so force it: integer-second events with gap 5 make
  // exact-boundary arrivals common, and Spark's session_window must
  // equal the brute-force island merge. This property CAUGHT the
  // stream_session_5m oracle's original `>=` new-session flag (an
  // end-EXCLUSIVE reading) as a latent hash divergence on boundary
  // data — the flag is now `>`.
  test("session_window equals brute-force end-inclusive island merge") {
    val evGen: Gen[List[(Long, Int)]] =
      Gen.nonEmptyListOf(for {
        u <- Gen.chooseNum(0L, 2L)
        t <- Gen.chooseNum(0, 30)
      } yield (u, t))
    forAll(evGen) { evs =>
      import spark.implicits._
      val got = evs.toDF("user_id", "tsec")
        .withColumn("ts", timestamp_seconds(col("tsec")))
        .groupBy(session_window(col("ts"), "5 seconds").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("w.start").cast("long").as("s"),
          col("w.end").cast("long").as("e"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val want = evs.groupBy(_._1).toList.flatMap { case (u, us) =>
        val ts = us.map(_._2.toLong).sorted
        val islands = ts.foldLeft(List.empty[(Long, Long, Long)]) {
          case ((s, e, n) :: rest, t) if t <= e => (s, math.max(e, t + 5), n + 1) :: rest
          case (acc, t) => (t, t + 5, 1L) :: acc
        }
        islands.map { case (s, e, n) => (u, s, e, n) }
      }.toSet
      assert(got == want,
        s"session islands mismatch: got ${got.diff(want).take(3)} " +
          s"want ${want.diff(got).take(3)} on evs=$evs")
    }
  }

  // The as-of join's inclusive bound rides on the (ts, tag) tiebreak: a
  // click at EXACTLY the purchase's ts must be visible (c.ts <= p.ts).
  // The fixture rarely collides timestamps, so force collisions here: a
  // tiny ts range makes same-user same-second click/purchase pairs (and
  // duplicate clicks on one ts) common, and the result must equal the
  // brute-force latest-prior-or-equal click per purchase, null when none.
  // Forces ts collisions AND null keys/timestamps: an as-of join has JOIN
  // semantics, so a NULL user_id or NULL ts on either side matches
  // NOTHING (the fixtures have zero NULL user_ids — the round-10
  // degenerate-events corpus caught the window form handing NULL-user
  // purchases the NULL-user clicks' timestamps via partitionBy's
  // NULLs-group-together rule).
  test("as-of join equals brute force under forced ts collisions and null keys") {
    val evGen: Gen[List[(Option[Long], Option[Int], Boolean)]] =
      Gen.nonEmptyListOf(for {
        u <- Gen.frequency(4 -> Gen.chooseNum(0L, 3L).map(Some(_)), 1 -> Gen.const(None))
        t <- Gen.frequency(6 -> Gen.chooseNum(0, 8).map(Some(_)), 1 -> Gen.const(None))
        p <- Gen.oneOf(true, false)
      } yield (u, t, p))
    forAll(evGen) { evs =>
      import spark.implicits._
      val rows = evs.zipWithIndex.map { case ((u, t, p), i) => (i.toLong, u, t, p) }
      val df = rows.toDF("event_id", "user_id", "tsec", "is_p")
        .withColumn("ts", timestamp_seconds(col("tsec")))
      val got = operators.Joins.asofLatest(
          df.filter(!col("is_p")).select(col("user_id"), col("ts")),
          df.filter(col("is_p")).select(col("event_id"), col("user_id"), col("ts")))
        .collect()
        .map(r => r.getLong(0) ->
          Option(r.getTimestamp(2)).map(_.toInstant.getEpochSecond)).toMap
      val want = rows.filter(_._4).map { case (id, u, t, _) =>
        // NULL never matches: both the key equality and the ts comparison
        // require defined values on BOTH sides.
        val prior = rows.collect {
          case (_, cu, Some(ct), false)
            if cu.isDefined && cu == u && t.exists(ct <= _) => ct
        }
        id -> (if (prior.isEmpty) None else Some(prior.max.toLong))
      }.toMap
      assert(got == want,
        s"as-of mismatch: ${got.toSet.diff(want.toSet).take(3)} vs " +
          s"want ${want.toSet.diff(got.toSet).take(3)} on rows=$rows")
    }
  }

  // The banded simhash join's recall guarantee is pigeonhole-deterministic:
  // 4 disjoint 16-bit bands can't all contain a differing bit when only
  // ≤ 3 bits differ, so every hamming ≤ 2 pair matches some band key and
  // the exact bit_count filter then makes the output EXACTLY the
  // hamming ≤ 2 pair set. Corpora plant near-dups by flipping 0–3 random
  // bits of shared base signatures (3-bit flips exercise the just-outside
  // boundary), plus independent random signatures for background mass.
  private val simhashCorpusGen: Gen[List[Long]] = for {
    nBase <- Gen.chooseNum(2, 5)
    bases <- Gen.listOfN(nBase, Gen.chooseNum(Long.MinValue, Long.MaxValue)
      .map(_ & ((1L << 62) - 1)))
    variants <- Gen.listOfN(nBase, for {
      nFlip <- Gen.chooseNum(0, 3)
      bits <- Gen.listOfN(nFlip, Gen.chooseNum(0, 61))
    } yield bits)
    extra <- Gen.listOfN(4, Gen.chooseNum(Long.MinValue, Long.MaxValue)
      .map(_ & ((1L << 62) - 1)))
  } yield bases ++ bases.zip(variants).map { case (b, bits) =>
    bits.foldLeft(b)((acc, i) => acc ^ (1L << i))
  } ++ extra

  test("banded simhash pairs = exactly the hamming ≤ 2 pairs") {
    forAll(simhashCorpusGen) { sigs =>
      import spark.implicits._
      val docs = sigs.zipWithIndex.map { case (sg, i) => (i.toLong, sg) }
      val want = (for {
        (a, sa) <- docs; (b, sb) <- docs if a < b
        h = java.lang.Long.bitCount(sa ^ sb)
        if h <= 2
      } yield (a, b) -> h.toLong).toMap
      // The pigeonhole argument is geometry-independent (any ≥ 3 disjoint
      // bands), and the r12 scale probe makes width the log₂(N) scale
      // lever — so the exact-pair-set contract must hold for every
      // admissible geometry, not just the shipped 4×16.
      for ((bands, width) <- Seq((4, 16), (3, 20), (5, 12))) {
        val got = operators.Dedup
          .simhashBandPairs(docs.toDF("doc_id", "simhash"), bands, width)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2).toLong).toMap
        assert(got == want,
          s"banded pairs ≠ brute force at $bands×$width: " +
            s"missing=${(want.keySet -- got.keySet).take(5)} " +
            s"extra=${(got.keySet -- want.keySet).take(5)}")
      }
    }
  }

  test("prefix-filtered Jaccard candidates ⊇ all pairs with J ≥ gate") {
    val num = 799999L
    val den = 1000000L
    val setGen: Gen[Set[Long]] = for {
      sz <- Gen.chooseNum(5, 15)
      s <- Gen.containerOfN[Set, Long](sz, Gen.chooseNum(0L, 19L))
    } yield s
    val corpusGen: Gen[List[Set[Long]]] =
      Gen.nonEmptyListOf(setGen).map(_.take(8).flatMap { b =>
        List(b, b, b - b.min, b + 20L, (b - b.min) + 21L)
      })
    forAll(corpusGen) { sets =>
      import spark.implicits._
      val docs = sets.zipWithIndex.map { case (cs, i) => (i.toLong, cs.toArray.sorted) }
      val got = operators.Dedup
        .prefixJaccardPairs(docs.toDF("doc_id", "codes"), num.toInt, den.toInt)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      for {
        (a, ca) <- docs; (b, cb) <- docs if a < b
        inter = ca.toSet.intersect(cb.toSet).size.toLong
        union = ca.length + cb.length - inter
        // exact rational gate test: J ≥ num/den ⟺ inter·den ≥ num·union
        if inter * den >= num * union
      } {
        assert(got.contains((a, b)),
          s"prefix filter dropped pair ($a,$b): J=$inter/$union, " +
            s"ca=${ca.mkString(",")} cb=${cb.mkString(",")}")
        val j = BigDecimal(inter.toDouble / union)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(got((a, b)) - j) < 1e-9,
          s"jaccard mismatch for ($a,$b): got ${got((a, b))}, want $j")
      }
    }
  }

  // join_theta_range's ±5 min band is bucketized (floor(us/band) ± 1
  // neighbor explode, exact |Δ| ≤ band filter after). Two semantics the
  // fixture's random microsecond timestamps essentially never probe:
  // (1) the band is CLOSED — a pair exactly 300 s apart must join, one
  // 300 s + 1 µs apart must not; (2) a pair straddling a bucket edge at
  // full band width is only caught via the neighbor explode — an
  // off-by-one there silently drops edge pairs. Force both, plus random
  // pairs, and require equality with the unbucketed brute-force join.
  test("theta-range bucket join equals brute force at exact band edges") {
    import spark.implicits._
    val bandUs = 300L * 1000000L
    val pairGen: Gen[List[(Long, Long)]] = Gen.nonEmptyListOf(for {
      pUs <- Gen.chooseNum(bandUs * 3, bandUs * 40)
      dUs <- Gen.chooseNum(-2 * bandUs, 2 * bandUs)
    } yield (pUs, dUs))
    forAll(pairGen) { rnd =>
      // Forced cases (user, purchase us, error us):
      val forced = List(
        (100L, bandUs * 10, bandUs * 10 - bandUs),       // exactly −band → IN
        (101L, bandUs * 10, bandUs * 10 - bandUs - 1),   // 1 µs beyond → OUT
        (102L, bandUs * 10, bandUs * 10 + bandUs),       // exactly +band → IN
        (103L, bandUs * 10, bandUs * 10 + bandUs + 1),   // 1 µs beyond → OUT
        // Straddle: error 1 µs before a bucket edge, purchase exactly
        // band later (lands 2 buckets… no: one bucket up) — the pair is
        // only reachable through the ±1 neighbor explode.
        (104L, bandUs * 11 - 1 + bandUs, bandUs * 11 - 1))
      val rows = forced.zipWithIndex.flatMap { case ((u, p, e), i) =>
        List((2000L + 2 * i, p, u, "purchase"), (2001L + 2 * i, e, u, "error"))
      } ++ rnd.zipWithIndex.flatMap { case ((p, d), i) =>
        val u = 200L + (i % 7)
        List((4000L + 2 * i, p, u, "purchase"), (4001L + 2 * i, p + d, u, "error"))
      }
      val dir = Staging.tempDirReapedAtExit("graft_theta_bnd")
      try {
        rows.toDF("event_id", "us", "user_id", "event_type")
          .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
            col("user_id"), col("event_type"), lit(1.0).as("value"),
            lit("{}").as("props"))
          .coalesce(1).write.parquet(s"$dir/events.parquet")
        val got = SparkEntry.queries("join_theta_range")(spark, dir)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // Brute force, no buckets: every (purchase, error) same-user pair
        // with |Δus| ≤ band.
        val ps = rows.filter(_._4 == "purchase").map(r => (r._3, r._2))
        val es = rows.filter(_._4 == "error").map(r => (r._3, r._2))
        val want = (for {
          (u, p) <- ps; (ue, e) <- es
          if u == ue && math.abs(p - e) <= bandUs
        } yield u).groupBy(identity).map { case (u, l) => u -> l.size.toLong }
        assert(got == want,
          s"bucketized theta join diverged from brute force: got=$got want=$want")
      } finally Staging.rmr(java.nio.file.Paths.get(dir))
    }
  }

  // win_trailing_30d's rangeBetween(−29 days, 0) frame edge has no
  // fixture coverage: microsecond event times virtually never put two
  // ACTIVE days exactly 29 or 30 days apart for one type, so an
  // off-by-one (−30, or an exclusive bound) would pass the hash gate.
  // Force the edge: a dedicated type with active days {0, 29, 30, 59}
  // pins day 29's trailing INCLUDING day 0, day 30 EXCLUDING it, and
  // day 59 including 30 while excluding 29; random (type, day, value)
  // mass around it keeps the check general. Brute force = per-(type,
  // day) sum over days in [d−29, d]. Values are whole numbers so the
  // r4 daily rounding is exact and the compare needs no tolerance.
  test("trailing-30d frame includes day -29 and excludes day -30 exactly") {
    import spark.implicits._
    val baseUs = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
    val dayUs = 86400L * 1000000L
    val evGen: Gen[List[(Int, Int, Int)]] = Gen.nonEmptyListOf(for {
      ty <- Gen.chooseNum(0, 1)
      d <- Gen.chooseNum(0, 40)
      v <- Gen.chooseNum(0, 50)
    } yield (ty, d, v))
    forAll(evGen) { rnd =>
      val forced = List((2, 0, 1), (2, 29, 2), (2, 30, 4), (2, 59, 8))
      val evs = rnd ++ forced
      val dir = Staging.tempDirReapedAtExit("graft_w30_bnd")
      try {
        val rows = evs.zipWithIndex.map { case ((ty, d, v), i) =>
          // Intra-day spread incl. exact midnight (i % 3 == 0) so the
          // daily() grain's day() cast sees boundary instants too.
          val us = baseUs + d * dayUs + (i % 3) * (dayUs / 3)
          (i.toLong, us, (i % 4).toLong, s"ty$ty", v.toDouble, "{}")
        }
        rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
          .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .coalesce(1).write.parquet(s"$dir/events.parquet")
        val got = SparkEntry.queries("win_trailing_30d")(spark, dir)
          .collect().map { r =>
            (r.getString(0), r.getDate(1).toLocalDate.toEpochDay) ->
              (r.getLong(2), r.getDouble(3))
          }.toMap
        val base = java.time.LocalDate.of(2024, 1, 1).toEpochDay
        val daily = evs.groupBy(e => (e._1, e._2)).map { case ((ty, d), xs) =>
          (s"ty$ty", base + d) -> (xs.size.toLong, xs.map(_._3.toDouble).sum)
        }
        val want = daily.map { case ((ty, ed), (n, _)) =>
          val trailing = daily.collect {
            case ((t2, e2), (_, s2)) if t2 == ty && e2 >= ed - 29 && e2 <= ed => s2
          }.sum
          (ty, ed) -> (n, trailing)
        }
        assert(got == want,
          s"trailing-30d mismatch: ${got.toSet.diff(want.toSet).take(3)} vs " +
            s"want ${want.toSet.diff(got.toSet).take(3)} on evs=$evs")
      } finally Staging.rmr(java.nio.file.Paths.get(dir))
    }
  }

  // Tumbling day windows must be START-INCLUSIVE and END-EXCLUSIVE: an
  // event at EXACTLY midnight belongs to the day it opens, one at
  // 23:59:59.999999 to the day it closes — the fixture's microsecond
  // times never land on either edge, so an inclusive-end window() (or a
  // truncation that rounds half-up) would be invisible to the hash gate
  // (the r9 session-window find was exactly this blind-spot class).
  // Every generated event sits AT a boundary; brute force is integer
  // floor-division of the µs offset.
  test("tumbling day windows are start-inclusive end-exclusive at midnight") {
    import spark.implicits._
    val baseUs = 1704067200L * 1000000L
    val dayUs = 86400L * 1000000L
    val evGen: Gen[List[(Int, Int, Int)]] = Gen.nonEmptyListOf(for {
      d <- Gen.chooseNum(0, 6)
      b <- Gen.chooseNum(0, 2) // 0: exact midnight, 1: +1µs, 2: last µs
      v <- Gen.chooseNum(0, 9)
    } yield (d, b, v))
    forAll(evGen) { evs =>
      val dir = Staging.tempDirReapedAtExit("graft_tum_bnd")
      try {
        val rows = evs.zipWithIndex.map { case ((d, b, v), i) =>
          val off = b match {
            case 0 => 0L
            case 1 => 1L
            case _ => dayUs - 1L
          }
          (i.toLong, baseUs + d * dayUs + off, (i % 3).toLong,
            if (i % 2 == 0) "view" else "click", v.toDouble, "{}")
        }
        rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
          .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .coalesce(1).write.parquet(s"$dir/events.parquet")
        val got = SparkEntry.queries("stream_tumbling_daily")(spark, dir)
          .collect().map { r =>
            (r.getTimestamp(0).getTime / 1000, r.getString(1)) ->
              (r.getLong(2), r.getDouble(3))
          }.toMap
        val want = rows.groupBy { case (_, us, _, ty, _, _) =>
          (((us / dayUs) * dayUs) / 1000000L, ty) // floor to the day that OPENS at the event's midnight
        }.map { case (k, xs) => k -> (xs.size.toLong, xs.map(_._5).sum) }
        assert(got == want,
          s"tumbling boundary mismatch: ${got.toSet.diff(want.toSet).take(3)} vs " +
            s"want ${want.toSet.diff(got.toSet).take(3)} on evs=$evs")
      } finally Staging.rmr(java.nio.file.Paths.get(dir))
    }
  }

  // win_range_numeric's ±10.0 band edge vs the bucket boundary (VERDICT
  // r11 task 4): the carry-in coverage argument is integer-proven, and
  // the pipeline property above exercises random values — but the three
  // boundary COINCIDENCES it relies on each occur with ~1% probability
  // per value, so a sample can pass without ever seeing one: the band
  // edge landing exactly ON a bucket start (anchor vc ≡ bandC mod W,
  // e.g. 30.00 with contributor 20.00), a contributor exactly AT the
  // carry filter's threshold (vc mod W = W−bandC, e.g. 10.00 carried
  // for anchor 20.00), and a contributor exactly band-width below the
  // anchor (closed-bound inclusion). Force all three — plus 0.01-beyond
  // exclusions and negative-value floor-division twins — through the
  // REAL key over a minted events dir, against an O(n²) brute force;
  // non-purchase rows with in-band values must stay invisible.
  test("win_range_numeric band edge on bucket boundary equals brute force") {
    import spark.implicits._
    val forced = List(9.99, 10.00, 19.99, 20.00, 29.99, 30.00, 30.01,
      40.00, 0.00, -0.01, -10.00, -20.00)
    val rndGen: Gen[List[Double]] =
      Gen.listOf(Gen.chooseNum(-4000, 4000).map(_ / 100.0))
    forAll(rndGen) { rnd =>
      val vals = forced ++ rnd
      val dir = Staging.tempDirReapedAtExit("graft_wrn_bnd")
      try {
        val baseUs = 1704067200L * 1000000L
        val rows = vals.zipWithIndex.map { case (v, i) =>
          (i.toLong, baseUs + i * 1000000L, (i % 5).toLong, "purchase", v, "{}")
        } ++ vals.take(6).zipWithIndex.map { case (v, i) =>
          (1000L + i, baseUs + i, 9L, "view", v, "{}")
        }
        rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
          .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .coalesce(1).write.parquet(s"$dir/events.parquet")
        val got = SparkEntry.queries("win_range_numeric")(spark, dir)
          .collect().map(r => r.getLong(0) ->
            (r.getLong(2), math.round(r.getDouble(3) * 100))).toMap
        val want = vals.zipWithIndex.map { case (v, i) =>
          val in = vals.filter(u => u >= v - 10.0 && u <= v)
          i.toLong -> (in.size.toLong, in.map(u => math.round(u * 100)).sum)
        }.toMap
        assert(got == want,
          s"band-edge mismatch: ${got.toSet.diff(want.toSet).take(3)} vs " +
            s"want ${want.toSet.diff(got.toSet).take(3)} on vals=$vals")
      } finally Staging.rmr(java.nio.file.Paths.get(dir))
    }
  }

  // stream_sliding_1h30m alignment offsets (VERDICT r11 task 4): the
  // 1 h / 30 min sliding window must put each event in EXACTLY the two
  // epoch-aligned windows [s, s+1h) with s ∈ {floor₃₀(t), floor₃₀(t)−30m}
  // — start-inclusive, end-exclusive. Fixture microsecond times never
  // land on a 30-minute edge, so an inclusive-end assignment (three
  // windows at the edge), a misaligned window origin, or a half-up slot
  // truncation would all pass the hash gate. Every generated event sits
  // AT an edge, 1 µs after one, or on the last µs of a slot; brute force
  // is integer floor division of the µs offset.
  test("sliding 1h/30m windows are epoch-aligned start-inclusive end-exclusive") {
    import spark.implicits._
    val baseUs = 1704067200L * 1000000L // 2024-01-01T00:00:00Z, epoch-aligned
    val halfUs = 1800L * 1000000L
    val evGen: Gen[List[(Int, Int, Int)]] = Gen.nonEmptyListOf(for {
      k <- Gen.chooseNum(0, 8)  // 30-minute slot
      b <- Gen.chooseNum(0, 2)  // 0: exact edge, 1: +1 µs, 2: last µs of slot
      u <- Gen.chooseNum(0, 3)
    } yield (k, b, u))
    forAll(evGen) { evs =>
      val dir = Staging.tempDirReapedAtExit("graft_sld_bnd")
      try {
        val rows = evs.zipWithIndex.map { case ((k, b, u), i) =>
          val off = b match {
            case 0 => 0L
            case 1 => 1L
            case _ => halfUs - 1L
          }
          (i.toLong, baseUs + k * halfUs + off, u.toLong, "view", 1.0, "{}")
        }
        rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
          .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .coalesce(1).write.parquet(s"$dir/events.parquet")
        val got = SparkEntry.queries("stream_sliding_1h30m")(spark, dir)
          .collect().map(r => r.getTimestamp(0).getTime ->
            (r.getLong(1), r.getLong(2))).toMap
        val contrib = rows.flatMap { case (_, us, u, _, _, _) =>
          val s1 = (us / halfUs) * halfUs
          List(s1, s1 - halfUs).map(s => s / 1000L -> u)
        }
        val want = contrib.groupBy(_._1).map { case (s, xs) =>
          s -> (xs.size.toLong, xs.map(_._2).distinct.size.toLong)
        }
        assert(got == want,
          s"sliding alignment mismatch: ${got.toSet.diff(want.toSet).take(3)} " +
            s"vs want ${want.toSet.diff(got.toSet).take(3)} on evs=$evs")
      } finally Staging.rmr(java.nio.file.Paths.get(dir))
    }
  }

  // The fn_string lev dialect guard NULLs non-ASCII args on BOTH
  // engines, so the cross-engine gate is deliberately vacuous exactly
  // where Spark and DuckDB diverge (DuckDB counts BYTES there) — the
  // claimed CODE-POINT semantics rested on one hardcoded pair
  // (Round3Spec). Property-pin it (r11 ADVICE): on generated pairs over
  // a mixed ASCII / BMP-accent / CJK / ASTRAL alphabet (astral chars
  // are TWO UTF-16 units and FOUR UTF-8 bytes but ONE code point — the
  // exact class char- or byte-based implementations get wrong), Spark's
  // levenshtein must equal a classic DP over code-point arrays.
  test("levenshtein equals code-point DP reference on generated non-ASCII pairs") {
    import spark.implicits._
    val alphabet = Vector("a", "b", "é", "ö", "ı", "中", "𝄞", "😀", " ")
    val strGen: Gen[String] = Gen.chooseNum(0, 8)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString))
    def ref(a: String, b: String): Int = {
      val x = a.codePoints().toArray
      val y = b.codePoints().toArray
      val dp = Array.tabulate(x.length + 1, y.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to x.length; j <- 1 to y.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      dp(x.length)(y.length)
    }
    forAll(Gen.listOfN(12, Gen.zip(strGen, strGen))) { pairs =>
      val got = pairs.toDF("a", "b")
        .select(levenshtein(col("a"), col("b"))).collect().map(_.getInt(0)).toSeq
      val want = pairs.map { case (a, b) => ref(a, b) }
      assert(got == want, s"pairs=$pairs got=$got want=$want")
    }
  }

  // sample_hash_bernoulli keeps bucket < rate (STRICT: exactly `rate` of
  // 100 buckets). The oracle runs the identical arithmetic, so an
  // off-by-one (<=) would be invisible to the hash gate — pin the
  // strictness against CPU-side reference arithmetic instead, over ids
  // dense enough that both boundary buckets (rate−1 kept, rate dropped)
  // occur for every language.
  test("bernoulli bucket gate is strict at the rate boundary") {
    import spark.implicits._
    val P = 2147483647L
    def bucket(id: Long): Long = (((id % P) * 1103515245L + 12345L) % P) % 100L
    val langs = Array("en", "de", "fr")
    def rate(l: String): Long = l match { case "en" => 10L; case "de" => 20L; case _ => 5L }
    val docs = (0L until 1000L).map(i => (i, s"t$i", langs((i % 3).toInt), "src", 2L))
    val dir = Staging.tempDirReapedAtExit("graft_bern_bnd")
    try {
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("sample_hash_bernoulli")(spark, dir)
        .collect().map(_.getLong(0)).toSet
      val want = docs.filter { case (id, _, l, _, _) => bucket(id) < rate(l) }
        .map(_._1).toSet
      assert(got == want, s"sample diverged from reference arithmetic: " +
        s"extra=${got -- want} missing=${want -- got}")
      // The assertion above only bites at the boundary if boundary buckets
      // actually occur: require a doc AT the rate bucket (excluded) and at
      // rate−1 (included) for each lang.
      langs.foreach { l =>
        val ids = docs.filter(_._3 == l).map(_._1)
        assert(ids.exists(id => bucket(id) == rate(l)) &&
          ids.exists(id => bucket(id) == rate(l) - 1),
          s"boundary buckets unexercised for $l — enlarge the id range")
      }
    } finally Staging.rmr(java.nio.file.Paths.get(dir))
  }

  /** Runs `body` with whole-stage codegen and the codegen expression
    * factory both on (`interpreted = false`) or both off.
    */
  private def underMode[A](interpreted: Boolean)(body: => A): A = {
    val ws = spark.conf.get("spark.sql.codegen.wholeStage")
    val fm = spark.conf.get("spark.sql.codegen.factoryMode")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", (!interpreted).toString)
      spark.conf.set("spark.sql.codegen.factoryMode",
        if (interpreted) "NO_CODEGEN" else "CODEGEN_ONLY")
      body
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", ws)
      spark.conf.set("spark.sql.codegen.factoryMode", fm)
    }
  }

  /** `rows` as a DataFrame over an RDD, not a local Seq: the optimizer
    * evaluates projections over a LocalRelation with interpreted code,
    * whatever the mode, so only an RDD source reaches `doGenCode`.
    */
  private def rddDF[A : scala.reflect.ClassTag : Encoder](rows: Seq[A], cols: String*): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(rows, 2)).toDF(cols: _*)

  /** `kernel` over `df` under both expression paths, each leg's rows
    * passed to `check` with the leg's name. A custom expression carries
    * two implementations (`nullSafeEval` and `doGenCode`), so a
    * divergence between them would hide until a codegen-fallback
    * production run hit it. The codegen leg must hold `inCode` in its
    * generated code, or it never ran `doGenCode`.
    */
  private def bothPaths(df: DataFrame, kernel: DataFrame => DataFrame,
                        inCode: scala.util.matching.Regex)(
      check: (Array[Row], String) => Unit): Unit =
    for (interpreted <- Seq(false, true)) underMode(interpreted) {
      val q = kernel(df)
      if (!interpreted) {
        val code =
          org.apache.spark.sql.execution.debug.codegenString(q.queryExecution.executedPlan)
        assert(inCode.findFirstIn(code).isDefined, s"/$inCode/ is not in the generated code")
      }
      check(q.collect(), if (interpreted) "interpreted" else "codegen")
    }

  /** A dot-product property: `native` against the HOF fold `hof` over
    * columns `a` and `b` of each pair, bit-exact and NULL-exact on both
    * expression paths.
    */
  private def dotMatchesHof(pairs: Seq[(Seq[_], Seq[_])], df: DataFrame,
                           native: String, hof: String,
                           loop: scala.util.matching.Regex): Unit = {
    def value(r: Row) = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
    val want = df.select(col("id"), expr(hof)).collect().map(r => r.getLong(0) -> value(r)).toMap
    bothPaths(df, _.select(col("id"), expr(native)), loop) { (got, path) =>
      got.foreach { r =>
        val n = value(r)
        val h = want(r.getLong(0))
        // java.lang.Double.equals is NaN-reflexive and bit-exact.
        assert((n == null && h == null) || (n != null && n.equals(h)),
          s"[$path] id=${r.getLong(0)}: $native=$n hof=$h " +
            s"for a=${pairs(r.getLong(0).toInt)._1} b=${pairs(r.getLong(0).toInt)._2}")
      }
    }
  }

  private def vecGen[T](g: Gen[Option[T]]): Gen[Seq[Option[T]]] = for {
    n <- Gen.frequency(5 -> Gen.const(8), 2 -> Gen.chooseNum(0, 12))
    xs <- Gen.listOfN(n, g)
  } yield xs

  private val f32Gen: Gen[Option[Float]] = Gen.frequency(
    12 -> Gen.chooseNum(-100, 100).map(n => Some(n / 8.0f)),
    1 -> Gen.const(Option.empty[Float]),
    1 -> Gen.oneOf(Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity).map(Some(_)))

  // dot_f32's r12 contract: EXACT equivalence with the HOF
  // zip_with/aggregate fold on every input class — mismatched lengths
  // (zip_with NULL-pads → NULL), NULL elements (→ NULL), empty arrays
  // (→ 0.0), non-finite components (NaN/Inf propagate bit-identically).
  // The pre-r12 min-length loop silently computed PARTIAL dots for
  // truncated vectors and read NULL slots as 0.0f — this property is
  // the regression pin for that malformed-vector class (emb_dirty).
  test("dot_f32 equals the HOF zip_with fold on malformed and clean vectors") {
    graft.functions.SqlFunctions.register(spark)
    import spark.implicits._
    forAll(Gen.listOfN(16, Gen.zip(vecGen(f32Gen), vecGen(f32Gen)))) { pairs =>
      val df = rddDF(pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) },
        "id", "a", "b")
      dotMatchesHof(pairs, df, "dot_f32(a, b)",
        "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)",
        """\+= \(\(double\) \w+\.getFloat\(\w+\)\) \* \(\(double\) \w+\.getFloat\(""".r)
    }
  }

  // Same contract for the mixed-precision sibling (r12 session 5): the
  // IVF assignment hot path computes vector(f32)×centroid(f64) cosines
  // N×cells times, so the fold moved from interpreted HOF to the
  // codegen'd dot_f32f64 — this property is what licenses that move
  // (bit-identical on every input class, both expression paths).
  test("dot_f32f64 equals the HOF zip_with fold on malformed and clean vectors") {
    graft.functions.SqlFunctions.register(spark)
    import spark.implicits._
    val f64Gen: Gen[Option[Double]] = Gen.frequency(
      12 -> Gen.chooseNum(-100, 100).map(n => Some(n / 8.0)),
      1 -> Gen.const(Option.empty[Double]),
      1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity).map(Some(_)))
    forAll(Gen.listOfN(16, Gen.zip(vecGen(f32Gen), vecGen(f64Gen)))) { pairs =>
      val df = rddDF(pairs.zipWithIndex.map { case ((a, c), i) => (i.toLong, a, c) },
        "id", "a", "c")
      dotMatchesHof(pairs, df, "dot_f32f64(a, c)",
        "aggregate(zip_with(a, c, (x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)",
        """\+= \(\(double\) \w+\.getFloat\(\w+\)\) \* \w+\.getDouble\(""".r)
    }
  }

  // sorted_intersect_size replaces size(array_intersect(...)) at Dedup's
  // confirm sites, so it must equal it on every strictly ascending pair
  // (empty, identical, disjoint, negative, the Long extremes) under both
  // expression paths, and fail loudly on any input outside that contract.
  test("sorted_intersect_size equals size(array_intersect) on strictly ascending arrays") {
    import spark.implicits._
    val elemGen: Gen[Long] = Gen.frequency(
      8 -> Gen.chooseNum(-12L, 12L),
      1 -> Gen.oneOf(Long.MinValue, Long.MinValue + 1, Long.MaxValue - 1, Long.MaxValue),
      1 -> Gen.chooseNum(Long.MinValue, Long.MaxValue))
    val setGen: Gen[Seq[Long]] =
      Gen.chooseNum(0, 14).flatMap(Gen.listOfN(_, elemGen)).map(_.distinct.sorted)
    val pairGen: Gen[(Seq[Long], Seq[Long])] = Gen.oneOf(
      Gen.zip(setGen, setGen),
      setGen.map(a => (a, a)),
      Gen.zip(setGen, setGen).map { case (a, b) => (a, b.filterNot(a.contains)) },
      setGen.map(a => (a, Seq.empty[Long])),
      setGen.map(a => (Seq.empty[Long], a)))
    def kernel(df: DataFrame) =
      df.select(col("id"), operators.Dedup.sortedIntersectSize(col("a"), col("b")))
    forAll(Gen.listOfN(24, pairGen)) { pairs =>
      val df = rddDF(pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) },
        "id", "a", "b")
      val want = df.select(col("id"), size(array_intersect(col("a"), col("b"))))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      bothPaths(df, kernel,
        java.util.regex.Pattern.quote("graft.functions.SortedIntersect.size").r) { (got, path) =>
        got.foreach { r =>
          val (a, b) = pairs(r.getLong(0).toInt)
          assert(r.getInt(1) == want(r.getLong(0)),
            s"[$path] a=$a b=$b: ${r.getInt(1)} != ${want(r.getLong(0))}")
        }
      }
    }
    val bad = Seq[Seq[Option[Long]]](
      Seq(Some(1L), Some(5L), Some(3L)),
      Seq(Some(Long.MinValue), Some(2L), Some(2L)),
      Seq(Some(1L), None, Some(3L)))
    val ok = Seq[Option[Long]](Some(2L), Some(4L))
    for (interpreted <- Seq(false, true); x <- bad; (a, b) <- Seq((x, ok), (ok, x))) {
      val df = rddDF(Seq((0L, a, b)), "id", "a", "b")
      val e = intercept[Exception](underMode(interpreted)(kernel(df).collect()))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("sorted_intersect_size")),
        s"[interpreted=$interpreted] a=$a b=$b failed without naming the function: $e")
    }
  }

  test("property: minLabelComponents equals union-find on random graphs") {
    // The pointer-jumping label loop (r12) against a classic union-find
    // reference, over random edge sets — paths, cliques, stars, and
    // disconnected fragments all arise from uniform edges at these
    // sizes. Pins BOTH the partition (same components) and the label
    // convention (comp = min member id), independent of the shingling
    // front-end the docs families exercise.
    import spark.implicits._
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // vertices only (isolated ids are absent from the edge-derived
      // Spark result, so restrict to edge endpoints)
      edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v.toInt).toLong).toMap
    }
    val edgeGen = for {
      n <- Gen.choose(2, 22)
      m <- Gen.choose(1, 30)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(1L, n.toLong), Gen.choose(1L, n.toLong)))
    } yield (n, es.filter(e => e._1 != e._2))
    forAll(Gen.listOfN(6, edgeGen)) { cases =>
      cases.filter(_._2.nonEmpty).foreach { case (n, es) =>
        val und = es.flatMap(e => Seq(e, e.swap)).distinct.toDF("src", "dst")
        val got = operators.Dedup.minLabelComponents(und).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = unionFind(n, es)
        assert(got == want,
          s"n=$n edges=$es\n got=${got.toSeq.sorted}\n want=${want.toSeq.sorted}")
      }
    }
  }

  // The multiprobe recall contract (r12 verdict task 4): radius-1
  // multiprobe DETERMINISTICALLY retrieves every vector whose sign-LSH
  // bucket differs from the probe's in at most one plane — i.e. every
  // vector that agrees with the probe on all but ≤ 1 hyperplane side.
  // LshPlanes is the plane count a deployment sizes to its corpus, so
  // the contract (and the bucketing arithmetic it rests on) must hold at
  // EVERY admissible plane count, not just the shipped 8 — same
  // treatment the r12 simhash-geometry property gave the band width.
  test("multiprobe radius-1 recall holds at every LSH plane count") {
    graft.functions.SqlFunctions.register(spark)
    val vecGen: Gen[List[Array[Float]]] = for {
      n <- Gen.chooseNum(4, 12)
      vs <- Gen.listOfN(n, Gen.listOfN(64,
        Gen.chooseNum(-1000, 1000).map(_ / 97.0f)))
    } yield vs.map(_.toArray)
    forAll(vecGen) { vecs =>
      import spark.implicits._
      val docs = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = docs.toDF("vec_id", "embedding")
      for (planes <- Seq(1, 2, 5, 8, 13, 30)) {
        // Scala twin of the engine's bucketing: the SAME ascending-i
        // (double)f32 × f64 fold dot_f32f64 codegens, sign per plane.
        def refBucket(v: Array[Float]): Long =
          (0 until planes).map { p =>
            var acc = 0.0
            var i = 0
            while (i < 64) {
              acc += v(i).toDouble * operators.Similarity.planeWeight(p, i + 1)
              i += 1
            }
            if (acc > 0) 1L << p else 0L
          }.sum
        val got = df.withColumn("bucket",
            expr(operators.Similarity.sparkBucket("embedding", planes)))
          .select(col("vec_id"), col("bucket").cast("long")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = docs.map { case (id, v) => id -> refBucket(v) }.toMap
        // 1. bucketing arithmetic parity — what keeps the oracle's HOF
        //    spelling equal to the codegen'd literal-array dots at any
        //    plane count (bucket id is an output column of the ANN keys).
        assert(got == want, s"bucket mismatch at planes=$planes: " +
          s"${got.toSeq.diff(want.toSeq).take(3)}")
        // 2. the recall bound: engine-filtered radius-1 retrieval ==
        //    {≤ 1 divergent plane} reference set, and ⊇ exact-bucket set.
        val probeBucket = want(0L)
        val retrieved = df.withColumn("bucket",
            expr(operators.Similarity.sparkBucket("embedding", planes)))
          .filter(expr(s"bit_count(bucket ^ ${probeBucket}L) <= 1") &&
            col("vec_id") =!= 0)
          .select(col("vec_id")).collect().map(_.getLong(0)).toSet
        val wantSet = docs.collect {
          case (id, _) if id != 0L &&
            java.lang.Long.bitCount(want(id) ^ probeBucket) <= 1 => id
        }.toSet
        val exactSet = docs.collect {
          case (id, _) if id != 0L && want(id) == probeBucket => id
        }.toSet
        assert(retrieved == wantSet,
          s"radius-1 recall broken at planes=$planes: got $retrieved want $wantSet")
        assert(exactSet.subsetOf(retrieved),
          s"multiprobe lost a same-bucket vector at planes=$planes")
      }
    }
  }

  // The packed-long argmax (Similarity.argmaxCell) is the scale-correct
  // "best cell" of the whole IVF family — one HashAggregate instead of a
  // window — and its correctness rests on packing arithmetic (floor(x·1e6
  // + 0.5) << 21, mask − cell, NULL-skipping max with a min(cell)
  // fallback). Pin it against a plain reference argmax on GENERATED
  // scores: r6-grid values in [-1, 1] (negatives exercise the arithmetic
  // right-shift), NULLs (zero-vector cosines), duplicate scores (ties
  // must break to the LOWEST cell), and all-NULL groups (fallback path).
  test("packed-long argmax equals the (ccos desc, cell asc) reference on generated scores") {
    val rowsGen: Gen[List[(Long, Long, Option[Double])]] =
      Gen.nonEmptyListOf(for {
        vid <- Gen.chooseNum(0L, 6L)
        cell <- Gen.chooseNum(0L, 9L)
        cc <- Gen.option(Gen.chooseNum(-1000000, 1000000).map(_ / 1000000.0))
      } yield (vid, cell, cc))
    forAll(rowsGen) { rows0 =>
      import spark.implicits._
      // one row per (vid, cell): the real assignment never scores the
      // same (vector, cell) twice
      val rows = rows0.groupBy(r => (r._1, r._2)).map(_._2.head).toList
      val df = rows.toDF("vec_id", "cell", "ccos")
      val got = operators.Similarity.argmaxCell(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = rows.groupBy(_._1).map { case (vid, rs) =>
        val scored = rs.collect { case (_, c, Some(x)) => (c, x) }
        vid -> (if (scored.isEmpty) rs.map(_._2).min
                else scored.minBy { case (c, x) => (-x, c) }._1)
      }
      assert(got == want,
        s"argmax mismatch: ${got.toSeq.sorted.diff(want.toSeq.sorted).take(5)} on $rows")
    }
  }

  // The trained quantizer end-to-end on ARBITRARY corpora (the oracle
  // gate only sees fixtures): write a generated embeddings table —
  // duplicate vectors, a zero vector, clustered + independent rows — and
  // assert the assignment is TOTAL (every usable vector exactly one
  // cell), RANGE-VALID, and DETERMINISTIC across invocations.
  test("trained quantizer is total, valid, and deterministic on generated corpora") {
    graft.functions.SqlFunctions.register(spark)
    val corpusGen: Gen[List[Array[Float]]] = for {
      n <- Gen.chooseNum(3, 16)
      vs <- Gen.listOfN(n, Gen.listOfN(64,
        Gen.chooseNum(-800, 800).map(_ / 64.0f)))
      withZero <- Gen.oneOf(true, false)
    } yield {
      val base = vs.map(_.toArray)
      val dups = base.take(2) // planted duplicates
      (if (withZero) List(Array.fill(64)(0.0f)) else Nil) ++ base ++ dups
    }
    forAll(corpusGen) { vecs =>
      import spark.implicits._
      val dir = Staging.tempDirReapedAtExit("graft_quant_prop")
      vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, i % 3) }
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val a1 = operators.Similarity.cellAssignment(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val a2 = operators.Similarity.cellAssignment(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a1 == a2, "quantizer not deterministic across invocations")
      assert(a1.keySet == vecs.indices.map(_.toLong).toSet,
        s"assignment not total: ${a1.keySet} vs ${vecs.indices}")
      assert(a1.values.forall(c => c >= 0 && c < operators.Similarity.IvfCells))
      // planted exact duplicates land in the same cell (identical
      // cosine row against every centroid ⇒ identical argmax)
      val base0 = a1(if (vecs.head.forall(_ == 0.0f)) 1L else 0L)
      val dupOfBase0 = a1(vecs.length.toLong - 2)
      assert(base0 == dupOfBase0, "exact duplicate vectors split across cells")
    }
  }
}
