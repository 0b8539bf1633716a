package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the round-2 pipeline operators: duplicate-cluster
  * connected components, deterministic sampling, PII scrubbing, exact
  * percentiles, IVF cell-consistency.
  */
class PipelineOpsSpec extends AnyFunSuite {
  import SparkFixture._
  import T._

  test("training-data pipeline composes end-to-end: filter → dedup → quality → sample") {
    // The point of the operator inventory is that these stages CHAIN —
    // one lazy plan from raw docs to a training shard, no materialization
    // between stages, every stage an already-oracle-checked operator.
    val sf01 = "/root/testdata/sf0.1" // dups exist at sf0.1
    val docs = documents(spark, sf01)
    // 1. language/quality whitelist (filter_media_whitelist shape)
    val filtered = docs.filter(col("lang").isin("en", "de", "fr") && col("n_chars") >= 40)
    // 2. exact dedup, keep-best survivor (dedup_keep_best shape)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sha2(col("text"), 256))
      .orderBy(desc("n_chars"), col("doc_id"))
    val deduped = filtered
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    // 3. quality floor (text_quality_score shape: stopword-free docs out)
    val toks = split(col("text"), " ")
    val scored = deduped.withColumn("ttr",
      size(array_distinct(toks)) / size(toks).cast("double"))
    val quality = scored.filter(col("ttr") > 0.3)
    // 4. deterministic stratified sample (sample_stratified shape)
    val P = 2147483647L
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(expr(s"((doc_id % $P) * 1103515245 + 12345) % $P"), col("doc_id"))
    val shard = quality.withColumn("rk", row_number().over(ws))
      .filter(col("rk") <= 100).drop("rk")
    val out = shard.select(col("doc_id"), col("lang"), col("text")).collect()
    assert(out.nonEmpty && out.length <= 300, s"got ${out.length}")
    // survivors are unique by text, and each stratum is capped
    assert(out.map(_.getString(2)).distinct.length == out.length, "dup text survived")
    val perLang = out.groupBy(_.getString(1)).view.mapValues(_.length)
    assert(perLang.values.forall(_ <= 100), s"stratum overflow: ${perLang.toMap}")
    // and the whole thing re-runs to the identical shard (determinism)
    val rerun = shard.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(rerun.toSeq == out.map(_.getLong(0)).sorted.toSeq)
  }

  test("cc: every near-dup edge's endpoints land in the same component") {
    val comp = SparkEntry.queries("dedup_cluster_cc")(spark, sf)
      .select(col("doc_id"), col("component"))
    val edges = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .select(col("a_id"), col("b_id"))
    val broken = edges
      .join(comp.withColumnRenamed("doc_id", "a_id").withColumnRenamed("component", "ca"), "a_id")
      .join(comp.withColumnRenamed("doc_id", "b_id").withColumnRenamed("component", "cb"), "b_id")
      .filter(col("ca") =!= col("cb"))
    assert(broken.count() == 0)
  }

  test("cc: component id is the minimum member id; sizes are consistent") {
    val comp = SparkEntry.queries("dedup_cluster_cc")(spark, sf)
    val badMin = comp.groupBy(col("component"))
      .agg(min(col("doc_id")).as("m"), count(lit(1)).as("n"))
      .filter(col("component") =!= col("m"))
    assert(badMin.count() == 0)
    val badSize = comp.groupBy(col("component"), col("cluster_size"))
      .agg(count(lit(1)).as("n"))
      .filter(col("cluster_size") =!= col("n"))
    assert(badSize.count() == 0)
  }

  test("cc: an already-clean corpus (no near-dup edges) yields an empty result, not a crash") {
    import spark.implicits._
    val dir = Staging.tempDirReapedAtExit("graft_cc_clean")
    (0L until 20L).map(i => (i, s"unique document number $i with its own words w$i x$i y$i z$i q$i",
        "en", "src0", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    assert(SparkEntry.queries("dedup_cluster_cc")(spark, dir).count() == 0)
  }

  test("cc: a chain-shaped near-dup cluster collapses to ONE component (multi-hop propagation)") {
    // Drifting-template chain: doc i holds tokens [3i, 3i+40) of a shared
    // stream, so ADJACENT docs overlap heavily (Jaccard ≥ 0.8) while the
    // chain's ends share almost nothing — only transitive propagation can
    // unify them. Fixture clusters are shallow; this exercises depth.
    import spark.implicits._
    val dir = Staging.tempDirReapedAtExit("graft_cc_chain")
    val base = (0 until 80).map(i => s"tok$i")
    (0L until 8L).map { i =>
      val text = base.slice(3 * i.toInt, 3 * i.toInt + 40).mkString(" ")
      (i, text, "en", "src0", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val comp = SparkEntry.queries("dedup_cluster_cc")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(comp.length == 8, s"all 8 chain docs must appear: ${comp.toSeq}")
    assert(comp.forall(_._2 == 0L), s"single component rooted at doc 0: ${comp.toSeq}")
    assert(comp.forall(_._3 == 8L), s"cluster_size 8 everywhere: ${comp.toSeq}")
  }

  test("cc: a DIAMETER-29 chain converges inside the round bound (pointer jumping)") {
    // 30 sliding 16-token windows over 45 distinct tokens: adjacent docs
    // share 13/15 shingles (Jaccard 0.867 ≥ 0.8), docs two apart only
    // 12/16 = 0.75 — a pure path graph of diameter 29. Plain
    // neighbor-min propagation needs 29 rounds (the loud 15-round bound
    // fired here before the r12 pointer-jump fix); with comp :=
    // min(comp, comp[comp]) each round doubles the min label's reach,
    // so this must converge in ~⌈log₂ 29⌉ + slack rounds.
    import spark.implicits._
    val dir = Staging.tempDirReapedAtExit("graft_cc_deep")
    val words = (0 until 45).map(i => f"tok$i%02d")
    (0L until 30L).map { i =>
      val text = words.slice(i.toInt, i.toInt + 16).mkString(" ")
      (i + 1, text, "en", "src0", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val comp = SparkEntry.queries("dedup_cluster_cc")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(comp.length == 30, s"all 30 chain docs must appear, got ${comp.length}")
    assert(comp.forall(_._2 == 1L), s"single component rooted at doc 1: ${comp.toSeq}")
    assert(comp.forall(_._3 == 30L), s"cluster_size 30 everywhere: ${comp.toSeq}")
  }

  // VERDICT r9 task 6: the decontamination oracle's `n_shared >= 10`
  // threshold has never been exercised AT the boundary — fixture word
  // soup either overlaps heavily or not at all. Craft one train doc
  // sharing EXACTLY 10 distinct shingles with the eval set (kept, frac
  // 1.0) and one sharing exactly 9 (dropped): k tokens ⇒ k−2 distinct
  // 3-gram shingles, and the eval doc embeds both texts verbatim.
  test("decontaminate threshold boundary: exactly 10 shared shingles kept, 9 dropped") {
    import spark.implicits._
    val dir = Staging.tempDirReapedAtExit("graft_decon_bnd")
    def text(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val a = text("alpha", 12) // 10 distinct shingles
    val b = text("beta", 11)  // 9 distinct shingles
    Seq(
      (1L, a, "en", "src0", a.length.toLong),
      (2L, b, "en", "src1", b.length.toLong),
      // Eval doc contains both train texts contiguously, so every train
      // shingle appears in the eval distinct-shingle set (the splice
      // point only ADDS cross-boundary shingles, which match nothing).
      (3L, s"$a splice $b", "en", "evalhold", (a.length + b.length + 8).toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dedup_decontaminate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 10L, 1.0)),
      s"threshold boundary diverged (expect doc 1 at n_shared=10 only): $got")
  }

  test("stratified sample: exactly min(20, |stratum|) per lang, stable across runs") {
    val s1 = SparkEntry.queries("sample_stratified")(spark, sf)
    val perLang = s1.groupBy(col("lang")).agg(count(lit(1)).as("k"))
      .join(documents(spark, sf).groupBy(col("lang")).agg(count(lit(1)).as("n")), "lang")
      .filter(col("k") =!= least(lit(20), col("n")))
    assert(perLang.count() == 0)
    // determinism: a repartitioned re-run picks the identical rows
    val s2 = SparkEntry.queries("sample_stratified")(spark, sf).repartition(7)
    assert(s1.exceptAll(s2).count() == 0 && s2.exceptAll(s1).count() == 0)
  }

  test("bernoulli sample: bucket honors the per-stratum rate, rerun-stable") {
    val s1 = SparkEntry.queries("sample_hash_bernoulli")(spark, sf)
    val viol = s1.filter(
      (col("lang") === "en" && col("bucket") >= 10) ||
        (col("lang") === "de" && col("bucket") >= 20) ||
        (col("lang") =!= "en" && col("lang") =!= "de" && col("bucket") >= 5))
    assert(viol.count() == 0)
    val s2 = SparkEntry.queries("sample_hash_bernoulli")(spark, sf)
    assert(s1.exceptAll(s2).count() == 0)
  }

  test("pii scrub: no email/phone pattern survives; counts match injections") {
    val out = SparkEntry.queries("text_pii_scrub")(spark, sf)
    assert(out.filter(col("scrubbed").rlike("[a-z0-9._]+@[a-z0-9.]+")).count() == 0)
    assert(out.filter(col("scrubbed").rlike("555-[0-9]{4}")).count() == 0)
    val wrong = out.filter(
      col("n_emails") =!= when(pmod(col("doc_id"), lit(3)) =!= 0, 1).otherwise(0) ||
        col("n_phones") =!= when(pmod(col("doc_id"), lit(2)) === 0, 1).otherwise(0))
    assert(wrong.count() == 0)
  }

  test("percentiles: ordered within group and bounded by min/max") {
    val q = SparkEntry.queries("agg_percentiles")(spark, sf)
    val bounds = lineitem(spark, sf).groupBy(col("l_returnflag"))
      .agg(min(col("l_quantity")).as("lo"), max(col("l_quantity")).as("hi"))
    val bad = q.join(bounds, "l_returnflag")
      .filter(col("q50_qty") > col("q90_qty")
        || col("q50_qty") < col("lo") || col("q90_qty") > col("hi")
        || col("q25_price") > col("q99_price"))
    assert(bad.count() == 0)
  }

  test("keep-best survivor holds the group's max n_chars (sf0.1: dups exist there)") {
    val sf01 = "/root/testdata/sf0.1"
    val out = SparkEntry.queries("dedup_keep_best")(spark, sf01)
    assert(out.count() == 8, "fixtures plant 8 exact-dup groups at sf0.1")
    val docs = documents(spark, sf01).select(col("doc_id").as("keep_id"), col("n_chars"))
    val bad = out.join(docs, "keep_id").filter(col("n_chars") =!= col("max_chars"))
    assert(bad.count() == 0, "survivor is not the longest copy")
  }

  test("capped jaccard equals plain jaccard when no shingle exceeds the cap") {
    // Fixture shingles are near-unique, so the 5% DF cap drops nothing —
    // the capped variant must then be IDENTICAL to the uncapped one (the
    // cap is a pure pruning guard, not an approximation, until it fires).
    val plain = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
    val capped = SparkEntry.queries("dedup_ngram_capped")(spark, sf)
    assert(plain.exceptAll(capped).count() == 0 && capped.exceptAll(plain).count() == 0)
  }

  test("approx quantiles land within tolerance of exact percentiles") {
    // The query key emits tolerance VERDICTS since r6 (driver-checkable
    // booleans); this spec keeps bounding the RAW sketch values against
    // the exact percentiles, independent of the verdict plumbing.
    def d(v: Any): Double = v.asInstanceOf[Number].doubleValue
    lineitem(spark, sf).groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_quantity, 0.5, 10000)").as("a50"),
        expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("a99"),
        expr("percentile(l_quantity, 0.5D)").as("e50"),
        expr("percentile(l_extendedprice, 0.99D)").as("e99"))
      .collect().foreach { r =>
        val k = r.getString(0)
        // accuracy=10000 ⇒ rank error ≤ n/10000; values here are smooth, so
        // a loose 5% value tolerance is far outside the expected error.
        assert(math.abs(d(r.get(1)) - d(r.get(3))) <= math.max(1.0, d(r.get(3)) * 0.05),
          s"$k q50: ${r.get(1)} vs ${r.get(3)}")
        assert(math.abs(d(r.get(2)) - d(r.get(4))) <= math.max(1.0, d(r.get(4)) * 0.05),
          s"$k q99: ${r.get(2)} vs ${r.get(4)}")
      }
    // And the shipped verdicts must hold everywhere (what the oracle
    // asserts TRUE).
    val verdicts = SparkEntry.queries("agg_approx_quantiles")(spark, sf)
      .select(col("q50_in_rank_tol"), col("q99_in_rank_tol")).collect()
    assert(verdicts.nonEmpty
      && verdicts.forall(r => r.getBoolean(0) && r.getBoolean(1)))
  }

  test("ivf recall is monotone in nprobe: 2-cell scores dominate 1-cell scores") {
    def scores(key: String) = SparkEntry.queries(key)(spark, sf)
      .select(col("cos")).collect().map(_.getDouble(0)).sorted(Ordering[Double].reverse)
    val p1 = scores("sim_ivf_topk")
    val p2 = scores("sim_ivf_nprobe2")
    // nprobe=2 searches a superset, so it returns at least as many rows
    // and per-rank scores dominate (a bare length-equality would break on
    // a fixture where the best cell holds < 5 vectors).
    assert(p2.length >= p1.length,
      s"nprobe=2 returned fewer rows (${p2.length}) than nprobe=1 (${p1.length})")
    p1.zip(p2).foreach { case (s1, s2) =>
      assert(s2 >= s1 - 1e-9, s"nprobe=2 rank score $s2 below nprobe=1 score $s1")
    }
    // and both are bounded by the global brute-force top-5
    val brute = SparkEntry.queries("sim_topk_neighbors")(spark, sf)
      .select(col("cos")).collect().map(_.getDouble(0)).sorted(Ordering[Double].reverse).take(5)
    brute.zip(p2).foreach { case (b, s2) => assert(b >= s2 - 1e-9) }
  }

  test("range search contains every brute-force top-k hit above its threshold") {
    val range = SparkEntry.queries("sim_range_search")(spark, sf)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val topk = SparkEntry.queries("sim_topk_neighbors")(spark, sf)
      .filter(col("cos") >= 0.2)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(topk.subsetOf(range), s"missing: ${topk -- range}")
  }

  test("ivf: result is the exact top-5 of the chosen cell") {
    graft.functions.SqlFunctions.register(spark)
    val ivf = SparkEntry.queries("sim_ivf_topk")(spark, sf)
      .select(col("vec_id"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val hits = ivf.map(_._1).toSet
    // Recompute membership independently via the trained-quantizer
    // assignment (the label-based recompute died with the r12 label-fold
    // trainer: cells are now label-free).
    val cellOf = graft.operators.Similarity.cellAssignment(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hitCells = hits.map(cellOf)
    assert(hitCells.size == 1, s"all IVF hits come from one cell: $hitCells")
    val members = cellOf.collect {
      case (id, c) if c == hitCells.head && id != 0 => Long.box(id)
    }.toSeq
    val probe = embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb"))
    val exact = embeddings(spark, sf)
      .filter(col("vec_id").isin(members: _*))
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        r6(expr("dot_f32(embedding, probe_emb) / (sqrt(dot_f32(embedding, embedding)) * sqrt(dot_f32(probe_emb, probe_emb)))")).as("cos"))
      .orderBy(desc("cos"), col("vec_id")).limit(5).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.toSeq == exact.toSeq)
  }

  test("ivf: trained quantizer is label-independent and covers the usable corpus") {
    graft.functions.SqlFunctions.register(spark)
    val assign = graft.operators.Similarity.cellAssignment(spark, sf)
    val usable = embeddings(spark, sf).filter(
      expr("size(embedding) = 64 AND dot_f32(embedding, embedding) IS NOT NULL" +
        " AND NOT isnan(dot_f32(embedding, embedding))" +
        " AND dot_f32(embedding, embedding) <> CAST('Infinity' AS DOUBLE)"))
    // total: every usable vector gets exactly one cell
    assert(assign.count() == usable.count())
    assert(assign.select("vec_id").distinct().count() == assign.count())
    // cells within the knob's range, and more than one materializes on
    // the fixture (the quantizer actually partitions the space)
    val cells = assign.select("cell").distinct().collect().map(_.getLong(0))
    assert(cells.forall(c => c >= 0 && c < graft.operators.Similarity.IvfCells))
    assert(cells.length > 1, s"degenerate quantizer: ${cells.length} cell(s)")
  }

  // The staged-index staleness guard (r14): stagedIvf keys its marker on
  // the embeddings CONTENT fingerprint, so regenerating the fixture —
  // same path, same row count — must re-stage and serve the NEW
  // corpus's answer. A name-only or rows-only marker would keep serving
  // corpus A's index (the silent-stale-data class the r7 streaming
  // marker rewrite eliminated; this pins the IVF staging against it).
  test("staged IVF index restages when the fixture content changes") {
    import spark.implicits._
    val dir = Staging.tempDirReapedAtExit("graft_stale_ivf")
    val rnd = new scala.util.Random(7)
    def noise(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val probe = noise()
    def near(base: Array[Float]): Array[Float] =
      base.map(x => x + 0.001f * rnd.nextGaussian().toFloat)
    val others = (3 to 9).map(_ => noise())
    def write(copyId: Long): Unit = {
      val vecs: Seq[(Long, Array[Float], Int)] =
        Seq((0L, probe, 0)) ++
          Seq(1L, 2L).map(id =>
            (id, if (id == copyId) near(probe) else noise(), 1)) ++
          others.zipWithIndex.map { case (v, i) => ((i + 3).toLong, v, 2) }
      vecs.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    def top1(): Long =
      SparkEntry.queries("sim_ivf_topk")(spark, dir).collect().head.getLong(0)
    write(copyId = 1L)
    assert(top1() == 1L, "corpus A: the near-copy of the probe must win")
    // No sleep needed for cache-key distinctness: fileSig (r15) hashes
    // the per-file (name, size, mtimeNanos) listing, and every Spark
    // write emits fresh task-UUID part names — an in-place regeneration
    // always changes the signature, even same-instant on a coarse-mtime
    // filesystem.
    write(copyId = 2L)
    assert(top1() == 2L,
      "REGENERATED fixture served a STALE staged index (marker did not restage)")
  }
}
