package graft.operators

import graft.{QueryModule, Staging, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search + multimodal columns over `embeddings`/`documents`
  * (BASELINE.json mandate: ANN over an embedding column, multimodal
  * binary columns, custom aggregation state).
  *
  * Cosine similarity is pure higher-order-function arithmetic
  * (`zip_with` products folded left-to-right in DOUBLE) — no UDF, stays
  * inside codegen, and the identical fold is expressible in DuckDB for the
  * oracle (SURVEY.md §2.10 expr_cosine).
  *
  * Scale notes (100 TB):
  * - brute-force top-k is the correctness baseline: one broadcast of the
  *   probe row, map-side cosine, TakeOrderedAndProject — no shuffle of the
  *   vector table and no driver collect;
  * - the ANN path is sign-LSH with FIXED arithmetic hyperplanes (no RNG —
  *   reproducible across engines and runs): `LshPlanes` = 8 planes →
  *   256 buckets (planes ∝ log₂N is the scale rule — see the LshPlanes
  *   scaladoc); at scale the bucket id becomes
  *   the shuffle/partition key so a probe touches one bucket's share of
  *   the data; recall is tunable by multi-probing neighboring buckets
  *   (not needed on fixtures);
  * - embedding near-dup kNN blocks on coarse QUANTIZATION cells (each
  *   vector assigned to its nearest mean-vector centroid, the IVF recipe)
  *   so the pair space is k× smaller than the n² cross join and the
  *   centroid count k (`IvfCells` = 16, sized ≈ √N) — not a lucky
  *   metadata column — bounds it;
  * - the vector-average UDAF is a typed Aggregator with map-side partial
  *   merge — state is one (sums[64], count) buffer per group, the same
  *   shape Spark's own avg uses.
  */
object Similarity extends QueryModule {
  import T._

  /** Left-to-right double-precision dot product a·b (both array<float>). */
  private def dot(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  // nullif(denominator, 0): cosine with a ZERO vector is undefined, and
  // the two engines disagree on bare 0/0 — Spark doubles give NaN (which
  // then sorts ABOVE every real similarity in a desc top-k), DuckDB
  // division by zero gives NULL. NULL is the correct SQL spelling of
  // "undefined" and what the oracle produces naturally, so the Spark
  // side guards the denominator; zero embeddings are a real 100 TB class
  // (failed upstream encoders emit them) exercised by the degenerate
  // embeddings corpus in tools/degen_check.py.
  //
  // nanvl(·, NULL): a NON-FINITE component (NaN/±Inf — corrupt encoder
  // output) always lands the cosine on NaN (any Inf reaches Inf/Inf via
  // the norm product), and NaN sorts ABOVE every real similarity in
  // BOTH engines' desc ordering — one corrupt row would silently win
  // every top-k. Same verdict as the zero vector: undefined → NULL,
  // which sorts LAST desc in both engines (emb_dirty corpus, r12).
  private def cosine(a: String, b: String): String =
    s"nanvl(${dot(a, b)} / nullif(sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}), CAST(0 AS DOUBLE)), CAST(NULL AS DOUBLE))"

  /** MALFORMED-VECTOR CONTRACT (r12, pinned by the emb_dirty family in
    * tools/degen_check.py). A 100 TB embedding corpus routinely carries
    * corrupt rows — truncated/overlong lists, NULL rows, NULL elements,
    * non-finite components — and one such row must neither kill a job
    * (the old ANSI element_at / UDAF-require / encoder-NPE crashes) nor
    * silently win a top-k (NaN sorts greatest desc in both engines;
    * DuckDB even totally orders NaN > 0 where Spark is IEEE, so LSH
    * bucket bits on a NaN vector DIVERGE cross-engine).
    *
    * Two tiers, two uses:
    * - wellFormed: exactly 64 non-NULL components — required for any
    *   vector ARITHMETIC to be defined; scoring keys emit NULL for
    *   anything else (dot_f32's HOF-parity NULL does most of this).
    * - usable: wellFormed AND all components finite — required for
    *   index/structure MEMBERSHIP (LSH buckets, IVF cells, centroid
    *   training, vector averages), where one bad row poisons whole
    *   cells; such rows are filtered out of the structure, exactly what
    *   a production ANN index build does, and the filter is the
    *   documented drop-not-kill rule (mirrors the TSV ingest surface).
    */
  private def wellFormed(e: String): String =
    s"(size($e) = 64 AND NOT exists($e, x -> x IS NULL))"
  private def duckWellFormed(e: String): String =
    s"(len($e) = 64 AND list_count($e) = 64)"
  // usable spelled through the codegen'd SELF-DOT, not an interpreted
  // exists() lambda: dot_f32(e,e) is NULL iff a component is NULL
  // (HOF-parity), NaN iff one is NaN, +Inf iff one is ±Inf (squares; 64
  // finite f32 squares can't overflow a double: ≤ 64·(3.4e38)² ≈ 7e78),
  // so one tight JIT'd loop decides validity — measurably cheaper than
  // per-element lambda dispatch on a 100 TB scan, and the whole-stage
  // codegen subexpression elimination shares the dot across the three
  // predicates.
  private def usableVec(e: String): String =
    s"(size($e) = 64 AND dot_f32($e, $e) IS NOT NULL" +
      s" AND NOT isnan(dot_f32($e, $e))" +
      s" AND dot_f32($e, $e) <> CAST('Infinity' AS DOUBLE))"
  private def duckUsableVec(e: String): String =
    s"(len($e) = 64 AND len(list_filter($e, x -> x IS NULL OR NOT isfinite(x))) = 0)"

  /** Deterministic sampling hash on vec_id — the trainer's row-selection
    * key, identical in both engines. The inner pmod folds vec_id below
    * 2³¹ BEFORE the multiply so the affine step can't overflow a BIGINT
    * under ANSI ((2³¹−1)·1103515245 ≈ 2.4e18 < 2⁶³); every intermediate
    * is non-negative, so DuckDB's sign-preserving % agrees with pmod at
    * each step (spelled as the usual ((x % m + m) % m) anyway for the
    * one step whose argument is raw input).
    */
  private val HashM = 2147483647L
  private def sparkHash: String =
    s"pmod(pmod(vec_id, $HashM) * 1103515245 + 12345, $HashM)"
  private def duckHash: String =
    s"((((vec_id % $HashM + $HashM) % $HashM) * 1103515245 + 12345) % $HashM)"

  /** Same arithmetic via the codegen'd native expression (graft.functions
    * .DotF32) — used on the hot paths; `expr_cosine` keeps the pure-HOF
    * form so both formulations stay oracle-covered.
    */
  private def ndot(a: String, b: String): String = s"dot_f32($a, $b)"
  private def ncosine(a: String, b: String): String =
    s"nanvl(${ndot(a, b)} / nullif(sqrt(${ndot(a, a)}) * sqrt(${ndot(b, b)}), CAST(0 AS DOUBLE)), CAST(NULL AS DOUBLE))"
  private def duckCosine(a: String, b: String): String =
    s"${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}))"

  /** duckCosine with the zero-norm denominator guarded: oracle contexts
    * that score USABLE vectors (where NaN components are impossible but
    * a zero vector is admissible) get NULL-by-construction on 0/0
    * instead of relying on DuckDB 1.0's NULL division dialect (DuckDB
    * ≥ 1.1 defaults to IEEE 0/0 = NaN, which sorts FIRST desc — r13
    * ADVICE). Matches the Spark side's nullif(denominator, 0).
    */
  private def duckCosineN(a: String, b: String): String =
    s"${duckDot(a, b)} / nullif(sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}), 0)"

  /** Oracle twin of the guarded r6(cosine): NULL unless both vectors are
    * wellFormed (duckDot's list_sum SKIPS the NULL products a malformed
    * list produces, so an unguarded oracle would emit a plausible
    * partial-sum cosine where Spark's HOF/dot_f32 parity says NULL) and
    * the value is a number (NaN → NULL, the nanvl twin; a zero vector's
    * 0/0 is already NULL via DuckDB division semantics).
    */
  private def duckCosineSafe(a: String, b: String): String =
    s"(CASE WHEN ${duckWellFormed(a)} AND ${duckWellFormed(b)} AND NOT isnan(${duckCosine(a, b)}) THEN round(${duckCosine(a, b)}, 6) END)"

  /** Oracle twin of [[trainCentroidsN]] + nearest-centroid assignment —
    * the shared CTE chain (no leading WITH) every trained-quantizer
    * oracle starts from. Stage for stage: usable corpus → sampling hash
    * → hash-sampled training subset (+ per-sample norm) → the IvfCells
    * lowest-hash sampled vectors as seeds (cell id = rank in that
    * order) → each sampled vector assigned to its nearest seed
    * (r6-rounded cosine, cell-asc tie-break — the row_number twin of
    * Spark's packed argmax; both break an all-NULL group to the minimum
    * cell because DuckDB orders NULLS LAST under DESC) → per-cell
    * per-dim mean = trained centroid (+ its norm) → every usable vector
    * assigned to its nearest trained centroid (`cellof`).
    *
    * Every cosine denominator is `nullif(..., 0)` so a zero-norm seed,
    * member, or trained centroid yields NULL BY CONSTRUCTION on any
    * DuckDB version (r13 ADVICE: DuckDB 1.0 returns NULL for float
    * division by zero, but ≥ 1.1 defaults ieee_floating_point_ops=true
    * where 0/0 is NaN — which sorts FIRST under ORDER BY ccos DESC and
    * would let a zero-norm seed or centroid silently capture every row
    * in the oracle only). With the guard, undefined scores are NULL in
    * both engines and the NULLS-LAST tie-break reasoning above holds
    * regardless of DuckDB's division dialect.
    */
  private def duckTrained: String = s"""
      u AS (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE ${duckUsableVec("embedding")}),
      samp AS (
        SELECT vec_id, embedding,
               sqrt(${duckDot("embedding", "embedding")}) AS snorm
        FROM u
        WHERE $duckHash % $IvfSampleMod = 0),
      seeds AS (
        SELECT embedding AS seed_emb, CAST(rn - 1 AS BIGINT) AS cell
        FROM (SELECT vec_id, embedding,
                     row_number() OVER (ORDER BY $duckHash, vec_id) AS rn
              FROM samp)
        WHERE rn <= $IvfCells),
      sassign1 AS (
        SELECT s.vec_id, seeds.cell,
               round(${duckDot("s.embedding", "seed_emb")}
                 / nullif(s.snorm
                    * sqrt(${duckDot("seed_emb", "seed_emb")}), 0), 6) AS ccos
        FROM samp s, seeds),
      sbest1 AS (
        SELECT vec_id, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY ccos DESC, cell) AS rn
          FROM sassign1) WHERE rn = 1),
      cent1 AS (
        SELECT cell, list(m ORDER BY i) AS c FROM (
          SELECT sbest1.cell AS cell, i,
                 avg(CAST(s.embedding[CAST(i AS INT)] AS DOUBLE)) AS m
          FROM samp s JOIN sbest1 ON s.vec_id = sbest1.vec_id, range(1, 65) t(i)
          GROUP BY cell, i)
        GROUP BY cell),
      centn1 AS (
        SELECT cell, c,
               sqrt(list_sum(list_transform(range(1, 65), i -> c[i] * c[i]))) AS cnorm
        FROM cent1),
      centf AS (SELECT * FROM centn1),
      norms AS (
        SELECT vec_id, label, embedding,
               sqrt(${duckDot("embedding", "embedding")}) AS norm
        FROM u),
      assigned AS (
        SELECT n.vec_id, centf.cell,
               round(list_sum(list_transform(range(1, 65),
                       i -> CAST(n.embedding[i] AS DOUBLE) * c[i]))
                     / nullif(n.norm * centf.cnorm, 0), 6) AS ccos
        FROM norms n, centf),
      cellof AS (
        SELECT vec_id, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY ccos DESC, cell) AS rn
          FROM assigned) WHERE rn = 1)"""

  /** Oracle twin of `ivfTopk` — one template, parameterized on nprobe.
    * The probe CTE reads from the usable-filtered `u`, matching the
    * Spark side's filtered probe (r12 ADVICE: an unfiltered probe CTE
    * would return a top-5 where Spark returns zero rows if vec_id 0
    * were ever malformed).
    */
  private def duckIvf(nprobe: Int): String = s"""
      WITH $duckTrained,
      probe AS (SELECT embedding AS p FROM u WHERE vec_id = 0),
      best AS (
        SELECT cell FROM centf, probe
        ORDER BY round(
          list_sum(list_transform(range(1, 65), i -> CAST(p[i] AS DOUBLE) * c[i]))
          / nullif(sqrt(${duckDot("p", "p")}) * cnorm, 0), 6) DESC,
          cell
        LIMIT $nprobe)
      SELECT n.vec_id, n.label,
             round(${duckCosineN("n.embedding", "p")}, 6) AS cos
      FROM norms n
        JOIN cellof ON n.vec_id = cellof.vec_id
        JOIN best ON cellof.cell = best.cell, probe
      WHERE n.vec_id <> 0
      ORDER BY cos DESC, n.vec_id LIMIT 5
    """

  /** Sign-LSH plane count — the bucket-geometry scale lever of the ANN
    * family (2^planes buckets). A fixed 256-bucket table means bucket
    * SIZE grows with N (each probe scores N/256 rows); planes ∝ log₂N
    * keeps bucket size flat, at one extra sign-dot per plane per row on
    * the index build. 8 planes suit the fixtures; a larger corpus
    * raises this constant. The oracle SQL generator reads the same
    * constant, so the cross-engine gate holds at any plane count ≤ 30
    * (DuckDB's `1 << p` is 32-bit).
    */
  private[graft] val LshPlanes = 8

  /** Deterministic LSH hyperplane weight for (plane p, 1-based dim i):
    * pseudo-random int in [-998, 998] from fixed affine arithmetic —
    * identical in both engines, no RNG. planeWeight is the exact Scala
    * twin of the SQL spelling (the argument is positive, so SQL's
    * signed % and Scala's % agree), letting the Spark side bake the 64
    * weights per plane into a LITERAL array and take the sign of one
    * codegen'd dot_f32f64 — the HOF spelling ran 8 interpreted
    * 64-element folds per row on the index-build scan (the same
    * interpreted-assignment disease the IVF fix removed). Fold order
    * and (double)f32 × f64 products are bit-identical, so buckets
    * can't diverge from the oracle's HOF form.
    */
  private def planeW(p: Int): String =
    s"(CAST((CAST(1103515245 AS BIGINT) * ($p * 64 + i - 1) + 12345) % 1997 AS DOUBLE) - 998)"
  private[graft] def planeWeight(p: Int, i: Int): Long =
    (1103515245L * (p * 64 + i - 1) + 12345L) % 1997L - 998L
  // planes parameterized (default = LshPlanes) so GenPropertySpec can
  // prove the bucketing arithmetic and the radius-1 recall contract at
  // EVERY admissible plane count, not just the shipped one.
  private[graft] def sparkBucket(emb: String, planes: Int = LshPlanes): String = {
    (0 until planes).map { p =>
      val arr = (1 to 64).map(i => s"CAST(${planeWeight(p, i)} AS DOUBLE)")
        .mkString("array(", ", ", ")")
      s"shiftleft(CASE WHEN dot_f32f64($emb, $arr) > 0 THEN 1 ELSE 0 END, $p)"
    }.mkString(" + ")
  }
  private def duckBucket(emb: String): String =
    (0 until LshPlanes).map { p =>
      s"(CASE WHEN list_sum(list_transform(range(1, 65), i -> CAST($emb[i] AS DOUBLE) * ${planeW(p)})) > 0 THEN 1 ELSE 0 END << $p)"
    }.mkString(" + ")

  /** Every non-probe vector scored against the broadcast probe (vec_id 0)
    * with the codegen'd r6-rounded cosine — the shared head of the
    * brute-force top-k and range-search keys, which keep every row
    * addressable and answer NULL for the unscorable.
    */
  private def probeScored(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"), col("embedding"), col("probe_emb"))
  }

  private def scored(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"),
      r6(expr(ncosine("embedding", "probe_emb"))).as("cos"))

  /** Coarse-quantizer cell count (IVF "nlist") — the pair-space bound of
    * the cell-blocked embedding family (sim_ivf_*, dedup_embed_cosine).
    * Seed count for [[trainCentroidsN]]: at most IvfCells centroids are
    * trained (cells no sampled vector chose don't materialize).
    *
    * 100 TB sizing rule (the r11 verdict's one recorded scale caveat):
    * the within-cell self-join costs ~N²/cells pairs, so set IvfCells ≈
    * √N for N corpus vectors (10⁹ vectors → ~30k cells), bounding the
    * blocked pair space to ~N^1.5 with each cell's shard ≈ √N rows.
    * SURVEY §7.6 records the same rule. 16 suits the fixtures; a
    * deployment edits this constant. Every consumer — trainer, cell
    * assignment, AND the generated oracle SQL ([[duckTrained]]) — reads
    * it, so the cross-engine gate holds at any cell count (validated on
    * the ×16 scale-probe corpus, BASELINE.md round-12 session 5).
    */
  private[graft] val IvfCells = 16

  /** Trainer sampling rate: the quantizer trains on the ~1/mod of the
    * usable corpus whose vec_id hash lands on 0 — the piece of the IVF
    * recipe that makes it 100 TB-honest (k-means-style training reads a
    * SAMPLE, never the corpus; at 10⁹ vectors set mod ~10⁴ so the
    * training subset stays ~10⁵ rows regardless of N). 2 so the
    * sampling path is always EXERCISED, not a fixture-silent identity;
    * the oracle generator reads the same constant.
    */
  private[graft] val IvfSampleMod = 2

  // Packed-argmax geometry (see the dedup_embed_cosine scaladoc for the
  // derivation): cell ids take 21 bits, the r6-rounded cosine is an
  // exact integer count of millionths in [-1e6, 1e6].
  private val CellBits = 21
  private val CellMask = (1L << CellBits) - 1
  // The all-ones cell value is reserved (mask − cell must stay
  // non-negative and distinguishable), so at most 2^21 − 2 cells.
  require(IvfCells >= 1 && IvfCells <= CellMask - 1,
    s"IvfCells must be in [1, ${CellMask - 1}], got $IvfCells")

  /** The (ccos DESC, cell ASC) winner per vec_id over (vec_id, cell,
    * ccos) rows, by packed-long HASH aggregation — never a window
    * (WindowExec would exchange and sort the whole N×cells candidate
    * stream) and never max(struct) (non-mutable buffer ⇒ silent
    * SortAggregate). ccos MUST be r6-rounded: the packing multiplies by
    * 1e6 and floor(x + 0.5) recovers the exact grid integer. max() skips
    * NULL scores; an all-NULL group (zero vector — cosine undefined
    * against every centroid) falls back to min(cell) via coalesce,
    * matching the oracle's NULLS-LAST row_number tie-break.
    */
  // private[graft]: GenPropertySpec pins the packing arithmetic against
  // a reference argmax on generated (vec_id, cell, ccos) rows — negative
  // scores, NULL groups, and tie cases included.
  private[graft] def argmaxCell(assigned: DataFrame): DataFrame =
    assigned
      .select(col("vec_id"),
        expr(s"shiftleft(floor(ccos * 1000000.0D + 0.5D), $CellBits) + ($CellMask - cell)").as("p"),
        col("cell"))
      .groupBy(col("vec_id"))
      .agg(max(col("p")).as("mp"), min(col("cell")).as("mc"))
      .select(col("vec_id"),
        coalesce(lit(CellMask) - col("mp").bitwiseAND(lit(CellMask)), col("mc")).as("cell"))

  /** Quantizer training, label-INDEPENDENT (r12 verdict task 1 — the old
    * trainer folded the fixture's label metadata column, which real
    * unlabeled corpora don't have). K-means-style with deterministic
    * arithmetic in place of RNG, ONE recipe shared by sim_ivf_* and
    * dedup_embed_cosine so the oracles mirror a single SQL shape
    * ([[duckTrained]]):
    *
    *  1. SAMPLE: usable vectors whose vec_id hash ≡ 0 (mod
    *     [[IvfSampleMod]]) — at scale the trainer reads ~N/mod rows,
    *     never the corpus;
    *  2. SEEDS: the [[IvfCells]] lowest-hash sampled vectors, cell id =
    *     rank in (hash, vec_id) order — the deterministic stand-in for
    *     k-means++ random init, identical in both engines;
    *  3. one Lloyd step: each sampled vector joins its nearest seed
    *     (r6-rounded cosine, cell-asc tie-break via the packed argmax),
    *     and the per-cell mean (the mean_vec UDAF) is the trained
    *     centroid. Cells no sampled vector chose simply don't exist —
    *     consistent in both engines.
    *
    * The seed-rank window runs over ≤ IvfCells rows (post-LIMIT, never
    * data-scaled); everything data-sized is hash-agg or broadcast-join
    * shaped. Input `e` must be usable-filtered (corrupt
    * rows must not poison centroids — emb_dirty contract).
    *
    * The sample is persist()ed — it is consumed 3 times (seed limit,
    * assignment and membership join), and without compute-once caching
    * the usable-filter + hash scan of the corpus re-runs each time (r13
    * ADVICE). The returned (cell, c, cnorm) table is EAGERLY
    * materialized via localCheckpoint (≤ IvfCells rows — never a driver
    * collect) so the sample cache can be released before this returns
    * and consumers (probe routing, full-corpus assignment, the
    * staged-index write) never re-run the training chain.
    */
  private[graft] def trainCentroidsN(s: SparkSession, e: DataFrame): DataFrame = {
    val samp = e.select(col("vec_id"), col("embedding"),
        expr(sparkHash).as("hv"),
        expr("sqrt(dot_f32(embedding, embedding))").as("norm"))
      .filter(col("hv") % IvfSampleMod === 0)
      .persist()
    try {
      val seeds = samp.orderBy(col("hv"), col("vec_id")).limit(IvfCells)
        .withColumn("cell",
          (row_number().over(Window.orderBy(col("hv"), col("vec_id"))) - 1)
            .cast("long"))
        .select(col("cell"), col("embedding").as("seed_emb"),
          expr("sqrt(dot_f32(embedding, embedding))").as("snorm"))
      val sassign = samp.crossJoin(broadcast(seeds))
        .select(col("vec_id"),
          r6(expr("dot_f32(embedding, seed_emb)") /
            nullif(col("norm") * col("snorm"), lit(0.0))).as("ccos"),
          col("cell"))
      val cents = samp.select(col("vec_id"), col("embedding"))
        .join(argmaxCell(sassign), Seq("vec_id"))
        .groupBy(col("cell"))
        .agg(expr("mean_vec(embedding)").as("c"))
      centroidsWithNorm(cents).localCheckpoint()
    } finally samp.unpersist()
  }

  /** Trained centroids + their norms (norm once per centroid on the
    * broadcast side, never per candidate row). The centroid self-dot
    * stays HOF — cells rows, not a hot path.
    */
  private def centroidsWithNorm(cents: DataFrame): DataFrame = {
    val dotCC = "aggregate(zip_with(c, c, (x, y) -> x * y), CAST(0 AS DOUBLE), (a, v) -> a + v)"
    cents.withColumn("cnorm", expr(s"sqrt($dotCC)"))
  }

  /** Every vector of `e` (vec_id, embedding, norm) assigned to its
    * nearest trained centroid — N×cells codegen'd dot_f32f64 products,
    * argmax by hash aggregation (one N-row exchange regardless of the
    * cell count; the r12 session-5 adjudication).
    */
  private def assignCells(e: DataFrame, centsN: DataFrame): DataFrame =
    argmaxCell(e.crossJoin(broadcast(centsN))
      .select(col("vec_id"),
        r6(expr("dot_f32f64(embedding, c) / nullif(norm * cnorm, CAST(0 AS DOUBLE))")).as("ccos"),
        col("cell")))

  /** Full-corpus cell membership under the trained quantizer — also the
    * spec-side hook (PipelineOpsSpec recomputes the exact in-cell top-5
    * from this assignment). Computes directly (no staged index): specs
    * and property tests use this as the independent recomputation the
    * staged path is checked against.
    */
  private[graft] def cellAssignment(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).filter(expr(usableVec("embedding")))
    assignCells(
      e.select(col("vec_id"), col("embedding"),
        expr("sqrt(dot_f32(embedding, embedding))").as("norm")),
      trainCentroidsN(s, e))
  }

  // Read-back schemas for the staged index (explicit, not inferred: an
  // EMPTY corpus stages zero centroid/assignment rows — possibly zero
  // part files — where bare inference throws instead of answering the
  // correct empty result; the eventsByDay precedent).
  private val centsReadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("c",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
    org.apache.spark.sql.types.StructField("cnorm",
      org.apache.spark.sql.types.DoubleType)))
  private val assignReadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType)))

  /** The trained IVF index — (centroids, full-corpus cell assignment) —
    * staged ONCE per (fixture content, index key) behind a
    * content-marker guard and read back by every consumer key (r13
    * verdict task 2). A real deployment builds an ANN index once and
    * probes it many times; the rebuild-per-query shape the keys had
    * before this was a harness artifact that charged every probe the
    * full train + assign cost. The index key (algorithm version, cells,
    * sample mod, one Lloyd step) is part of BOTH the marker content and
    * the directory name, so an edited constant stages a fresh index
    * instead of serving the old one, and the marker is written last so
    * an interrupted staging never passes the guard. One-time build cost
    * is recorded in BASELINE.md (r14); the oracle is unchanged —
    * [[duckTrained]] re-derives identical centroids from the corpus.
    *
    * Cluster translation: the /tmp parquet pair is the local-harness
    * stand-in for what a 100 TB deployment does with real tables — the
    * assignment becomes a bucketed/partitioned table with `cell` as
    * the partition key (each probe then touches one cell's shard) and
    * the centroid table a small broadcast-side dimension; the build is
    * an INSERT OVERWRITE whose atomicity comes from the table commit
    * protocol, and freshness from the ingest pipeline that owns the
    * corpus — not from this marker file. Staging goes through
    * [[graft.Staging.once]]: the index is built complete under a
    * pid-unique temp sibling and published by rename, so concurrent
    * builders can race but never tear each other's output.
    */
  // Trainer/assignment ALGORITHM version, part of the staging
  // fingerprint AND the dir name: the content fingerprint only guards
  // the INPUT, so a future change to trainCentroidsN/assignCells
  // arithmetic (tie-breaks, update rule, packing) would otherwise
  // silently serve an old-algorithm index built by a previous process
  // while the oracle recomputes with the new arithmetic. BUMP THIS
  // whenever the staged tables' derivation changes observably.
  private val IvfIndexVersion = 1

  // One reap hook per staged dir, however many times a key re-enters.
  private val reapAtExit =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  private def stagedIvf(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // `iters=1` names the trainer's single Lloyd step; it stays in the
    // key so indexes staged under this exact string are reused.
    val indexKey =
      s"v=$IvfIndexVersion;cells=$IvfCells;mod=$IvfSampleMod;iters=1"
    val path = s"/tmp/graft_ivf_${Staging.tag(d)}_${(indexKey.hashCode & 0x7fffffff).toHexString}"
    // A staged index for a TEMP fixture (generated test/degen corpora
    // under java.io.tmpdir, each with a unique dir name) can never be
    // reused by another JVM — reap it at exit instead of accumulating
    // one corpus-sized parquet dir per test run. Real fixtures
    // (/root/testdata, probe corpora) keep cross-JVM persistence.
    val tmpRoot = System.getProperty("java.io.tmpdir", "/tmp")
    if (new java.io.File(d).getAbsolutePath.startsWith(tmpRoot) &&
        reapAtExit.putIfAbsent(path, ()).isEmpty)
      sys.addShutdownHook {
        try Staging.rmr(java.nio.file.Paths.get(path))
        catch { case _: Throwable => () }
      }
    val embFp = Staging.fingerprint(s"$d/embeddings.parquet", embeddings(s, d),
      Seq("vec_id", "embedding", "label"))
    Staging.once(path, s"$embFp;$indexKey") { tmp =>
      val e = embeddings(s, d).filter(expr(usableVec("embedding")))
      trainCentroidsN(s, e)
        .write.mode("overwrite").parquet(s"$tmp/cents")
      // Assignment against the PERSISTED centroids (read back, not the
      // in-memory checkpoint) so the staged index is self-consistent
      // by construction even across process restarts mid-staging.
      val cents = s.read.schema(centsReadSchema).parquet(s"$tmp/cents")
      assignCells(
        e.select(col("vec_id"), col("embedding"),
          expr("sqrt(dot_f32(embedding, embedding))").as("norm")),
        cents)
        .write.mode("overwrite").parquet(s"$tmp/assign")
    }
    (s.read.schema(centsReadSchema).parquet(s"$path/cents"),
      s.read.schema(assignReadSchema).parquet(s"$path/assign"))
  }

  /** IVF search: route the probe to its `nprobe` nearest coarse cells
    * (trained centroids), then exact top-5 within the union of those
    * cells' members (membership = nearest trained centroid — the same
    * assignment the index build materializes as the partition key at
    * scale).
    */
  private def ivfTopk(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    // Only usable vectors train cells or live in them (malformed-vector
    // contract above): one NaN component would NaN a centroid dimension
    // and a dimension mismatch is a loud UDAF require — both are
    // drop-not-kill at this surface. The index (centroids + membership)
    // comes from the staged build — probes pay routing + in-cell
    // scoring only, never the train/assign cost (stagedIvf scaladoc).
    val (centsN, cellOf) = stagedIvf(s, d)
    val e = embeddings(s, d).filter(expr(usableVec("embedding")))
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb"))
    val bestCells = centsN.crossJoin(broadcast(probe))
      .select(col("cell"),
        r6(expr("dot_f32f64(probe_emb, c) / nullif(sqrt(dot_f32(probe_emb, probe_emb)) * cnorm, CAST(0 AS DOUBLE))")).as("ccos"))
      .orderBy(desc("ccos"), col("cell"))
      .limit(nprobe)
    // Prune membership to the probed cells FIRST (broadcast nprobe-row
    // join), so only ~N·nprobe/cells candidate ids reach the scoring
    // join.
    val members = cellOf.join(broadcast(bestCells.select(col("cell"))), Seq("cell"))
    scored(e.filter(col("vec_id") =!= 0)
        .join(members.select(col("vec_id")), Seq("vec_id"))
        .crossJoin(broadcast(probe)))
      .orderBy(desc("cos"), col("vec_id"))
      .limit(5)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force exact top-10 cosine neighbors of probe vec_id = 0.
    "sim_topk_neighbors" -> ((s, d) =>
      scored(probeScored(s, d))
        .orderBy(desc("cos"), col("vec_id"))
        .limit(10)),

    // The scalar cosine expression itself (SURVEY §2.10 expr_cosine):
    // map-side HOF arithmetic, no shuffle, no UDF.
    "expr_cosine" -> ((s, d) => {
      val e = embeddings(s, d)
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe_emb"))
      e.filter(col("vec_id") > 0 && col("vec_id") <= 100)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          r6(expr(dot("embedding", "probe_emb"))).as("dot"),
          r6(expr(cosine("embedding", "probe_emb"))).as("cos"))
    }),

    // ANN: probe searches only its own sign-LSH bucket (1/2^planes of data).
    "sim_ann_lsh" -> ((s, d) => {
      // usable-filter BEFORE bucketing: ANSI element_at(emb, i..64)
      // THROWS on a truncated vector (one corrupt row killed the whole
      // index build — emb_dirty corpus), and NaN sign bits diverge
      // cross-engine (Spark IEEE NaN > 0 = false, DuckDB total order
      // NaN > 0 = true). An index admits usable vectors only.
      val e = embeddings(s, d)
        .filter(expr(usableVec("embedding")))
        .withColumn("bucket", expr(sparkBucket("embedding")))
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe_emb"), col("bucket").as("probe_bucket"))
      e.crossJoin(broadcast(probe))
        .filter(col("bucket") === col("probe_bucket") && col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"), col("bucket"),
          r6(expr(ncosine("embedding", "probe_emb"))).as("cos"))
        .orderBy(desc("cos"), col("vec_id"))
        .limit(5)
    }),

    // Multi-probe LSH: also search every bucket within hamming radius 1
    // of the probe's bucket (flip each of the LshPlanes bits) — the
    // standard recall lever, (planes+1)/2^planes of the data instead of 1.
    "sim_ann_multiprobe" -> ((s, d) => {
      // Same usable-filter-before-bucketing rule as sim_ann_lsh.
      val e = embeddings(s, d)
        .filter(expr(usableVec("embedding")))
        .withColumn("bucket", expr(sparkBucket("embedding")))
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe_emb"), col("bucket").as("probe_bucket"))
      e.crossJoin(broadcast(probe))
        .filter(expr("bit_count(bucket ^ probe_bucket) <= 1") && col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"), col("bucket"),
          r6(expr(ncosine("embedding", "probe_emb"))).as("cos"))
        .orderBy(desc("cos"), col("vec_id"))
        .limit(10)
    }),

    // IVF-style ANN: coarse cells trained label-free from a hash
    // sample (trainCentroidsN — deterministic seeds and one k-means
    // Lloyd step, staged once per fixture by stagedIvf);
    // the probe routes to its nearest centroid (cosine, r6-rounded,
    // cell tie-break), then exact top-5 WITHIN that cell's members
    // only. At scale the cell id is the partition key: a probe touches
    // one cell's shard, and nprobe>1 multi-cell search is the recall
    // lever.
    "sim_ivf_topk" -> ((s, d) => ivfTopk(s, d, nprobe = 1)),

    // IVF with nprobe=2: search the TWO nearest cells — the standard
    // recall lever (each extra probe linearly trades compute for recall;
    // at scale each cell is a partition shard, so nprobe bounds the
    // fraction of data a probe touches).
    "sim_ivf_nprobe2" -> ((s, d) => ivfTopk(s, d, nprobe = 2)),

    // Range (threshold) search: ALL vectors within cosine ≥ τ of the
    // probe — the radius-query dual of top-k; pure map-side filter after
    // the broadcast, output size data-dependent.
    "sim_range_search" -> ((s, d) =>
      scored(probeScored(s, d)).filter(col("cos") >= 0.2)),

    // Embedding near-dup: each vector's nearest neighbor within its IVF
    // cell — blocking on coarse QUANTIZATION cells (nearest mean_vec
    // centroid by r6-rounded cosine, cell-asc tie-break: the sim_ivf_topk
    // assignment recipe applied to every vector, not just the probe), NOT
    // on any metadata column. This is the honest 100 TB shape: the
    // centroid count k bounds the pair space to n²/k, and the cell id
    // is the one shuffle key; label-blocking (the r5 form) only worked
    // because the fixture had a convenient category column — and the
    // r12 label-FOLD trainer still leaned on it; the trained quantizer
    // (r13) needs no labels at all. Cosine rounded BEFORE ranking so
    // ties break identically in both engines (by neighbor id).
    "dedup_embed_cosine" -> ((s, d) => {
      // Norms once per vector (map-side), not three dot products per pair.
      // (A pre-assignment repartition to undo the single-row-group
      // 2026-08-13 fixture layout was measured and rejected here too:
      // isolated 2-JVM medians 2.40 s with vs 2.10 s without — the
      // assignment cross join is small enough that the exchange costs
      // more than the serial compute it parallelizes. See
      // Dedup.codesDS for the same adjudication on the text side.)
      // usable only (malformed-vector contract): a corrupt row must not
      // poison centroid training, and its "nearest neighbor" is
      // undefined — near-dup detection runs over the scorable corpus.
      val e = embeddings(s, d)
        .filter(expr(usableVec("embedding")))
        .select(col("vec_id"), col("label"), col("embedding"),
          expr(s"sqrt(${ndot("embedding", "embedding")})").as("norm"))
      // Coarse quantizer: the STAGED index from the shared
      // label-independent trainCentroidsN / assignCells recipe
      // (identical to sim_ivf_topk, so the oracle mirrors one SQL
      // shape; IvfCells bounds the pair space — see its scaladoc for
      // the √N rule; build cost is paid once per fixture in stagedIvf,
      // not per query). Assignment COMPUTE is the
      // cells-scaling term (×16 probe corpus, r12 session 5): N×cells
      // cosines spelled as interpreted HOF folds grew this key 12.0 s →
      // 25.0 s when cells went 16 → 64 — assignCells keeps the dot
      // codegen'd (dot_f32f64), the centroid norm broadcast-side, and
      // the argmax a packed-long HASH aggregation (argmaxCell: neither a
      // window — WindowExec exchanges and sorts the whole candidate
      // stream — nor max(struct), whose non-mutable buffer silently
      // plans SortAggregate). Packing derivation: the r6-rounded cosine
      // is exactly an integer count of millionths in [-1e6, 1e6], so
      //     packed = floor(score·1e6 + 0.5) << idBits  +  (mask − id)
      // and max(packed) = highest score then LOWEST id; decode is
      // shift/mask arithmetic (arithmetic >> floors negative scaled
      // scores correctly), and scaled/1e6 round-trips bit-identically to
      // r6's output. Id widths: cells 21 bits (the require beside
      // CellBits), neighbor ids 41 bits (|scaled|·2^41 ≤ 2^61;
      // the assert_true below fails LOUDLY if a corpus ever carries ids
      // outside [0, 2^41) — corrupt structural metadata is the loud
      // tier of the dirty-data contract, unlike droppable vector rows).
      val (_, best) = stagedIvf(s, d)
      val NnBits = 41
      val nnMask = (1L << NnBits) - 1
      val eChecked = e.filter(expr(
        s"assert_true(vec_id >= 0 AND vec_id <= $nnMask, " +
          "'vec_id outside the 41-bit packed-argmax id width') IS NULL"))
      // Cached: both arms of the self-join below consume cellOf, and the
      // two aliased subtrees are NOT exchange-reused — without
      // compute-once caching the whole centroid-train + assign + rank
      // stage runs twice (plan-audited). persist, not localCheckpoint,
      // for the same CacheManager-reuse reason as the Dedup family
      // (Dedup.prefixJaccardPairs note); state is (id, vec, norm, cell).
      val cellOf = eChecked.select(col("vec_id"), col("embedding"), col("norm"))
        .join(best, Seq("vec_id"))
        .persist()
      val pairs = cellOf.as("a").join(cellOf.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("vec_id"), col("a.cell").as("cell"),
          col("b.vec_id").as("nn_id"),
          r6(expr(ndot("a.embedding", "b.embedding")) /
            nullif(col("a.norm") * col("b.norm"), lit(0.0))).as("cos"))
      // first(cell) is deterministic (both join arms share the cell
      // key) and its (long, boolean) buffer is hash-aggregable.
      pairs
        .select(col("vec_id"), col("cell"), col("nn_id"),
          expr(s"shiftleft(floor(cos * 1000000.0D + 0.5D), $NnBits) + ($nnMask - nn_id)").as("p"))
        .groupBy(col("vec_id"))
        .agg(first(col("cell")).as("cell"), max(col("p")).as("mp"),
          min(col("nn_id")).as("mn"))
        .select(col("vec_id"), col("cell"),
          coalesce(lit(nnMask) - col("mp").bitwiseAND(lit(nnMask)), col("mn")).as("nn_id"),
          (shiftright(col("mp"), NnBits).cast("double") / lit(1000000.0)).as("cos"))
    }),

    // Typed UDAF: per-label mean embedding via a custom Aggregator with
    // (sums[64], count) partial state — map-side combine, one shuffle.
    "udaf_vector_avg" -> ((s, d) => {
      // Output is exploded to (label, n_vecs, dim, mean_val) scalar rows:
      // the driver's compare sorts rows with pandas, which cannot order an
      // array-valued column (r1 udaf_vector_avg failed exactly there).
      // usable only: one truncated vector is a loud UDAF require, one
      // NULL row an encoder NPE, one NaN component a silently-NaN mean
      // dimension (emb_dirty corpus) — vector aggregates run over the
      // usable corpus, n_vecs counts what the mean actually averaged.
      embeddings(s, d)
        .filter(expr(usableVec("embedding")))
        .groupBy(col("label"))
        .agg(expr("mean_vec(embedding)").as("mv"), count(lit(1)).as("n_vecs"))
        .select(col("label"), col("n_vecs"), posexplode(col("mv")))
        .select(col("label"), col("n_vecs"),
          (col("pos") + 1).as("dim"),
          r6(col("col").cast("double")).as("mean_val"))
    }),

    // Multimodal row: text + typed metadata + vector in one result; filter
    // on both modalities, derive per-modality features.
    "multimodal_join" -> ((s, d) => {
      documents(s, d)
        .join(embeddings(s, d), col("doc_id") === col("vec_id"))
        .filter(col("lang").isin("en", "de") && col("label") < 5)
        .select(col("doc_id"), col("lang"), col("label"),
          size(split(col("text"), " ")).as("n_tokens"),
          // Fixed-shape-tensor contract: the norm is defined only for a
          // wellFormed (64 non-NULL dims) vector — NULL otherwise; the
          // row itself survives (its text features are still valid).
          // Non-finite components propagate honestly (NaN/Inf norm,
          // identical in both engines).
          when(expr(wellFormed("embedding")),
            r6(expr(s"sqrt(${ndot("embedding", "embedding")})"))).as("vec_norm"))
    }),

    // Multimodal binary column pipeline: text → opaque bytes → per-
    // partition imperative "decode" (mapPartitions — the Scala analog of
    // mapInPandas batch UDFs). The decode itself is a deterministic stub
    // (real image/audio libs are out of scope); the distributed plumbing —
    // binary column, typed Dataset, per-partition batching, schema of the
    // feature output — is real and oracle-checked byte-for-byte.
    // Fixed-size chunking of opaque binary payloads — the split step
    // every audio/video ingest does before parallel decode (one task per
    // chunk at 100 TB). Pure map-side generate+explode: no shuffle, and
    // chunk rows carry (offset, length) metadata only, never payload
    // copies.
    "multimodal_chunks" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), length(encode(col("text"), "UTF-8")).as("byte_len"))
        // Empty payload → ZERO chunks. Without the filter, sequence(0, -1,
        // 64) THROWS on Spark (illegal boundaries with a positive step) —
        // one empty document killed the whole job in the degenerate-corpus
        // run; the oracle's generate_series(0, -1, 64) is an empty series,
        // so dropping the row is also the cross-engine-consistent shape.
        .filter(col("byte_len") > 0)
        .select(col("doc_id"), col("byte_len"),
          explode(expr("sequence(0, byte_len - 1, 64)")).as("off"))
        .select(col("doc_id"), col("off"),
          least(lit(64), col("byte_len") - col("off")).as("chunk_len"))
    }),

    "multimodal_binary" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          // STUB decode: byte stats stand in for pixel/sample decoding.
          val byteSum = bytes.foldLeft(0L)((a, b) => a + (b & 0xff))
          val headHex = bytes.take(4).map(b => f"${b & 0xff}%02x").mkString
          // "Frame sample": every 16th byte — the frame-subsampling shape
          // (decode → pick frames) on an opaque byte payload.
          val frames = bytes.indices.by(16).map(i => f"${bytes(i) & 0xff}%02x").mkString
          // "Resize": fixed-width feature — pad-or-truncate to 8 bytes,
          // the fixed-shape-tensor contract every batch consumer needs.
          val feat8 = (bytes ++ Array.fill(8)(' '.toByte)).take(8)
            .map(b => f"${b & 0xff}%02x").mkString
          (id, bytes.length, byteSum, headHex, frames, feat8)
        })
        .toDF("doc_id", "byte_len", "byte_sum", "head_hex", "frame_sample", "feat8")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "sim_topk_neighbors" -> s"""
      WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, label,
             ${duckCosineSafe("embedding", "p")} AS cos
      FROM embeddings, probe
      WHERE vec_id <> 0
      ORDER BY cos DESC, vec_id LIMIT 10
    """,

    "expr_cosine" -> s"""
      WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
      SELECT vec_id,
             CASE WHEN ${duckWellFormed("embedding")} AND ${duckWellFormed("p")}
                  THEN round(${duckDot("embedding", "p")}, 6) END AS dot,
             ${duckCosineSafe("embedding", "p")} AS cos
      FROM embeddings, probe
      WHERE vec_id > 0 AND vec_id <= 100
      ORDER BY vec_id
    """,

    "sim_ann_lsh" -> s"""
      WITH b AS (
        SELECT vec_id, label, embedding, ${duckBucket("embedding")} AS bucket
        FROM embeddings WHERE ${duckUsableVec("embedding")}),
      probe AS (SELECT embedding AS p, bucket AS pb FROM b WHERE vec_id = 0)
      SELECT vec_id, label, bucket,
             round(${duckCosineN("embedding", "p")}, 6) AS cos
      FROM b, probe
      WHERE bucket = pb AND vec_id <> 0
      ORDER BY cos DESC, vec_id LIMIT 5
    """,

    "sim_ann_multiprobe" -> s"""
      WITH b AS (
        SELECT vec_id, label, embedding, ${duckBucket("embedding")} AS bucket
        FROM embeddings WHERE ${duckUsableVec("embedding")}),
      probe AS (SELECT embedding AS p, bucket AS pb FROM b WHERE vec_id = 0)
      SELECT vec_id, label, bucket,
             round(${duckCosineN("embedding", "p")}, 6) AS cos
      FROM b, probe
      WHERE bit_count(xor(bucket, pb)) <= 1 AND vec_id <> 0
      ORDER BY cos DESC, vec_id LIMIT 10
    """,

    "sim_ivf_topk" -> duckIvf(nprobe = 1),

    "sim_ivf_nprobe2" -> duckIvf(nprobe = 2),

    "sim_range_search" -> s"""
      WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, label,
             ${duckCosineSafe("embedding", "p")} AS cos
      FROM embeddings, probe
      WHERE vec_id <> 0 AND ${duckCosineSafe("embedding", "p")} >= 0.2
      ORDER BY vec_id
    """,

    // Mirrors the Spark plan stage for stage: same trained-quantizer SQL
    // as duckIvf (duckTrained's sample → seed → Lloyd → assign chain),
    // same r6-rounded cosine assignment with cell-asc tie-break, kNN
    // within assigned cell.
    "dedup_embed_cosine" -> s"""
      WITH $duckTrained,
      cellofn AS (
        SELECT n.vec_id, n.embedding, n.norm, cellof.cell
        FROM norms n JOIN cellof ON n.vec_id = cellof.vec_id),
      pairs AS (
        -- + 0.0 normalizes a negative-zero cosine (reachable with -0.0
        -- components): the Spark side's packed-argmax decode can only
        -- emit +0.0 at scaled 0, and ORDERING is unaffected because
        -- both engines compare -0.0 = 0.0 as equal.
        SELECT a.vec_id AS vec_id, a.cell AS cell, b.vec_id AS nn_id,
               round(${duckDot("a.embedding", "b.embedding")} / nullif(a.norm * b.norm, 0), 6) + 0.0 AS cos
        FROM cellofn a JOIN cellofn b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, nn_id) AS rn
        FROM pairs)
      SELECT vec_id, cell, nn_id, cos FROM ranked WHERE rn = 1
      ORDER BY vec_id
    """,

    "udaf_vector_avg" -> s"""
      WITH u AS (
        SELECT * FROM embeddings WHERE ${duckUsableVec("embedding")}),
      per_dim AS (
        SELECT label, i, avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS m
        FROM u, range(1, 65) t(i)
        GROUP BY label, i)
      SELECT label,
             (SELECT count(*) FROM u e WHERE e.label = per_dim.label) AS n_vecs,
             CAST(i AS INT) AS dim, round(m, 6) AS mean_val
      FROM per_dim
      ORDER BY label, dim
    """,

    "multimodal_join" -> s"""
      SELECT doc_id, lang, label,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             CASE WHEN ${duckWellFormed("embedding")}
                  THEN round(sqrt(${duckDot("embedding", "embedding")}), 6)
             END AS vec_norm
      FROM documents JOIN embeddings ON doc_id = vec_id
      WHERE lang IN ('en', 'de') AND label < 5
      ORDER BY doc_id
    """,

    "multimodal_chunks" -> """
      SELECT doc_id, CAST(off AS INT) AS off,
             CAST(least(64, octet_length(encode(text)) - off) AS INT) AS chunk_len
      FROM (SELECT doc_id, text,
                   unnest(generate_series(0, octet_length(encode(text)) - 1, 64)) AS off
            FROM documents)
      ORDER BY doc_id, off
    """,

    // True BYTE arithmetic (round 10): the Spark side decodes UTF-8
    // BYTES, and the old per-character ascii() oracle matched only on
    // ASCII (é is two bytes but one code point). DuckDB has no BLOB
    // substring, so every per-byte op runs over the lowercase hex
    // encoding of the UTF-8 payload: byte i = nibble arithmetic on hex
    // chars 2i−1, 2i; frame k = the hex pair at offset 32k+1; feat8 =
    // first 16 hex chars of payload ++ eight 0x20 pad bytes.
    "multimodal_binary" -> """
      WITH b AS (
        SELECT doc_id,
               lower(hex(encode(text))) AS h,
               octet_length(encode(text)) AS olen
        FROM documents)
      SELECT doc_id,
             CAST(olen AS INT) AS byte_len,
             CAST(coalesce(list_sum(list_transform(range(1, olen + 1),
                  i -> CAST(16 * (strpos('0123456789abcdef', substring(h, 2*i - 1, 1)) - 1)
                       + (strpos('0123456789abcdef', substring(h, 2*i, 1)) - 1) AS BIGINT))),
                  0) AS BIGINT) AS byte_sum,
             substring(h, 1, 8) AS head_hex,
             coalesce(array_to_string(list_transform(
                  range(0, CAST(ceil(olen / 16.0) AS BIGINT)),
                  k -> substring(h, 32*k + 1, 2)), ''), '') AS frame_sample,
             substring(h || '2020202020202020', 1, 16) AS feat8
      FROM b ORDER BY doc_id
    """
  )
}
