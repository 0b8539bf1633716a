package graft.operators

import graft.{QueryModule, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite over `documents` (BASELINE.json mandate: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard — the training-data-pipeline ops).
  *
  * Cross-engine determinism rule (SURVEY.md §7.4#2): NEVER use engine hash
  * builtins (Spark Murmur3 ≠ DuckDB xxhash). Every hash here is explicit
  * integer arithmetic, computed with identical 64-bit ops in both engines:
  * - token code   = fold over chars: (acc·31 + ascii) mod p, p = 2^31−1;
  * - shingle code = composition of 3 token codes:
  *                  ((c₁·1009 + c₂) mod p · 1009 + c₃) mod p
  *   (chars hashed ONCE per token, then shingles are O(1) arithmetic —
  *   not a re-hash of the concatenated string; ~3× less work, and
  *   products stay < 2^42, far from BIGINT overflow);
  * - MinHash      = affine permutations (aᵢ·x + bᵢ) mod p, fixed aᵢ,bᵢ.
  *
  * Scale notes (100 TB):
  * - exact dedup is a single hash-shuffle on sha2(text) — never a sort;
  * - all signature computation (token codes, MinHash sigs, SimHash bit
  *   votes) is per-row projection work — ZERO shuffles until the
  *   candidate join, which shuffles on SHORT keys (shingle code / band
  *   key), never on document text; document pairs materialize only for
  *   candidates, never the n² cross join;
  * - common-shingle skew: at real scale add a document-frequency cap on
  *   shingles (drop shingles appearing in >0.1% of docs) before the
  *   self-join — omitted here because fixtures are uniform word soup;
  * - SimHash band recall is exact by pigeonhole: 62 bits in 4 bands ⇒ any
  *   pair with hamming ≤ 3 shares a band, so filtering candidates to ≤ 2
  *   loses nothing — the LSH is a pure pruning step, not an approximation.
  */
object Dedup extends QueryModule {

  /** Pregel-style connected components over an undirected edge list
    * (`src`, `dst` — both directions present). Min-label propagation
    * with POINTER JUMPING: each round every vertex takes the min
    * component id among itself and its neighbors, then additionally
    * comp := min(comp, comp[comp]). Neighbor-min alone advances the min
    * label ONE hop per round (rounds = eccentricity from the
    * component's min id — a diameter-29 near-dup chain blew the loud
    * 15-round bound, r12 docs_chain family); the jump doubles the
    * label's reach each round → O(log diameter) rounds, so the same
    * bound covers eccentricity ~2^14. comp values are always vertex ids
    * (mins over ids), so the lookup is an equi-join back on labels; the
    * left join + coalesce is only a guard. Each round shuffles id pairs
    * only; eager localCheckpoint truncates lineage per round (an
    * untruncated plan doubles per round — by round ~8 even stringifying
    * it OOMs; at cluster scale: checkpoint to reliable storage).
    * Returns (id, comp) with comp = the component's min member id.
    * Property-tested against a union-find reference (GenPropertySpec).
    */
  private[graft] def minLabelComponents(und: DataFrame): DataFrame = {
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint(true)
    // Convergence scalar: component ids only ever DECREASE under
    // min-propagation, so Σcomp strictly decreases until the fixpoint —
    // one cheap aggregate per round instead of a change-detection join.
    // sum() over an EMPTY vertex set is SQL null → Option, not getLong
    // (an already-clean corpus has no near-dup edges at all).
    def compSum(): Option[Long] =
      Option(labels.agg(sum(col("comp"))).first().getAs[java.lang.Long](0))
        .map(_.longValue())
    var oldSum = Option(Long.MaxValue)
    var newSum = compSum()
    var round = 0
    while (newSum.isDefined && newSum != oldSum && round < 15) {
      val prop = und.join(labels, und("dst") === labels("id"))
        .select(und("src").as("id"), col("comp"))
      val nbrMin = labels.union(prop)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
      val jump = nbrMin.select(col("id").as("jid"), col("comp").as("jcomp"))
      // MERGE pins the jump join's strategy, as a shuffle join that holds
      // at any scale. Unpinned, it is planned as a sort-merge join that
      // adaptive execution turns into a broadcast join at run time, and
      // the jobs that takes vary from run to run of one input (5 or 6 in
      // round 1 at sf0.1); pinned, every round runs a fixed job count.
      labels = nbrMin.join(jump.hint("merge"), col("comp") === col("jid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("jcomp"), col("comp")))
            .as("comp"))
        .localCheckpoint(true)
      oldSum = newSum
      newSum = compSum()
      round += 1
    }
    // A silent non-converged exit would report one real cluster as two
    // components (and disagree with the oracle's transitive closure) —
    // fail loudly instead.
    require(newSum == oldSum || newSum.isEmpty,
      s"minLabelComponents did not converge within $round rounds")
    labels
  }
  import T._

  private val P = 2147483647L // 2^31 − 1

  // MinHash affine permutation constants (fixed, embedded in BOTH dialects).
  private val K = 16
  private val BANDS = 4
  private val ROWS = K / BANDS
  private val as: Seq[Long] = (1 to K).map(i => (1103515245L * i + 12345L) % P)
  private val bs: Seq[Long] = (1 to K).map(i => (2654435761L * i + 1013904223L) % P)
  // The minhash signature pass of the dedup_near_minhash key.
  //
  // r18 OPTIMIZATION (guide step 2 / §4.1): the 16 affine-min signatures
  // were `array_min(transform(codes, x -> (a*x+b) % P))` — interpreted
  // Catalyst HOF lambdas, 16 of them per row, the key's own documented
  // "expensive part". Now ONE JIT'd mapPartitions fold computes all 16
  // minima in a single pass over each codes array (the codesDS /
  // text_lang_id idiom). Arithmetic is identical: codes ∈ [0, P),
  // a,b < P < 2³¹ ⇒ a·x < 2⁶² (no Long overflow), `%` of non-negatives
  // is non-negative, min over a non-empty array (size>0 filtered
  // upstream) — same Longs, same band keys, same candidates.
  // `minhashSigExprsSpec` keeps the expression form as the testable
  // specification: DedupParitySpec pins JIT ≡ HOF on random corpora.
  private[graft] def minhashSigExprsSpec =
    (0 until K).map { i =>
      expr(s"array_min(transform(codes, x -> (${as(i)} * x + ${bs(i)}) % $P))").as(s"sig$i")
    }
  /** (doc_id, codes, sigs[16]) — empty-codes docs filtered out. */
  private[graft] def minhashSigsDS(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pLoc = P
    val aArr = as.toArray
    val bArr = bs.toArray
    docs.select(col("doc_id"), col("codes"))
      .filter(size(col("codes")) > 0)
      .as[(Long, Array[Long])]
      .mapPartitions(_.map { case (id, codes) =>
        val sigs = new Array[Long](aArr.length)
        var i = 0
        while (i < aArr.length) {
          val a = aArr(i); val b = bArr(i)
          var m = Long.MaxValue
          var j = 0
          while (j < codes.length) {
            val v = (a * codes(j) + b) % pLoc
            if (v < m) m = v
            j += 1
          }
          sigs(i) = m
          i += 1
        }
        (id, codes, sigs)
      }).toDF("doc_id", "codes", "sigs")
  }
  private def minhashBandExprs =
    (0 until BANDS).map { j =>
      val parts = (0 until ROWS)
        .map(r => s"CAST(element_at(sigs, ${j * ROWS + r + 1}) AS STRING)")
      expr(s"named_struct('band', $j, 'key', concat_ws(':', ${parts.mkString(", ")}))")
    }

  // ---- DuckDB oracle fragments (reference formulas) ------------------------
  private val duckTokenCodes: String =
    s"list_transform(string_split(text, ' '), t -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))), (a, c) -> (a * 31 + c) % $P))"
  private val duckShingles: String = {
    val s3 = s"((tc[i] * 1009 + tc[i + 1]) % $P * 1009 + tc[i + 2]) % $P"
    s"list_distinct(list_transform(range(1, greatest(len(tc) - 2, 0) + 1), i -> $s3))"
  }
  private val duckSimhash62: String = {
    val lo = (0 until 31).map { b =>
      s"(CASE WHEN list_sum(list_transform(tca, c -> CASE WHEN ((c >> $b) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)"
    }
    val hi = (0 until 31).map { b =>
      s"(CASE WHEN list_sum(list_transform(tcb, c -> CASE WHEN ((c >> $b) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << ${b + 31}) ELSE CAST(0 AS BIGINT) END)"
    }
    (lo ++ hi).mkString(" + ")
  }

  // ---- Spark-side signature computation ------------------------------------
  // Typed mapPartitions, NOT SQL higher-order functions. Two reasons,
  // both measured at sf0.1:
  // 1. Catalyst HOF lambdas are interpreted (no codegen) — the char fold
  //   over every token costs ~10× a JIT'd Scala loop;
  // 2. CollapseProject inlines a token-code array alias into every
  //   consumer, recomputing the whole array per shingle access (observed
  //   8× blowup). mapPartitions output is a real attribute — a hard
  //   barrier the optimizer cannot inline through.
  // The arithmetic is identical to the DuckDB fragments above for ALL of
  // unicode: T.cpFold iterates code points exactly as the fragments'
  // string_split(s,'') + ascii(c) does (round 10 — previously a UTF-16
  // unit fold, exact only on the BMP); oracle parity is exact.

  /** (doc_id, token codes, distinct 3-gram shingle codes). No
    * layout-decoupling repartition before the fold, by measurement: on
    * the single-row-group 2026-08-13 fixtures a pre-fold exchange moved
    * isolated 2-JVM medians 1.75→1.89 s (dedup_ngram_jaccard) — the
    * JIT'd fold is cheaper than the exchange it would parallelize, and
    * the candidate joins re-shuffle on short codes right after anyway
    * (see the layout note in Tables.scala).
    */
  private def codesDS(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val toks = text.split(" ", -1) // -1: keep trailing empties (Spark/DuckDB split semantics)
        val tc = toks.map(T.cpFold(_, 31, P))
        val n = tc.length
        val sh = if (n >= 3) {
          val arr = new Array[Long](n - 2)
          var i = 0
          while (i < n - 2) {
            arr(i) = ((tc(i) * 1009 + tc(i + 1)) % P * 1009 + tc(i + 2)) % P
            i += 1
          }
          arr.distinct.sorted // ascending: prefix filtering slices the smallest codes
        } else Array.empty[Long]
        (id, tc, sh)
      }).toDF("doc_id", "tc", "codes")
  }

  /** (doc_id, 62-bit simhash) — frequency-weighted bit votes. Bits 0..30
    * come from the base-31 token code, bits 31..61 from an independent
    * base-37 code: 31-bit codes alone leave the upper half of a 64-bit
    * signature empty, and 32-bit signatures measurably cluster on the
    * fixture vocabulary (band buckets skew, candidate join blows up).
    */
  private def simhashDS(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val votes = new Array[Int](62)
        text.split(" ", -1).foreach { t =>
          val ca = T.cpFold(t, 31, P)
          val cb = T.cpFold(t, 37, P)
          var b = 0
          while (b < 31) {
            if (((ca >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            if (((cb >> b) & 1L) == 1L) votes(b + 31) += 1 else votes(b + 31) -= 1
            b += 1
          }
        }
        var sig = 0L
        var b = 0
        while (b < 62) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
        (id, sig)
      }).toDF("doc_id", "simhash")
  }

  /** `|a ∩ b|` of two strictly ascending, NULL-free `array<bigint>`
    * columns; equal to `size(array_intersect(a, b))` on that input, and an
    * error on any other (see [[graft.functions.SortedIntersect]]).
    */
  private[graft] def sortedIntersectSize(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.SortedIntersectSize(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Prefix-filtered exact-Jaccard pairs over (doc_id, codes) with codes
    * STRICTLY ascending (no duplicate, no NULL; enforced by the confirm
    * step) — the all-pairs similarity join of Bayardo/Ma/
    * Srikant (WWW'07) and Chaudhuri's SSJoin, re-expressed as three
    * DataFrame joins.
    *
    * Index only the (n − ⌈t·n⌉ + 1) SMALLEST codes of each doc: for any
    * pair with J ≥ t, the smallest element of A∩B provably sits in both
    * prefixes (if it didn't, the overlap would fit in the ⌈t·n⌉−1 suffix
    * slots — too few), so the prefix equi-join loses no true pair. A
    * length filter (den·min ≥ num·max, integer arithmetic) prunes
    * further; exact Jaccard over the full sorted arrays then confirms.
    * Versus indexing every shingle this cuts candidate pairs ~14× on
    * the current fixtures (sf0.1: 1.13 M → 80.6 k pre-confirm pairs,
    * measured r13; the ratio holds at ×4 and ×16 scale, where both
    * counts grow linearly on sharded corpora) — and candidate
    * count, not doc count, is what explodes at 100 TB.
    *
    * t = num/den as integers: ⌈t·n⌉ computed as (num·n + den−1) div den.
    * The double 0.8·n is NOT safe here — 0.8 is inexact binary, and an
    * over-rounded ceil shortens the prefix into false negatives.
    *
    * The prune threshold t is deliberately RELAXED below the semantic
    * gate: callers filter on round(J,6) ≥ 0.8, which admits exact J down
    * to 0.8 − 5e-7, so pruning at exactly 4/5 could drop a pair whose
    * exact J ∈ [0.7999995, 0.8) yet rounds to 0.8 (needs |A∪B| ~ 1e6
    * shingles — unreachable in fixtures, real at 100 TB). Callers pass
    * 799999/1000000: prefix length and length filter stay sound for
    * every pair the rounded gate can accept. All arithmetic is forced
    * to 64-bit (nsh·10⁶ overflows INT at nsh ≥ 2148).
    */
  /** The prefix-filtered candidate equi-join alone — `d` is the cached
    * (doc_id, codes sorted asc, nsh) table; output = distinct (a_id <
    * b_id) candidate pairs, pre-confirm, for [[prefixJaccardPairs]].
    */
  private def prefixCandStage(d: DataFrame, num: Int, den: Int): DataFrame = {
    val pref = d.select(col("doc_id"), col("nsh"),
      explode(slice(col("codes"), lit(1),
        (col("nsh") - expr(s"(${num}L * nsh + ${den - 1}) div ${den}L") + 1)
          .cast("int"))).as("sh"))
    pref.as("a").join(pref.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id")
          && least(col("a.nsh"), col("b.nsh")).cast("long") * den
             >= greatest(col("a.nsh"), col("b.nsh")).cast("long") * num)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  private[graft] def prefixJaccardPairs(docs: DataFrame, num: Int, den: Int): DataFrame = {
    // The two prefix-join sides are identical canonicalized subtrees, so
    // ReuseExchange computes that shuffle once; the confirm-join sides
    // broadcast at fixture scale. (Measured twice: on multi-row-group
    // fixtures, forcing all four arms onto one repartition(doc_id)
    // exchange changed nothing; on the single-row-group 2026-08-13
    // fixtures, a repartition before the signature fold REGRESSED
    // isolated medians 1.75→1.89 s — don't add an exchange here. The persist
    // below caches at the scan's partitioning; the candidate joins
    // re-shuffle on short codes immediately after, which is where the
    // parallelism recovers.)
    // MATERIALIZE the input once (r9): `docs` is the JIT'd mapPartitions
    // signature pass, and this function fans it into four consumer arms
    // (prefix a/b + confirm a/b); broadcast builds don't participate in
    // ReuseExchange, so without compute-once caching the char-fold over
    // every document re-executes per arm. persist(), NOT localCheckpoint:
    // the CacheManager substitutes the InMemoryRelation into every
    // logically-identical subtree — including broadcast builds AND
    // repeat invocations over the same corpus (localCheckpoint mints a
    // fresh LogicalRDD per call, which broke dedup_cluster_cc's
    // documented warm-rerun cache reuse: measured +20% there). At
    // cluster scale the equivalent is persisting the signature table
    // (or writing it to a stage) before the similarity join — you never
    // want to recompute signatures per join arm at 100 TB either.
    val d = docs.filter(size(col("codes")) > 0)
      .select(col("doc_id"), col("codes"), size(col("codes")).as("nsh"))
      .persist()
    val cand = prefixCandStage(d, num, den)
    // Confirm on full sorted arrays. At fixture scale both sides
    // auto-broadcast; at 100 TB these become doc_id shuffle joins whose
    // payload is O(candidates) arrays — candidates ≈ output size here.
    // The confirm step needs `codes` strictly ascending with no NULL
    // (codesDS emits `distinct.sorted`, and array_except keeps that
    // order): sortedIntersectSize counts the overlap in one merge pass
    // and fails the query on any other input.
    cand
      .join(d.select(col("doc_id").as("a_id"), col("codes").as("ca"),
        col("nsh").as("na")), "a_id")
      .join(d.select(col("doc_id").as("b_id"), col("codes").as("cb"),
        col("nsh").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        sortedIntersectSize(col("ca"), col("cb")).as("inter"),
        col("na"), col("nb"))
      .select(col("a_id"), col("b_id"),
        r6(col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
  }

  /** All (a_id < b_id, jaccard) candidate pairs for the SEMANTIC gate
    * t = 0.8 (callers filter on round(J,6) >= 0.8) — the shared
    * candidate-pair stage of `dedup_ngram_jaccard` and `dedup_cluster_cc`.
    * The num/den passed below is the deliberately RELAXED prune threshold
    * 799999/1000000, NOT the gate: see prefixJaccardPairs for why pruning
    * at exactly 4/5 could drop a pair the rounded gate accepts.
    */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    prefixJaccardPairs(codesDS(s, d).select(col("doc_id"), col("codes")),
      799999, 1000000)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: one shuffle on the content hash; deterministic survivor
    // (min doc_id). Output = duplicate groups only.
    "dedup_exact" -> ((s, d) => {
      documents(s, d)
        .groupBy(sha2(col("text"), 256).as("text_sha"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
    }),

    // N-gram Jaccard near-dup: prefix-filtered all-pairs join (see
    // prefixJaccardPairs) → exact Jaccard ≥ 0.8. Shuffles on the 8-byte
    // shingle code, prefix slices only.
    "dedup_ngram_jaccard" -> ((s, d) =>
      jaccardPairs(s, d).filter(col("jaccard") >= 0.8)),

    // MinHash + banded LSH: 16 affine permutations, 4 bands × 4 rows.
    // Candidates share ≥1 band; exact Jaccard (on the same shingle-code
    // sets) confirms ≥ 0.9. The arithmetic is literal-identical in the
    // oracle SQL, so results hash-match across engines.
    "dedup_near_minhash" -> ((s, d) => {
      // Cache AFTER the 16 sig values but BEFORE the band explode: the
      // self-join consumes this subtree twice — without compute-once
      // caching both sides recompute every signature (persist, not
      // localCheckpoint: see prefixJaccardPairs note). Signatures are
      // the JIT'd minhashSigsDS fold since r18 (was 16 interpreted HOF
      // transforms — see the helper's optimization note).
      val sigs = minhashSigsDS(codesDS(s, d))
        .persist()
        .select(col("doc_id"), col("codes"), explode(array(minhashBandExprs: _*)).as("b"))
        .select(col("doc_id"), col("codes"), col("b.band").as("band"), col("b.key").as("key"))
      // Jaccard is computed on the JOIN OUTPUT (map-side, before any pair
      // dedup) so the dedup shuffle carries (id, id, double) — never the
      // shingle-code arrays; duplicate banded copies agree on the value.
      sigs.as("a").join(sigs.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          sortedIntersectSize(col("a.codes"), col("b.codes")).as("inter"),
          size(col("a.codes")).as("na"), size(col("b.codes")).as("nb"))
        .select(col("a_id"), col("b_id"),
          r6(col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= 0.9)
        .dropDuplicates("a_id", "b_id")
    }),

    // Normalized exact dedup: canonicalize (lowercase, collapse runs of
    // whitespace, trim) BEFORE hashing — catches trivially-reformatted
    // copies that byte-exact dedup misses; still one hash shuffle.
    // The whitespace class is spelled out rather than written `\s`
    // because the engines' `\s` genuinely differ on ONE char: Java
    // includes vertical tab \x0B, RE2 (DuckDB) does not — a silent
    // canon-hash divergence on any document containing a VT (measured
    // r12). The explicit class is exactly Java's `\s`, so the product
    // semantics are unchanged and both engines now agree on all input.
    "dedup_exact_normalized" -> ((s, d) => {
      val canon = trim(regexp_replace(lower(col("text")), "[ \\t\\n\\x0B\\f\\r]+", " "))
      documents(s, d)
        .groupBy(sha2(canon, 256).as("canon_sha"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
    }),

    // Survivor selection: within each exact-dup group keep the "best"
    // copy (longest text, ties to the smallest id) — the keep-best policy
    // every real pipeline wants instead of keep-first. argmax via
    // max_by on a (quality, -id) struct; one hash shuffle on the content
    // hash, same as dedup_exact.
    "dedup_keep_best" -> ((s, d) => {
      documents(s, d)
        .groupBy(sha2(col("text"), 256).as("text_sha"))
        .agg(
          expr("max_by(doc_id, struct(n_chars, -doc_id))").as("keep_id"),
          count(lit(1)).as("n_copies"),
          max(col("n_chars")).as("max_chars"))
        .filter(col("n_copies") > 1)
    }),

    // Document-frequency-capped n-gram Jaccard: drop shingles present in
    // > 5% of the corpus BEFORE the candidate self-join. This is the
    // 100 TB skew guard — a stop-shingle shared by millions of docs turns
    // the inverted-index join quadratic in that bucket; capping bounds
    // every bucket at cap² pairs. Jaccard is then computed over the KEPT
    // shingle sets (the oracle applies the identical cap).
    "dedup_ngram_capped" -> ((s, d) => {
      // Cached once: consumed by the document-frequency count AND the
      // capped-docs projection (persist: see prefixJaccardPairs note).
      val docs = codesDS(s, d).persist()
      val sh = docs.select(col("doc_id"), explode(col("codes")).as("sh"))
      val cap = documents(s, d)
        .agg(ceil(count(lit(1)) * 0.05).cast("long").as("cap"))
      // The capped-out shingles are a PROVABLY tiny set (Σdf bounds the
      // count of shingles with df > 5%·N at ~20·avg-shingles), so the
      // cap materializes as a broadcast stop-list: one partial-combined
      // groupBy(sh) for document frequencies, filter df > cap, fold to a
      // single array row, and array_except it out of each doc's sorted
      // codes map-side. No window sort-shuffle over the full shingle
      // stream and no per-doc array rebuild shuffle — the two stages
      // that dominated this key (and that grow with corpus size rather
      // than stop-list size at 100 TB).
      val stopArr = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(cap))
        .filter(col("df") > col("cap"))
        .agg(sort_array(collect_list(col("sh"))).as("stop"))
      val cappedDocs = docs.crossJoin(broadcast(stopArr))
        .select(col("doc_id"), array_except(col("codes"), col("stop")).as("codes"))
      prefixJaccardPairs(cappedDocs, 4, 5).filter(col("jaccard") >= 0.8)
    }),

    // Train/eval decontamination — the cross-corpus overlap check an LLM
    // training pipeline runs before training: TRAIN docs (sources
    // src0–src4) sharing ≥ 10 distinct 3-gram shingles with ANY eval doc
    // are flagged with their absolute and fractional overlap. Same
    // arithmetic shingle codes as the dedup family; the join shuffles
    // 8-byte codes, never text. At 100 TB the eval side (benchmark
    // suites) is tiny relative to the training corpus — its distinct
    // shingle set BROADCASTS and the train side streams map-side, which
    // is exactly what Spark plans here (eval set under the broadcast
    // threshold); the groupBy(train_id) is the only fact-sized shuffle.
    "dedup_decontaminate" -> ((s, d) => {
      val srcs = Seq("src0", "src1", "src2", "src3", "src4")
      val lab = documents(s, d).select(col("doc_id"), col("source"))
      // Cached once: the train and eval arms would otherwise each re-run
      // the signature pass (persist: see prefixJaccardPairs note).
      val docs = codesDS(s, d).select(col("doc_id"), col("codes"))
        .join(lab, "doc_id")
        .persist()
      val trainSh = docs.filter(col("source").isin(srcs: _*))
        .select(col("doc_id").as("train_id"), size(col("codes")).as("nsh"),
          explode(col("codes")).as("sh"))
      val evalSh = docs.filter(!col("source").isin(srcs: _*))
        .select(explode(col("codes")).as("sh")).distinct()
      trainSh.join(evalSh, "sh")
        .groupBy(col("train_id"), col("nsh"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 10)
        .select(col("train_id"), col("n_shared"),
          r6(col("n_shared") / col("nsh")).as("contaminated_frac"))
    }),

    // Duplicate-cluster resolution: connected components over the n-gram
    // Jaccard near-dup graph (pairs alone under-report — A~B and B~C must
    // collapse to ONE cluster {A,B,C} with one survivor). Pregel-style
    // min-label propagation with pointer jumping (see
    // minLabelComponents): O(log diameter) rounds, loud 15-round bound
    // covering eccentricity ~2^14. Each round shuffles vertex-id pairs
    // over the PAIR graph only — document text never enters the loop.
    // The driver-side loop scalar is a convergence count, not data (the
    // GraphX/Pregel shape).
    "dedup_cluster_cc" -> ((s, d) => {
      val edges = jaccardPairs(s, d).filter(col("jaccard") >= 0.8)
        .select(col("a_id"), col("b_id"))
        .persist()
      val und = edges.union(edges.select(col("b_id"), col("a_id")))
        .toDF("src", "dst").persist()
      // Each round references `labels` twice (self ∪ propagated), so an
      // untruncated logical plan DOUBLES per round — by round ~8 even
      // stringifying it OOMs. Eager localCheckpoint truncates lineage to
      // the materialized blocks every round, keeping the plan O(1) in
      // rounds (at cluster scale: checkpoint to reliable storage).
      val labels = minLabelComponents(und)
      // The eager checkpoint makes final `labels` lineage-free, so the
      // pair-graph caches are unreachable from the returned plan — but
      // they stay registered DELIBERATELY: the CacheManager dedupes
      // logically-identical subplans, so a repeat invocation (or any
      // other near-dup query over the same corpus sharing the candidate
      // stage) reuses them instead of recomputing the candidate pipeline
      // (measured ~2× on warm re-runs). The residue is id pairs only, no
      // text; reclaim with spark.catalog.clearCache() when done with a
      // corpus. Intermediate rounds' checkpoint blocks (two long columns
      // each) are released by the ContextCleaner once GC'd.
      val sized = labels.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
      labels.join(sized, "comp")
        .select(col("id").as("doc_id"), col("comp").as("component"),
          col("cluster_size"))
    }),

    // SimHash (62-bit): frequency-weighted bit votes folded map-side;
    // banded join (4 bands × 16 bits) prunes pairs; exact hamming ≤ 2.
    "dedup_simhash" -> ((s, d) =>
      // Cached once: the banded self-join consumes the signature subtree
      // twice (persist: see prefixJaccardPairs note).
      simhashBandPairs(simhashDS(s, d).persist()))
  )

  /** Banded simhash near-dup pairs over (doc_id, simhash): `bands`
    * disjoint bands of `width` bits key the candidate equi-join; exact
    * `bit_count` hamming ≤ 2 confirms. LOSSLESS by pigeonhole: ≤ 2
    * differing bits occupy at most 2 of ≥ 3 disjoint bands, so every
    * hamming ≤ 2 pair matches at least one band key — the candidate set
    * provably contains every such pair, and the exact filter makes the
    * output EXACTLY that set for ANY admissible geometry
    * (property-tested in GenPropertySpec on random planted-flip corpora
    * across geometries). Factored out (the prefixJaccardPairs pattern)
    * so the guarantee is testable off-fixture.
    *
    * SCALE (measured, session-4b scale probe): besides true near-dups,
    * the banded join carries a chance-collision candidate term of
    * ~`bands`·N²/2^(width+1) — negligible at fixture N, but at N ≈ 2^16
    * docs it dominates (×7.4 step for ×4 rows at 80 k docs with the
    * shipped 4×16 geometry).
    *
    * SIZING RULE — width, not bands, is the scale lever (r12 session-5
    * ×16-corpus measurement, BASELINE.md "round-12 session 5": at 80 k
    * docs, 4×16 = 8.6 s vs 3×20 = 1.4 s — four extra width bits cut the
    * collision term 16×, while adding bands only multiplies it):
    * set `width ≈ log₂N + 4`, which bounds expected chance collisions
    * per band to ~N²/2^(width+1) ≈ N/32, i.e. the candidate join stays
    * LINEAR in N — the same role IvfCells ≈ √N plays for the embedding
    * family's pair term (Similarity.IvfCells scaladoc). Concretely:
    * 10⁶ docs → width 24; 10⁹ docs → width 34 (needs bands ≤ 1 spare —
    * at that point restore the hamming ≤ 2 pigeonhole radius with
    * combination tables, Manku-style block-permuted simhash; the
    * banded-join + exact-confirm structure is unchanged, only the
    * geometry grows). Bands stay at the pigeonhole minimum (radius+1);
    * raising them buys recall radius, never throughput.
    *
    * ×64 CAVEAT (r15, measured — BASELINE.md "round-15 ×64 probe"): the
    * rule's N²/2^(width+1) term assumes INDEPENDENT bits. At 320 k docs
    * the 4×16 banded join measured 596 M candidate rows (≈ N^1.95) and
    * rule-sized 3×20 cut that only 3.5× (169 M, wall 368 → 171 s,
    * confirmed output bit-identical) — ~1000× over the uniform-key
    * expectation, and NOT from duplicate signatures (316 748 distinct
    * of 320 000, max group 4). Natural-text simhash bits are
    * correlated, so effective band-key entropy ≪ nominal width; at
    * cluster scale budget width against MEASURED band-key df (or mix
    * the bit source), not the uniform formula.
    */
  // The shipped geometry: 4 bands × 16 bits, sized for the fixtures by
  // the width rule above; a deployment at another N edits these two
  // constants. The driver key and its oracle read the same values — and
  // because the output is the EXACT hamming ≤ 2 pair set under ANY
  // admissible geometry (the property above), they agree at any setting.
  private[graft] val SimhashBands = 4
  private[graft] val SimhashBandBits = 16
  private[graft] def simhashBandPairs(sig: DataFrame,
                                      bands: Int = SimhashBands,
                                      width: Int = SimhashBandBits)
      : DataFrame = {
    require(bands >= 3,
      s"hamming ≤ 2 recall needs ≥ 3 disjoint bands (pigeonhole), got $bands")
    // ≤ 64 is the real capacity: the signature word is 64 bits with bits
    // 62-63 constant zero (the 62-bit simhash), so a top band spanning
    // them is ADMISSIBLE — exactness is preserved by the hamming ≤ 2
    // confirm filter — but keys on 2 constant bits and loses that much
    // discriminating power (mildly more chance collisions at scale; the
    // shipped 4×16 geometry accepts this, 3×20 avoids it).
    require(width >= 1 && bands * width <= 64,
      s"band geometry must fit the 64-bit signature word: $bands × $width")
    simhashBandedCands(sig, bands, width)
      // Filter BEFORE the pair-dedup: hamming is identical for every
      // banded copy of a pair, and candidates outnumber survivors ~1000×
      // on clustered corpora — dedup only what passed.
      .filter(col("hamming") <= 2)
      .dropDuplicates("a_id", "b_id")
  }

  /** The raw banded candidate join `simhashBandPairs` confirms over. */
  private def simhashBandedCands(sig: DataFrame,
                                 bands: Int,
                                 width: Int): DataFrame = {
    val mask = (1L << width) - 1
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(expr(s"sequence(0, ${bands - 1})")).as("band"))
      .withColumn("bkey",
        expr(s"shiftright(simhash, CAST(band * $width AS INT)) & $mask"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
  }

  def oracleSql: Map[String, String] = {
    val sigSelects = (0 until K).map { i =>
      s"list_min(list_transform(codes, x -> (${as(i)} * x + ${bs(i)}) % $P)) AS sig$i"
    }.mkString(",\n               ")
    val bandRows = (0 until BANDS).map { j =>
      val parts = (0 until ROWS).map(r => s"CAST(sig${j * ROWS + r} AS VARCHAR)")
      s"SELECT doc_id, codes, $j AS band, concat_ws(':', ${parts.mkString(", ")}) AS key FROM sigs"
    }.mkString("\n        UNION ALL\n        ")

    Map(
      "dedup_exact" -> """
        SELECT sha256(text) AS text_sha, min(doc_id) AS canonical_id,
               count(*) AS n_copies
        FROM documents GROUP BY 1 HAVING count(*) > 1
        ORDER BY canonical_id
      """,

      "dedup_ngram_jaccard" -> s"""
        WITH tok AS (SELECT doc_id, $duckTokenCodes AS tc FROM documents),
        docs AS (SELECT doc_id, $duckShingles AS codes FROM tok),
        sh AS (SELECT doc_id, len(codes) AS nsh, unnest(codes) AS sh FROM docs),
        pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.nsh AS na, b.nsh AS nb,
                 count(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
        SELECT a_id, b_id, jaccard FROM (
          SELECT a_id, b_id, round(inter / (na + nb - inter), 6) AS jaccard
          FROM pairs)
        WHERE jaccard >= 0.8
        ORDER BY a_id, b_id
      """,

      "dedup_exact_normalized" -> """
        SELECT sha256(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS canon_sha,
               min(doc_id) AS canonical_id, count(*) AS n_copies
        FROM documents
        GROUP BY 1 HAVING count(*) > 1
        ORDER BY canonical_id
      """,

      "dedup_keep_best" -> """
        WITH ranked AS (
          SELECT sha256(text) AS text_sha, doc_id, n_chars,
                 row_number() OVER (PARTITION BY sha256(text)
                   ORDER BY n_chars DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY sha256(text)) AS n_copies,
                 max(n_chars) OVER (PARTITION BY sha256(text)) AS max_chars
          FROM documents)
        SELECT text_sha, doc_id AS keep_id, n_copies, max_chars
        FROM ranked WHERE rn = 1 AND n_copies > 1
        ORDER BY keep_id
      """,

      "dedup_decontaminate" -> s"""
        WITH tok AS (SELECT doc_id, source, $duckTokenCodes AS tc FROM documents),
        docs AS (SELECT doc_id, source, $duckShingles AS codes FROM tok),
        train_sh AS (
          SELECT doc_id AS train_id, len(codes) AS nsh, unnest(codes) AS sh
          FROM docs WHERE source IN ('src0','src1','src2','src3','src4')),
        eval_sh AS (
          SELECT DISTINCT unnest(codes) AS sh FROM docs
          WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        hits AS (
          SELECT train_id, nsh, count(*) AS n_shared
          FROM train_sh JOIN eval_sh USING (sh) GROUP BY train_id, nsh)
        SELECT train_id, n_shared, round(n_shared / nsh, 6) AS contaminated_frac
        FROM hits WHERE n_shared >= 10
        ORDER BY train_id
      """,

      "dedup_ngram_capped" -> s"""
        WITH tok AS (SELECT doc_id, $duckTokenCodes AS tc FROM documents),
        docs AS (SELECT doc_id, $duckShingles AS codes FROM tok),
        sh AS (SELECT doc_id, unnest(codes) AS sh FROM docs),
        df AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
        cap AS (SELECT CAST(ceil(count(*) * 0.05) AS BIGINT) AS cap FROM documents),
        kept AS (
          SELECT sh.doc_id, sh.sh FROM sh JOIN df USING (sh), cap
          WHERE df.df <= cap.cap),
        nsh AS (SELECT doc_id, count(*) AS nsh FROM kept GROUP BY doc_id),
        e AS (SELECT kept.doc_id, kept.sh, nsh.nsh FROM kept JOIN nsh USING (doc_id)),
        prs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.nsh AS na, b.nsh AS nb,
                 count(*) AS inter
          FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
        SELECT a_id, b_id, jaccard FROM (
          SELECT a_id, b_id, round(inter / (na + nb - inter), 6) AS jaccard
          FROM prs)
        WHERE jaccard >= 0.8
        ORDER BY a_id, b_id
      """,

      // Transitive closure via recursive CTE (tiny graphs: near-dup
      // clusters), then component = min reachable id — semantically the
      // fixpoint the Spark label propagation converges to.
      "dedup_cluster_cc" -> s"""
        WITH RECURSIVE tok AS (SELECT doc_id, $duckTokenCodes AS tc FROM documents),
        docs AS (SELECT doc_id, $duckShingles AS codes FROM tok),
        sh AS (SELECT doc_id, len(codes) AS nsh, unnest(codes) AS sh FROM docs),
        prs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.nsh AS na, b.nsh AS nb,
                 count(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4),
        ed AS (
          SELECT a_id, b_id FROM (
            SELECT a_id, b_id, round(inter / (na + nb - inter), 6) AS jaccard
            FROM prs)
          WHERE jaccard >= 0.8),
        und AS (SELECT a_id AS src, b_id AS dst FROM ed
                UNION SELECT b_id, a_id FROM ed),
        reach(id, r) AS (
          SELECT src, src FROM und
          UNION
          SELECT reach.id, und.dst FROM reach JOIN und ON und.src = reach.r),
        comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
        SELECT doc_id, component,
               count(*) OVER (PARTITION BY component) AS cluster_size
        FROM comp ORDER BY doc_id
      """,

      "dedup_near_minhash" -> s"""
        WITH tok AS (SELECT doc_id, $duckTokenCodes AS tc FROM documents),
        docs AS (SELECT doc_id, $duckShingles AS codes FROM tok),
        ne AS (SELECT * FROM docs WHERE len(codes) > 0),
        sigs AS (
          SELECT doc_id, codes,
               $sigSelects
          FROM ne),
        banded AS (
        $bandRows
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                 a.codes AS ca, b.codes AS cb
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        j AS (
          SELECT a_id, b_id,
                 round(len(list_intersect(ca, cb)) /
                       (len(ca) + len(cb) - len(list_intersect(ca, cb))), 6) AS jaccard
          FROM cand)
        SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.9
        ORDER BY a_id, b_id
      """,

      "dedup_simhash" -> s"""
        WITH tok AS (
          SELECT doc_id,
                 $duckTokenCodes AS tca,
                 ${duckTokenCodes.replace("a * 31 + c", "a * 37 + c")} AS tcb
          FROM documents),
        sig AS (SELECT doc_id, ${duckSimhash62} AS simhash FROM tok),
        banded AS (
          SELECT doc_id, simhash, band,
                 (simhash >> CAST(band * $SimhashBandBits AS INT)) & ${(1L << SimhashBandBits) - 1} AS bkey
          FROM sig, range(0, $SimhashBands) t(band)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
        SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 2
        ORDER BY a_id, b_id
      """
    )
  }
}
