package graft.operators

import graft.{QueryModule, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar function families (SURVEY.md §2.8).
  *
  * The reference's scalar surface is string split/strip/unquote, date parse
  * + day arithmetic, and integer sums (`LogProcessor.py::parse`,
  * `FilePlaycount.py` [UNVERIFIED]); one query key per family gives engine
  * parity without bloating the contract map.
  *
  * All functions here are builtin Catalyst expressions — codegen'd, no
  * UDFs — so every projection stays inside WholeStageCodegen at 100 TB.
  * Dialect notes per key live next to the oracle SQL (DuckDB `log` is
  * log10 → use `ln`; DuckDB `regexp_replace` is first-match → 'g' flag;
  * Spark `dayofweek` is 1-based Sunday vs DuckDB 0-based).
  */
object Functions extends QueryModule {
  import T._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // split_part / regexp / translate / lpad / levenshtein / trim.
    "fn_string" -> ((s, d) => {
      part(s, d).select(
        col("p_partkey"),
        lower(col("p_name")).as("lower_name"),
        expr("split_part(p_type, ' ', 1)").as("type_head"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("devoweled"),
        concat_ws("|", lpad(col("p_brand"), 12, "_"),
          translate(col("p_type"), " ", "_")).as("tag"),
        // Dialect guard (r11, measured on the degenerate part corpus):
        // Spark levenshtein is CODE-POINT based, DuckDB's is BYTE based —
        // 'ıssiz#9' vs 't u' is 7 vs 8. Claim the distance only when both
        // args are pure ASCII (bytes == chars, where the engines agree);
        // the code-point semantics on non-ASCII is pinned in Round3Spec.
        when(octet_length(col("p_brand")) === length(col("p_brand"))
            && octet_length(col("p_type")) === length(col("p_type")),
          levenshtein(col("p_brand"), col("p_type"))).as("lev"),
        length(trim(col("p_name"))).as("name_len"))
    }),

    // Day-granular date arithmetic (the reference's timedelta(days=30)
    // shape); month arithmetic via explicit year*12+month (portable,
    // unlike months_between).
    "fn_date" -> ((s, d) => {
      val od = col("o_orderdate").cast("date")
      orders(s, d).select(
        col("o_orderkey"),
        od.as("od"),
        date_add(od, 30).as("plus30"),
        datediff(lit(java.sql.Date.valueOf("2002-01-01")), od).as("days_to_end"),
        date_trunc("MONTH", col("o_orderdate")).cast("date").as("month_start"),
        last_day(od).as("month_end"),
        (dayofweek(od) - 1).as("dow"),
        ((year(od) - 1995) * 12 + month(od) - 1).as("months_since"),
        // the reference API's compact YYYYMMDD string dates, both ways
        to_date(date_format(od, "yyyyMMdd"), "yyyyMMdd").as("compact_roundtrip"))
    }),

    // Sub-day time arithmetic: hour/minute/second extraction, epoch
    // round-trips, second-granular diffs — the intraday complement of
    // fn_date (the reference is day-granular; engine parity is not).
    //
    // Epoch seconds are FLOOR(µs/10⁶) by contract, computed with exact
    // integer pmod arithmetic (r12 timestamp-extremes find): Spark's
    // unix_timestamp and DuckDB's integer `//` BOTH truncate toward
    // zero (disagreeing with SQL floor on pre-1970 fractional-second
    // timestamps), and DuckDB's double epoch() loses integer precision
    // at year-9999 magnitudes (it answered year 10000). Floor matches
    // Spark's own window()/time-bucketing semantics and gives the
    // secs_into_day ∈ [0, 86399] invariant at every representable
    // timestamp; for ≥1970 inputs (all fixtures) it is identical to
    // the previous unix_timestamp form.
    "fn_time" -> ((s, d) => {
      events(s, d)
        .withColumn("_us", expr("unix_micros(ts)"))
        .withColumn("_dus", expr("unix_micros(date_trunc('DAY', ts))"))
        .withColumn("epoch_s",
          expr("(_us - pmod(_us, 1000000)) div 1000000"))
        .select(
          col("event_id"),
          hour(col("ts")).as("h"),
          minute(col("ts")).as("m"),
          second(col("ts")).as("sec"),
          col("epoch_s"),
          timestamp_seconds(col("epoch_s")).as("epoch_roundtrip"),
          (col("epoch_s")
            - expr("(_dus - pmod(_dus, 1000000)) div 1000000")).as("secs_into_day"),
          (col("ts") + expr("INTERVAL 90 MINUTE")).as("plus90m"))
    }),

    // Dirty-domain contract (r12), same shape as fn_trig's:
    // - sqrt: Spark NaN on negatives, DuckDB throws → negatives NULL on
    //   both sides (NaN stays NaN: sqrt(NaN) = NaN in both).
    // - ln: Spark already answers NULL on ≤ 0 where DuckDB throws — the
    //   ORACLE mirrors Spark's domain with a CASE; product unchanged.
    // - floor/ceil: Spark's double→long saturates SILENTLY outside long
    //   range (floor(1e300) = Long.Max, floor(NaN) = 0 — the
    //   agg_histogram class) where DuckDB's BIGINT cast throws → both
    //   sides NULL outside ±9.2e18 (conservative in-long-range bound;
    //   NaN/±Inf fail BETWEEN in both engines).
    // - round/abs/greatest/least: total and identical in both engines on
    //   every dirty class (NaN is greatest, least skips it) — bare.
    "fn_math" -> ((s, d) => {
      val price = col("l_extendedprice")
      val inLong = price.between(-9.2e18, 9.2e18)
      lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        // + 0.0 normalizes the sign of zero (IEEE identity elsewhere,
        // NaN/Inf included): Spark's BigDecimal HALF_UP round drops
        // -0.0's sign where DuckDB's std::round keeps it — the r3
        // bit-sensitive-hash class, measured on round(-0.04, 1).
        (round(price, 1) + 0.0).as("price_r1"),
        r6(abs(col("l_discount") - 0.05)).as("disc_dev"),
        r6(when(col("l_quantity") >= 0 || isnan(col("l_quantity")),
          sqrt(col("l_quantity")))).as("qty_sqrt"),
        r6(log(price)).as("price_ln"),
        when(inLong, floor(price)).as("price_floor"),
        when(inLong, ceil(price)).as("price_ceil"),
        pmod(col("l_orderkey"), lit(7)).as("key_mod7"),
        r6(greatest(col("l_tax"), col("l_discount"))).as("max_rate"),
        r6(least(col("l_tax"), col("l_discount"))).as("min_rate"))
    }),

    // Array set algebra over token slices: union/intersect/except +
    // membership position. Results are scalarized (sizes + sorted joined
    // strings) — the driver compare can't hash array columns. Dialect:
    // Spark's array_* dedup like DuckDB's list_distinct forms, but
    // element ORDER differs → sort_array/list_sort before joining;
    // Spark array_position returns 0 for missing, DuckDB NULL → coalesce.
    "fn_array_setops" -> ((s, d) => {
      val toks = split(col("text"), " ")
      documents(s, d)
        .select(col("doc_id"),
          slice(toks, 1, 10).as("a"), slice(toks, 6, 10).as("b"),
          array_position(toks, "the").as("pos_the"))
        .select(col("doc_id"),
          size(array_union(col("a"), col("b"))).as("n_union"),
          size(array_intersect(col("a"), col("b"))).as("n_intersect"),
          size(array_except(col("a"), col("b"))).as("n_except"),
          concat_ws(",", sort_array(array_intersect(col("a"), col("b"))))
            .as("inter_str"),
          col("pos_the"))
    }),

    // Regexp family: group extraction, match counting, boolean match,
    // backreference swap, regex split. Patterns stay POSIX-simple — Spark
    // compiles Java regex, DuckDB RE2; fancy syntax (lookahead, \b)
    // diverges. Backreference dialect differs ($1 vs \1) but semantics
    // are identical, handled on each side's SQL.
    // try_cast on the extracted digits: regexp_extract returns '' when
    // the pattern does NOT match, and ANSI CAST('' AS INT) throws in BOTH
    // engines — one digitless brand string kills the whole job (found by
    // the degenerate part corpus, tools/degen_check.py). try_cast makes
    // no-match NULL on both sides; fixture parity unchanged (every
    // fixture brand contains digits).
    "fn_regexp" -> ((s, d) => {
      part(s, d).select(
        col("p_partkey"),
        expr("try_cast(regexp_extract(p_brand, '([0-9]+)', 1) AS INT)").as("brand_num"),
        expr("regexp_count(p_name, '[aeiou]')").as("n_vowels"),
        col("p_name").rlike("^[a-f]").as("starts_af"),
        regexp_replace(col("p_name"), "^([a-z]+) ([a-z]+)$", "$2 $1").as("swapped"),
        // Explicit class == Java's `\s`; RE2's `\s` lacks \x0B, so a
        // bare `\s+` silently diverges from the oracle on vertical tabs
        // (r12 probe — same fix as dedup_exact_normalized's canon).
        size(split(col("p_type"), "[ \\t\\n\\x0B\\f\\r]+")).as("n_type_tokens"))
    }),

    // Trig/transcendental family. Both engines are libm-accurate (≤1 ulp);
    // r6 absorbs the cross-library ulp — same policy as every float key.
    // Dirty-domain contract (r12): Java's sin/cos/tan return NaN on ±Inf
    // where DuckDB THROWS Out of Range — so the periodic functions guard
    // infinite inputs to NULL on BOTH sides (finite and NaN inputs take
    // the natural libm path; NaN compares bit-equal at the gate). The
    // non-periodic columns (atan/atan2/exp/cbrt/degrees/radians) are
    // total and IEEE-identical in both engines on every input class —
    // measured r12 — so they stay bare.
    "fn_trig" -> ((s, d) => {
      val inf = lit(Double.PositiveInfinity)
      def finOr(x: org.apache.spark.sql.Column)(
          f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        when(abs(x) =!= inf, f(x))
      lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        r6(finOr(col("l_quantity"))(sin)).as("sin_q"),
        r6(finOr(col("l_discount") * 10)(cos)).as("cos_d"),
        r6(finOr(col("l_tax"))(tan)).as("tan_t"),
        r6(atan2(col("l_tax"), col("l_discount") + 0.01)).as("atan2_td"),
        r6(degrees(atan(col("l_quantity") / 50.0))).as("deg_atan"),
        r6(radians(col("l_quantity"))).as("rad_q"),
        r6(exp(col("l_discount"))).as("exp_d"),
        r6(expr("cbrt(l_quantity)")).as("cbrt_q"))
    }),

    // Bitwise family: shifts, and/or/xor, popcount, complement — the ops
    // behind every banded-LSH/bucketing trick in the dedup suite, covered
    // as first-class scalars.
    "fn_bitwise" -> ((s, d) => {
      part(s, d).select(
        col("p_partkey"),
        shiftleft(col("p_partkey"), 3).as("shl3"),
        shiftright(col("p_partkey"), 2).as("shr2"),
        expr("p_partkey & 255").as("and255"),
        expr("p_partkey | 15").as("or15"),
        expr("p_partkey ^ 21845").as("xor_alt"),
        expr("bit_count(p_partkey)").as("popcount"),
        expr("~p_partkey").as("complement"))
    }),

    // Encodings + digests over string/binary payloads: base64/hex
    // round-trips and content digests (sha2 is also the dedup_exact key;
    // digests of UTF-8 text bytes are engine-independent, unlike the
    // banned engine hash builtins).
    "fn_encode" -> ((s, d) => {
      part(s, d).select(
        col("p_partkey"),
        base64(col("p_name").cast("binary")).as("b64"),
        lower(hex(col("p_brand").cast("binary"))).as("brand_hex"),
        sha2(col("p_name"), 256).as("sha256"),
        md5(col("p_name")).as("md5"),
        bit_length(col("p_name")).as("bits"),
        octet_length(col("p_name")).as("octets"))
    }),

    // URL parsing family: parse_url over a deterministically-built media
    // URL (the reference's domain: file paths/URLs in play logs). NOT a
    // roundtrip tautology — Spark PARSES with parse_url (Java URI
    // semantics, codegen'd) while the oracle parses the same strings
    // with regexps; agreement certifies the parser, not the builder.
    //
    // Dirty-input contract (r12): one control char in a part string used
    // to KILL the whole job — parse_url throws INVALID_URL where the
    // oracle's regexps happily match anything. Both sides now NULL the
    // built URL when it contains a char java.net.URI rejects (the
    // explicit class below: ASCII controls, space, DEL, the RFC 3986
    // "others" punct, and raw '%' — our builder never percent-encodes,
    // so a raw % is always a malformed escape to URI). try_parse_url
    // backstops anything Java rejects beyond the class: that would
    // surface as NULL-vs-value at the gate, i.e. loudly, not as a crash.
    "fn_url" -> ((s, d) => {
      val url = concat(lit("https://files.example.org/wikipedia/commons/"),
        lower(regexp_replace(col("p_type"), " ", "-")), lit("/"),
        col("p_partkey"), lit(".ogg?size="), col("p_size"),
        lit("&brand="), regexp_replace(col("p_brand"), "#", "-"))
      val illegal = "[\\x00-\\x20\\x7F\"<>\\\\^`{|}\\[\\]%]"
      part(s, d)
        .select(col("p_partkey"),
          when(!url.rlike(illegal), url).as("url"))
        .select(
          col("p_partkey"),
          expr("try_parse_url(url, 'PROTOCOL')").as("proto"),
          expr("try_parse_url(url, 'HOST')").as("host"),
          expr("try_parse_url(url, 'PATH')").as("path"),
          expr("try_parse_url(url, 'QUERY', 'size')").as("size_param"),
          expr("try_parse_url(url, 'QUERY', 'brand')").as("brand_param"))
    }),

    // Array ops + higher-order functions over tokenized text.
    "fn_array" -> ((s, d) => {
      val tokens = split(col("text"), " ")
      documents(s, d).select(
        col("doc_id"),
        size(tokens).as("n_tokens"),
        size(array_distinct(tokens)).as("n_distinct"),
        array_contains(tokens, "scan").as("has_scan"),
        concat_ws(",", slice(sort_array(array_distinct(tokens)), 1, 5)).as("first5"),
        expr("aggregate(transform(split(text, ' '), t -> length(t)), 0, (a, x) -> a + x)")
          .as("sum_token_len"),
        size(flatten(array(tokens, slice(tokens, 1, 3)))).as("flat_size"),
        expr("size(arrays_zip(split(text, ' '), split(text, ' ')))").as("zip_size"))
    }),

    // Map construction + lookup + key enumeration; compared via scalar
    // projections (DuckDB MAP wire shape differs — SURVEY §2.8 fn_map).
    "fn_map" -> ((s, d) => {
      val tokens = split(col("text"), " ")
      val m = map_from_arrays(
        array(lit("n_chars"), lit("n_tokens")),
        array(col("n_chars"), size(tokens).cast("long")))
      documents(s, d).select(
        col("doc_id"),
        element_at(m, "n_chars").as("chars_v"),
        element_at(m, "n_tokens").as("tokens_v"),
        size(m).as("m_size"),
        concat_ws(",", sort_array(map_keys(m))).as("keys_sorted"))
    }),

    // Map higher-order functions — transform_keys/transform_values/
    // map_filter/map_zip_with, the per-row map algebra fn_map's
    // construction surface doesn't reach. All four run codegen'd inside
    // one projection; output scalarized per the fn_map convention (the
    // driver compare is scalar-only), with the oracle computing the
    // same scalars by direct arithmetic on the source columns.
    "fn_map_hof" -> ((s, d) => {
      val tokens = split(col("text"), " ")
      val m = map_from_arrays(
        array(lit("a"), lit("b")),
        array(col("n_chars"), size(tokens).cast("long")))
      documents(s, d).select(
        col("doc_id"),
        element_at(transform_values(m, (_, v) => v * 2), "a").as("a_doubled"),
        concat_ws(",", sort_array(map_keys(
          transform_keys(m, (k, _) => upper(k))))).as("up_keys"),
        size(map_filter(m, (_, v) => v > lit(100L))).as("n_big"),
        element_at(
          map_zip_with(m, map(lit("a"), lit(1L), lit("b"), lit(10L)),
            (_, v1, v2) => coalesce(v1, lit(0L)) + coalesce(v2, lit(0L))),
          "a").as("a_plus1"))
    }),

    // Struct (nested row) construction, field access, and lexicographic
    // struct comparison — the nested-type surface beyond arrays/maps.
    // Output is flattened to scalars (driver compare is scalar-only).
    "fn_struct" -> ((s, d) => {
      val st = struct(col("o_orderstatus").as("st"), col("o_totalprice").as("price"))
      orders(s, d).select(
        col("o_orderkey"),
        st.getField("st").as("status_f"),
        r6(st.getField("price")).as("price_f"),
        (struct(col("o_orderstatus"), col("o_orderkey"))
          === struct(lit("O"), col("o_orderkey"))).as("is_open_pair"),
        expr("named_struct('a', o_orderkey, 'b', o_custkey).b").as("cust_f"))
    }),

    // JSON extraction from the events.props payload column. Both outputs
    // derive from ONE aliased from_json struct: referencing the alias
    // twice blocks CollapseProject from inlining the non-cheap
    // JsonToStructs into each consumer, so every row's JSON is parsed
    // exactly once (the r5 two-parse form — get_json_object + from_json —
    // was the slowest bench key at 2.65 s). PlanSpec asserts the plan
    // carries a single JsonToStructs node.
    "fn_json" -> ((s, d) => {
      events(s, d)
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("j"))
        .select(col("event_id"),
          col("j").getField("k").as("k_path"),
          col("j").getField("k").as("k_schema"))
    }),

    // ANSI-safe arithmetic (try_*): Spark 4 runs ANSI mode by default,
    // where overflow / bad casts / division-by-zero THROW — the try_
    // family is the per-expression opt-out that degrades to NULL
    // instead of failing a 100 TB job on one dirty row. Each column
    // exercises one failure class: div-by-zero, bigint overflow,
    // unparseable cast, out-of-bounds element, unparseable timestamp.
    // The oracle reproduces the NULL semantics with CASE guards.
    "fn_try_ansi" -> ((s, d) => {
      part(s, d).createOrReplaceTempView("part_try")
      s.sql("""
        SELECT p_partkey,
               round(try_divide(p_retailprice, p_size - 25), 6) + 0.0 AS div_maybe,
               -- r19 OPTIMIZATION (guide step 2, the r18 bad_ts lesson
               -- applied to the two remaining exception-driven arms;
               -- add measured 0.37 s and cast 0.21 s of this key's 0.82 s —
               -- every fixture row pays a Java exception in both):
               -- try_add: MAX + x overflows IFF x > 0 (x ≤ 0 keeps the sum
               -- in [MAX+MIN, MAX] = [-1, MAX]), so the guard is an exact
               -- algebraic identity for ALL bigints, not a fixture
               -- convention: overflowing rows were NULL and stay NULL,
               -- non-overflowing rows run the IDENTICAL call.
               CASE WHEN p_partkey <= 0
                    THEN try_add(9223372036854775807, p_partkey) END AS add_ovf,
               -- try_cast string→INT: the ANSI parser trims [\x00-\x20]
               -- then requires a sign or ASCII digit first — the guard
               -- class is exactly that trim set (WIDER than regex \s:
               -- UTF8String.trimAll eats control chars \x00-\x08,
               -- \x0E-\x1F that \s does not), so it is a provable
               -- SUPERSET of parseable strings; guard-passing rows run
               -- the identical call (OptimizationParitySpec pins both
               -- arms on adversarial strings incl. control-char
               -- whitespace).
               CASE WHEN p_brand RLIKE '^[\\x00- ]*[+-]?[0-9]'
                    THEN try_cast(p_brand AS INT) END AS bad_cast,
               -- (negative index reads FROM THE END — element_at
               --  semantics, mirrored in the oracle's CASE arms)
               try_element_at(array(1, 2), CAST(nullif(p_size, 0) AS INT)) AS elem,
               -- r18 OPTIMIZATION (guide step 2): gate the parse behind a
               -- one-char-class RLIKE. try_to_timestamp pays Java's
               -- exception-driven DateTimeParseException path PER ROW on
               -- a column that never parses (~40 µs/row measured — this
               -- one expression dominated the key). The guard is a
               -- provable SUPERSET of parseable strings: the 'yyyy'
               -- field is strictly numeric (optional sign, ASCII digits,
               -- no whitespace skip in java.time strict parsing), so any
               -- string try_to_timestamp could accept starts with
               -- [+-0-9] after optional whitespace; everything else was
               -- NULL before and is NULL now without attempting.
               -- Guard-passing rows run the IDENTICAL call. Equivalence
               -- pinned on adversarial strings by FunctionsParitySpec.
               CASE WHEN p_brand RLIKE '^\\s*[+-]?[0-9]'
                    THEN try_to_timestamp(p_brand, 'yyyy-MM-dd') END AS bad_ts
        FROM part_try
      """)
    }),

    // Spark 4 collation framework: case-insensitive grouping via
    // UTF8_LCASE as a COLUMN property rather than per-expression
    // lower() calls — at scale the collation participates in hashing /
    // shuffle keys natively. The test data is made mixed-case in-query
    // (original/lower/upper fan-out) so the collated grouping genuinely
    // MERGES keys; the emitted group label is normalized with lower()
    // because a collated group's representative is whichever casing a
    // partition saw first. Oracle: plain lower() grouping.
    "fn_collation" -> ((s, d) => {
      part(s, d).createOrReplaceTempView("part_coll")
      s.sql("""
        WITH m AS (
          SELECT explode(array(p_brand, lower(p_brand), upper(p_brand))) AS b
          FROM part_coll)
        SELECT lower(b COLLATE UTF8_LCASE) AS brand_ci, count(*) AS n
        FROM m GROUP BY b COLLATE UTF8_LCASE
      """)
    }),

    // Spark 4 VARIANT: schemaless semi-structured columns — the
    // heterogeneous-metadata path a training-data pipeline needs when
    // document/event payloads don't share one schema (fn_json covers the
    // known-schema StructType path). parse_json builds the binary
    // variant once; typed extraction (variant_get), missing-path NULL
    // semantics, schema introspection, and canonical re-serialization
    // all run codegen'd on that one value. The oracle extracts the same
    // scalars with DuckDB JSON ops; schema_of_variant's fixed descriptor
    // is pinned as a literal (a semantic assertion, like the sketch
    // keys' TRUE verdicts); the roundtrip's canonical form is the
    // fixture's own text minus the one space ('{"k": N}' → '{"k":N}').
    // try_parse_json, not parse_json: a 100 TB corpus ALWAYS contains
    // malformed JSON rows, and strict parse_json throws
    // MALFORMED_RECORD_IN_PARSING — one dirty row kills the whole job
    // (reproduced by the round-10 degenerate-events corpus). try_ yields
    // NULL variant → every projection degrades to NULL for that row.
    // Fixture parity is unchanged (all fixture props are well-formed).
    "fn_variant" -> ((s, d) => {
      // r18 OPTIMIZATION (guide step 2, per-task work): parse ONCE into
      // a named variant column and consume it five times. The inline
      // form evaluated parse_json(props) five times per row (five
      // static_invokes in one Project — plans/r18/fn_variant_before.txt;
      // parse_json is CodegenFallback, so whole-stage-codegen common-
      // subexpression elimination never deduped them). CollapseProject
      // declines to inline a non-cheap alias referenced more than once,
      // so the layered projection keeps exactly one ParseJson per row —
      // the same idiom fn_json already uses (PlanSpec-asserted there).
      events(s, d).select(col("event_id"), col("props"))
        .selectExpr("event_id", "try_parse_json(props) AS v")
        .selectExpr(
          "event_id",
          "try_variant_get(v, '$.k', 'int') AS k_var",
          "try_variant_get(v, '$.missing', 'string') AS missing",
          "try_variant_get(v, '$.k', 'int') > 50 AS k_gt50",
          "schema_of_variant(v) AS vschema",
          "to_json(v) AS canonical")
    }),

    // Null-semantics surface: null-safe equality (<=>), IS DISTINCT FROM
    // shape, null-aware conditionals — the semantics every join/dedup key
    // silently depends on, made explicit. nullif plants NULLs to exercise.
    "fn_null_semantics" -> ((s, d) => {
      events(s, d).select(
        col("event_id"),
        nullif(col("event_type"), lit("error")).as("et_nullable"),
        (nullif(col("event_type"), lit("error")) <=> lit("view")).as("nse_view"),
        (nullif(col("event_type"), lit("error")) <=> nullif(col("event_type"), lit("error")))
          .as("nse_self"),
        nullif(col("event_type"), lit("error")).isNull.as("is_null"),
        expr("nullif(event_type, 'error') IS DISTINCT FROM 'click'").as("idf_click"))
    }),

    // CASE/coalesce/nullif/nvl2 — the `-` → 0 placeholder rule generalized.
    "fn_conditional" -> ((s, d) => {
      events(s, d).select(
        col("event_id"),
        when(col("value") > 100, "high")
          .when(col("value") > 50, "mid")
          .otherwise("low").as("band"),
        coalesce(nullif(col("event_type"), lit("error")), lit("ERR")).as("masked"),
        expr("nvl2(nullif(event_type, 'error'), 'ok', 'err')").as("flag"))
    }),

    // Generator / UDTF surface: posexplode of token arrays (bounded to the
    // first 50 docs so the result set stays small and ordered).
    "fn_explode_generator" -> ((s, d) => {
      documents(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("col", "token")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "fn_string" -> """
      SELECT p_partkey, lower(p_name) AS lower_name,
             split_part(p_type, ' ', 1) AS type_head,
             regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
             regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled,
             lpad(p_brand, 12, '_') || '|' || translate(p_type, ' ', '_') AS tag,
             CAST(CASE WHEN octet_length(encode(p_brand)) = length(p_brand)
                        AND octet_length(encode(p_type)) = length(p_type)
                       THEN levenshtein(p_brand, p_type) END AS INT) AS lev,
             CAST(length(trim(p_name)) AS INT) AS name_len
      FROM part ORDER BY p_partkey
    """,

    "fn_date" -> """
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
             CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
             CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT)
               AS days_to_end,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
             last_day(CAST(o_orderdate AS DATE)) AS month_end,
             CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT) AS dow,
             CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS INT)
               AS months_since,
             CAST(strptime(strftime(CAST(o_orderdate AS DATE), '%Y%m%d'), '%Y%m%d') AS DATE)
               AS compact_roundtrip
      FROM orders ORDER BY o_orderkey
    """,

    "fn_time" -> """
      WITH b AS (
        SELECT *, epoch_us(ts) AS us,
               epoch_us(date_trunc('day', ts)) AS dus
        FROM events)
      SELECT event_id,
             CAST(hour(ts) AS INT) AS h,
             CAST(minute(ts) AS INT) AS m,
             CAST(second(ts) AS INT) AS sec,
             -- exact integer floor(µs/1e6): `//` truncates toward zero
             -- on BIGINTs and floor(epoch()) goes through an imprecise
             -- double, so subtract the pmod remainder first (matches
             -- the Spark side's pmod/div form exactly)
             CAST((us - ((us % 1000000 + 1000000) % 1000000)) // 1000000
                  AS BIGINT) AS epoch_s,
             CAST(to_timestamp((us - ((us % 1000000 + 1000000) % 1000000)) // 1000000)
                  AS TIMESTAMP) AS epoch_roundtrip,
             CAST((us - ((us % 1000000 + 1000000) % 1000000)) // 1000000
                  - (dus - ((dus % 1000000 + 1000000) % 1000000)) // 1000000
                  AS BIGINT) AS secs_into_day,
             ts + INTERVAL 90 MINUTE AS plus90m
      FROM b ORDER BY event_id
    """,

    "fn_math" -> """
      SELECT l_orderkey, l_linenumber,
             -- + 0.0 mirrors the product's sign-of-zero normalization.
             round(l_extendedprice, 1) + 0.0 AS price_r1,
             round(abs(l_discount - 0.05), 6) AS disc_dev,
             -- sqrt: negatives NULL (DuckDB would throw, Spark NaNs);
             -- NaN passes through (sqrt(NaN) = NaN in both engines).
             round(CASE WHEN l_quantity >= 0 OR isnan(l_quantity)
                   THEN sqrt(l_quantity) END, 6) AS qty_sqrt,
             -- ln: Spark's native domain — NULL on <= 0, NaN on NaN
             -- (ln(NaN) = NaN in both; NaN > 0 is false in both).
             round(CASE WHEN l_extendedprice > 0 OR isnan(l_extendedprice)
                   THEN ln(l_extendedprice) END, 6) AS price_ln,
             -- floor/ceil: NULL outside the in-long-range bound (Spark
             -- saturates silently, DuckDB's BIGINT cast throws; NaN and
             -- ±Inf fail BETWEEN in both engines).
             CASE WHEN l_extendedprice BETWEEN -9.2e18 AND 9.2e18
                  THEN CAST(floor(l_extendedprice) AS BIGINT) END AS price_floor,
             CASE WHEN l_extendedprice BETWEEN -9.2e18 AND 9.2e18
                  THEN CAST(ceil(l_extendedprice) AS BIGINT) END AS price_ceil,
             l_orderkey % 7 AS key_mod7,
             round(greatest(l_tax, l_discount), 6) AS max_rate,
             round(least(l_tax, l_discount), 6) AS min_rate
      FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,

    "fn_array_setops" -> """
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      ab AS (
        SELECT doc_id, list_slice(toks, 1, 10) AS a, list_slice(toks, 6, 15) AS b,
               coalesce(list_position(toks, 'the'), 0) AS pos_the
        FROM t)
      SELECT doc_id,
             CAST(len(list_distinct(list_concat(a, b))) AS INT) AS n_union,
             CAST(len(list_intersect(a, b)) AS INT) AS n_intersect,
             CAST(len(list_filter(list_distinct(a),
                    x -> NOT list_contains(b, x))) AS INT) AS n_except,
             coalesce(array_to_string(list_sort(list_intersect(a, b)), ','), '')
               AS inter_str,
             CAST(pos_the AS BIGINT) AS pos_the
      FROM ab ORDER BY doc_id
    """,

    "fn_regexp" -> """
      SELECT p_partkey,
             TRY_CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INT) AS brand_num,
             CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS n_vowels,
             regexp_matches(p_name, '^[a-f]') AS starts_af,
             regexp_replace(p_name, '^([a-z]+) ([a-z]+)$', '\2 \1') AS swapped,
             CAST(len(regexp_split_to_array(p_type, '[ \t\n\x0B\f\r]+')) AS INT) AS n_type_tokens
      FROM part ORDER BY p_partkey
    """,

    "fn_trig" -> """
      SELECT l_orderkey, l_linenumber,
             -- Periodic functions: ±Inf NULL on both sides (DuckDB
             -- throws Out of Range there, Java NaNs); NaN passes
             -- through (sin(NaN) = NaN in both engines).
             round(CASE WHEN NOT isinf(l_quantity)
                   THEN sin(l_quantity) END, 6) AS sin_q,
             round(CASE WHEN NOT isinf(l_discount * 10)
                   THEN cos(l_discount * 10) END, 6) AS cos_d,
             round(CASE WHEN NOT isinf(l_tax)
                   THEN tan(l_tax) END, 6) AS tan_t,
             round(atan2(l_tax, l_discount + 0.01), 6) AS atan2_td,
             round(degrees(atan(l_quantity / 50.0)), 6) AS deg_atan,
             round(radians(l_quantity), 6) AS rad_q,
             round(exp(l_discount), 6) AS exp_d,
             round(cbrt(l_quantity), 6) AS cbrt_q
      FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,

    "fn_bitwise" -> """
      SELECT p_partkey,
             p_partkey << 3 AS shl3,
             p_partkey >> 2 AS shr2,
             p_partkey & 255 AS and255,
             p_partkey | 15 AS or15,
             xor(p_partkey, 21845) AS xor_alt,
             CAST(bit_count(p_partkey) AS INT) AS popcount,
             ~p_partkey AS complement
      FROM part ORDER BY p_partkey
    """,

    "fn_url" -> """
      WITH built AS (
        SELECT p_partkey,
               'https://files.example.org/wikipedia/commons/' ||
               lower(replace(p_type, ' ', '-')) || '/' || p_partkey ||
               '.ogg?size=' || p_size || '&brand=' || replace(p_brand, '#', '-')
                 AS url
        FROM part),
      u AS (
        -- Mirror of the product's java.net.URI-illegal guard: a URL
        -- containing any of these chars is NULLed before parsing.
        SELECT p_partkey,
               CASE WHEN regexp_matches(url, '[\x00-\x20\x7F"<>\\^`{|}\[\]%]')
                    THEN NULL ELSE url END AS url
        FROM built)
      SELECT p_partkey,
             regexp_extract(url, '^([a-z]+)://', 1) AS proto,
             regexp_extract(url, '://([^/]+)', 1) AS host,
             regexp_extract(url, '://[^/]+(/[^?#]*)', 1) AS path,
             regexp_extract(url, '[?&]size=([^&#]*)', 1) AS size_param,
             regexp_extract(url, '[?&]brand=([^&#]*)', 1) AS brand_param
      FROM u ORDER BY p_partkey
    """,

    // encode(), not CAST(x AS BLOB): DuckDB's string→blob CAST rejects
    // any non-ASCII byte ("must be escaped with hex codes") — one ı in a
    // brand killed the whole oracle query (r11 degenerate part corpus);
    // encode() is the real UTF-8 conversion and agrees with Spark's
    // CAST(string AS BINARY) on every input.
    "fn_encode" -> """
      SELECT p_partkey,
             to_base64(encode(p_name)) AS b64,
             lower(hex(encode(p_brand))) AS brand_hex,
             sha256(p_name) AS sha256,
             md5(p_name) AS md5,
             CAST(octet_length(encode(p_name)) * 8 AS INT) AS bits,
             CAST(octet_length(encode(p_name)) AS INT) AS octets
      FROM part ORDER BY p_partkey
    """,

    "fn_array" -> """
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
             list_contains(string_split(text, ' '), 'scan') AS has_scan,
             array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], ',')
               AS first5,
             CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS INT)
               AS sum_token_len,
             CAST(len(flatten([string_split(text, ' '), string_split(text, ' ')[1:3]])) AS INT)
               AS flat_size,
             CAST(len(list_zip(string_split(text, ' '), string_split(text, ' '))) AS INT)
               AS zip_size
      FROM documents ORDER BY doc_id
    """,

    "fn_map" -> """
      SELECT doc_id, n_chars AS chars_v,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens_v,
             2 AS m_size,
             'n_chars,n_tokens' AS keys_sorted
      FROM documents ORDER BY doc_id
    """,

    "fn_struct" -> """
      SELECT o_orderkey,
             o_orderstatus AS status_f,
             round(o_totalprice, 6) AS price_f,
             (o_orderstatus, o_orderkey) = ('O', o_orderkey) AS is_open_pair,
             o_custkey AS cust_f
      FROM orders ORDER BY o_orderkey
    """,

    "fn_map_hof" -> """
      SELECT doc_id,
             n_chars * 2 AS a_doubled,
             'A,B' AS up_keys,
             CAST(CAST(n_chars > 100 AS INT)
                  + CAST(len(string_split(text, ' ')) > 100 AS INT) AS INT) AS n_big,
             n_chars + 1 AS a_plus1
      FROM documents ORDER BY doc_id
    """,

    "fn_try_ansi" -> """
      SELECT p_partkey,
             round(CASE WHEN p_size <> 25 THEN p_retailprice / (p_size - 25) END, 6) + 0.0 AS div_maybe,
             CAST(CASE WHEN p_partkey = 0 THEN 9223372036854775807 END AS BIGINT) AS add_ovf,
             TRY_CAST(p_brand AS INT) AS bad_cast,
             CAST(CASE WHEN p_size IN (1, 2) THEN p_size
                       WHEN p_size = -1 THEN 2
                       WHEN p_size = -2 THEN 1 END AS INT) AS elem,
             CAST(NULL AS TIMESTAMP) AS bad_ts
      FROM part ORDER BY p_partkey
    """,

    // Known cross-engine divergence classes, measured r11 and kept OUT of
    // the cross-engine corpora (pinned Spark-side in Round3Spec): Spark
    // lower('İ') = i+U+0307 (Unicode SpecialCasing) vs DuckDB bare i;
    // Spark upper('ß') = SS vs DuckDB U+1E9E; Spark's final-sigma lower
    // is context-aware (…Σ → …ς) vs DuckDB per-codepoint (…σ), and
    // UTF8_LCASE folds σ = ς where lower() grouping can't. Dotless ı is
    // the one locale-sensitive class both engines agree on — exercised by
    // the degenerate part corpus.
    "fn_collation" -> """
      WITH m AS (
        SELECT unnest([p_brand, lower(p_brand), upper(p_brand)]) AS b
        FROM part)
      SELECT lower(b) AS brand_ci, count(*) AS n
      FROM m GROUP BY lower(b) ORDER BY brand_ci
    """,

    // json_valid guards: DuckDB's json_extract THROWS on malformed JSON
    // while the Spark side degrades to NULL (try_parse_json) — the guards
    // align the oracle with the tolerant semantics and are no-ops on the
    // all-well-formed fixtures. vschema stays fixture-shaped (a DuckDB
    // re-derivation of Spark's schema_of_variant strings for arbitrary
    // JSON isn't expressible); it is exact for the {"k": int} fixture
    // corpus the driver checks.
    "fn_variant" -> """
      SELECT event_id,
             TRY_CAST(CASE WHEN json_valid(props)
                      THEN json_extract_string(props, '$.k') END AS INT) AS k_var,
             CASE WHEN json_valid(props)
                  THEN json_extract_string(props, '$.missing') END AS missing,
             TRY_CAST(CASE WHEN json_valid(props)
                      THEN json_extract_string(props, '$.k') END AS INT) > 50 AS k_gt50,
             'OBJECT<k: BIGINT>' AS vschema,
             CASE WHEN json_valid(props)
                  THEN replace(props, ': ', ':') END AS canonical
      FROM events ORDER BY event_id
    """,

    // json_valid guard: Spark's from_json yields a NULL struct on
    // malformed input; unguarded DuckDB json_extract throws. No-op on
    // the well-formed fixtures (see fn_variant note).
    "fn_json" -> """
      SELECT event_id,
             TRY_CAST(CASE WHEN json_valid(props)
                      THEN json_extract_string(props, '$.k') END AS INT) AS k_path,
             TRY_CAST(CASE WHEN json_valid(props)
                      THEN json_extract_string(props, '$.k') END AS INT) AS k_schema
      FROM events ORDER BY event_id
    """,

    "fn_null_semantics" -> """
      SELECT event_id,
             nullif(event_type, 'error') AS et_nullable,
             nullif(event_type, 'error') IS NOT DISTINCT FROM 'view' AS nse_view,
             nullif(event_type, 'error') IS NOT DISTINCT FROM nullif(event_type, 'error')
               AS nse_self,
             nullif(event_type, 'error') IS NULL AS is_null,
             nullif(event_type, 'error') IS DISTINCT FROM 'click' AS idf_click
      FROM events ORDER BY event_id
    """,

    "fn_conditional" -> """
      SELECT event_id,
             CASE WHEN value > 100 THEN 'high'
                  WHEN value > 50 THEN 'mid' ELSE 'low' END AS band,
             coalesce(nullif(event_type, 'error'), 'ERR') AS masked,
             CASE WHEN nullif(event_type, 'error') IS NOT NULL
                  THEN 'ok' ELSE 'err' END AS flag
      FROM events ORDER BY event_id
    """,

    "fn_explode_generator" -> """
      SELECT doc_id,
             CAST(unnest(range(0, len(string_split(text, ' ')))) AS INT) AS pos,
             unnest(string_split(text, ' ')) AS token
      FROM documents WHERE doc_id < 50
      ORDER BY doc_id, pos
    """
  )
}
