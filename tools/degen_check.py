#!/usr/bin/env python3
"""Degenerate-corpus cross-engine check (round 10).

The sf fixtures contain only well-formed documents, so the branches the
text/dedup family takes on DEGENERATE inputs — empty text, whitespace-only
text, docs below the 3-token shingle threshold, trailing-space token
splits, exact duplicates across languages — are never exercised by the
driver's hash gate. A divergence there would be latent until a real
corpus (which always contains such rows at 100 TB) hits it.

This script builds a 15-row adversarial documents.parquet, runs
graft.Verify on the document-only key family against it, and applies the
same DuckDB compare as the driver (tools/check.py). Expected: every
selected key PASS (the remaining inventory reports "declared oracle but
no Spark output" — an artifact of SPARK_GRAFT_KEYS filtering, not a
failure of those keys).

A second corpus does the same for the EVENTS family: NULL user_ids,
exact-timestamp ties, zero-variance value groups, and degenerate props
JSON (empty object, NULL, malformed, nested). This one found a real bug
in round 10: asofLatest's window form handed NULL-user purchases the
NULL-user clicks' timestamps (partitionBy groups NULLs; a join never
matches them) — the fixtures have zero NULL user_ids, so the driver gate
could not see it. fn_variant is deliberately NOT in the events key list:
its oracle's vschema column is fixture-shaped ('OBJECT<k: BIGINT>'),
which arbitrary JSON can't satisfy; its malformed-input TOLERANCE
(try_parse_json) is covered by the fixture gate staying green.

Usage:
  python3 tools/degen_check.py all        # THE post-change gate: every
                                          # family below, one exit code
  python3 tools/degen_check.py            # per-table + streaming families
  python3 tools/degen_check.py stream     # streaming corpora only (fast)
  python3 tools/degen_check.py universe [nulls|empty]
  python3 tools/degen_check.py batch_dirty  # loud-failure contract probes
  python3 tools/degen_check.py arrival    # poisoned streaming-arrival probes
"""
import datetime as dt
import os, subprocess, sys

import pyarrow as pa
import pyarrow.parquet as pq

KEYS = ",".join([
    "text_tokenize_tf", "text_token_count", "text_tfidf", "text_bigram_lm",
    "text_lang_id", "text_lang_stats", "text_quality_score",
    "text_fingerprint", "text_pii_scrub", "text_zipf_coverage",
    "text_heavy_hitters", "dedup_exact", "dedup_exact_normalized",
    "dedup_keep_best", "dedup_ngram_jaccard", "dedup_ngram_capped",
    "dedup_near_minhash", "dedup_simhash", "dedup_cluster_cc",
    "dedup_decontaminate", "sample_stratified", "sample_hash_bernoulli",
    "multimodal_chunks", "multimodal_binary", "fn_array", "fn_array_setops",
])

# Similarity/ANN family over a degenerate embeddings corpus: a ZERO
# vector (cosine undefined — the engines disagreed on bare 0/0 until the
# nullif guards: Spark NaN, DuckDB NULL), exact duplicates, an exact
# negation (cos −1), scaled copies (cos 1). Runs in a dir holding BOTH
# documents and embeddings so multimodal_join's two-table shape is
# covered.
EMB_KEYS = ",".join([
    "sim_topk_neighbors", "expr_cosine", "sim_ann_lsh",
    "sim_ann_multiprobe", "sim_ivf_topk", "sim_ivf_nprobe2",
    "sim_range_search", "dedup_embed_cosine", "udaf_vector_avg",
    "multimodal_join",
])

# String-function family over a degenerate part table: empty strings,
# whitespace-only, no-regexp-match names, multi-space type strings —
# split_part/levenshtein/regexp/no-match extraction edges the generated
# TPC-H-ish strings never produce.
PART_KEYS = ",".join([
    "fn_string", "fn_regexp", "fn_encode", "fn_url", "fn_collation",
    "win_rank_topk",
])

# Streaming-specific degenerates (round 11): the checkpointed keys' state
# machines have branches the fixture arrival pattern never takes — an
# EMPTY staged arrival file (a zero-row micro-batch must commit cleanly),
# a single-event stream (watermark never passes a window boundary → the
# append sink emits NOTHING, and the read-back must answer empty instead
# of throwing on a metadata-only dir), and an all-late arrival set (the
# on-time file itself is the zero-row batch, so the 'late' rows pass the
# never-advanced watermark and then fail to close any window). The three
# batch-mode window keys ride along for free.
STREAM_KEYS = ",".join([
    "stream_tumbling_daily", "stream_sliding_1h30m", "stream_session_5m",
    "stream_batch_equiv", "stream_late_drop", "stream_dedup",
    "stream_stateful_totals", "stream_stream_join", "pipeline_daily_e2e",
])

EVENT_KEYS = ",".join([
    "agg_daily_counts", "agg_range_total", "agg_distinct_users",
    "agg_multi_distinct", "agg_funnel_steps", "agg_retention_cohort",
    "agg_salted_skew", "agg_histogram", "agg_median", "agg_boolean",
    "agg_argminmax", "agg_bitmap_distinct", "agg_approx_hll",
    "agg_datasketch_hll", "agg_collect_ordered", "win_trailing_30d",
    "win_running_total", "win_lag_lead", "join_anti_zerofill",
    "join_asof_latest", "join_theta_range", "stream_tumbling_daily",
    "stream_sliding_1h30m", "stream_session_5m", "filter_date_predicate",
    "fn_time", "fn_json", "fn_null_semantics", "fn_conditional",
    "scan_partition_pruned", "scan_dpp", "win_range_numeric",
])

ROWS = [
    (1, "", "en", "web"),                  # empty text
    (2, " ", "en", "web"),                 # single space
    (3, "   ", "de", "web"),               # whitespace-only
    (4, "hello", "en", "web"),             # one token (below shingle k=3)
    (5, "a b", "de", "web"),               # two tokens
    (6, "a b c", "fr", "web"),             # exactly three tokens
    (7, "a b ", "en", "web"),              # trailing space (split(-1) keeps empty)
    (8, " a", "de", "web"),                # leading space
    (9, "x x x x", "fr", "web"),           # repeated token
    (10, "!!!", "en", "web"),              # punctuation only
    (11, "123 456", "de", "web"),          # digits
    (12, "the quick brown fox jumps over the lazy dog again and again", "en", "web"),
    (13, "the quick brown fox jumps over the lazy dog again and again", "en", "web"),  # exact dup
    (14, "a b c", "en", "web"),            # dup text, different lang
    (15, "word word word word tail", "fr", "web"),
]


def write_documents(sfdir: str) -> None:
    t = pa.table({
        "doc_id": pa.array([r[0] for r in ROWS], pa.int64()),
        "text": pa.array([r[1] for r in ROWS], pa.string()),
        "lang": pa.array([r[2] for r in ROWS], pa.string()),
        "source": pa.array([r[3] for r in ROWS], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in ROWS], pa.int64()),
    })
    pq.write_table(t, f"{sfdir}/documents.parquet")


def write_documents_long(sfdir: str) -> None:
    """LENGTH-EXTREME corpus (r12): document and token length are the
    axes no other corpus stresses — the shingle/fingerprint/Misra-Gries
    paths are all O(tokens) per doc and the oracles re-derive the same
    arithmetic through DuckDB list HOFs, so a ~10k-token doc and a
    single 64 KiB token pin that both sides stay exact (and tractable)
    when per-row work is 1000x the fixture's. Deterministic modular
    word sequence (no RNG), zipf-ish repetition via mod-37 fold."""
    words = [f"w{i}" for i in range(37)]
    long_tokens = [words[(i * i + 3 * i) % 37] for i in range(10_000)]
    long_doc = " ".join(long_tokens)                  # ~30 KB, 10k tokens
    mega_token = "x" * 65_536                          # one 64 KiB token
    rows = [
        (1, long_doc, "en", "web"),
        (2, long_doc, "en", "crawl"),                  # exact dup of 1
        (3, " ".join(long_tokens[:-1] + ["tail"]), "en", "web"),  # near-dup
        (4, mega_token, "de", "web"),
        (5, mega_token + " suffix token", "de", "web"),
        (6, "short control doc here", "fr", "web"),
        (7, "", "fr", "web"),
    ]
    t = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(t, f"{sfdir}/documents.parquet")


def write_documents_chain(sfdir: str) -> None:
    """TRANSITIVE-CHAIN corpus (r12): 30 docs where doc_i is a near-dup
    of doc_{i+1} only (sliding 16-token windows over 45 distinct
    tokens: consecutive docs share 13/15 shingles, jaccard 0.867 >= 0.8;
    two apart share 12/16 = 0.75 < 0.8) — one connected component of
    GRAPH DIAMETER 29, the shape versioned/boilerplate documents form
    at corpus scale. Plain min-label propagation needs eccentricity
    rounds (29 > the loud 15-round bound — the first run of this family
    failed exactly there); pointer jumping (comp := min(comp,
    comp[comp])) converges in O(log diameter) rounds. The recursive
    oracle computes true closure, so the WHOLE chain must land in ONE
    30-member cluster."""
    words = [f"tok{i:02d}" for i in range(45)]
    rows = [(i + 1, " ".join(words[i:i + 16]), "en", "web")
            for i in range(30)]
    rows.append((31, "an unrelated control document entirely", "de", "web"))
    t = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(t, f"{sfdir}/documents.parquet")


def write_lineitem_dirty(sfdir: str) -> None:
    """Dirty doubles through the SCALAR math keys (r12): fn_math/fn_trig
    project libm functions over lineitem's value columns, where the
    engines' dirty-input behavior genuinely differs — DuckDB THROWS on
    sin/cos/tan(±Inf), sqrt(<0) and ln(<=0) (Out of Range), Spark NaNs
    or NULLs silently, Spark's floor/ceil(double)->long SATURATES
    (floor(1e300) = Long.Max, floor(NaN) = 0) where DuckDB's BIGINT cast
    throws, and Spark's BigDecimal round drops -0.0's sign where
    DuckDB's std::round keeps it. The r12 contracts (periodic functions
    NULL on ±Inf, sqrt NULL on negatives, floor/ceil NULL outside
    ±9.2e18, + 0.0 zero-sign normalization on price_r1) make both
    engines total and exactly equal on every row here; the agreeing
    classes (NaN through sin/ln/round/greatest, 1e300 through sin's
    argument reduction, subnormals, -0.0 through sqrt/duckRound) are
    pinned bare."""
    ts = dt.datetime.fromisoformat
    nan, inf = float("nan"), float("inf")
    # (okey, lnum, qty, price, disc, tax)
    rows = [
        (1, 1, 17.0, 21168.23, 0.04, 0.02),     # clean baseline
        (2, 1, nan, 100.0, 0.05, 0.01),          # qty NaN: sin/sqrt NaN
        (3, 1, inf, 101.0, 0.06, 0.03),          # qty +Inf: sin NULL, sqrt Inf
        (4, 1, -inf, 102.0, 0.00, 0.04),         # qty -Inf: sin/sqrt NULL
        (5, 1, -5.0, 103.0, 0.01, 0.05),         # qty<0: sqrt NULL, sin fine
        (6, 1, 1e300, 104.0, 0.02, 0.06),        # huge arg: full reduction
        (7, 1, 5e-324, 105.0, 0.03, 0.07),       # subnormal
        (8, 1, -0.0, -0.0, 0.04, 0.08),          # -0.0: sqrt -0.0, round sign
        (9, 1, 18.0, nan, 0.05, 0.00),           # price NaN: ln NaN, floor NULL
        (10, 1, 19.0, inf, 0.06, 0.01),          # price +Inf: ln Inf, floor NULL
        (11, 1, 20.0, -inf, 0.07, 0.02),         # price -Inf: ln/floor NULL
        (12, 1, 21.0, 1e300, 0.08, 0.03),        # beyond long: floor/ceil NULL
        (13, 1, 22.0, 9.0e18, 0.09, 0.04),       # inside bound: floor works
        (14, 1, 23.0, 0.0, 0.10, 0.05),          # ln(0) NULL both
        (15, 1, 24.0, -42.5, 0.00, 0.06),        # ln(<0) NULL, floor -43
        (16, 1, 25.0, -0.04, 0.01, 0.07),        # round-to-zero: sign normalized
        (17, 1, 26.0, 106.0, nan, 0.08),         # disc NaN: cos NaN, max_rate NaN
        (18, 1, 27.0, 107.0, inf, 0.09),         # disc +Inf: cos NULL, exp Inf
        (19, 1, 28.0, 108.0, -inf, 0.10),        # disc -Inf: cos NULL, exp 0
        (20, 1, 29.0, 109.0, 0.02, inf),         # tax +Inf: tan NULL, atan2 pi/2
        (21, 1, 30.0, 110.0, 0.03, -inf),        # tax -Inf: tan NULL
        (22, 1, 31.0, 111.0, 0.04, nan),         # tax NaN: tan/atan2 NaN
    ]
    # Group split for the quantile keys: the all-finite rows form group
    # "A" (positive control — ordinary interpolation), the dirty rows
    # group "N" (percentile over NaN/±Inf: both engines sort NaN
    # greatest and interpolate across infinite gaps identically —
    # probed r12: q25 of {-Inf,1,2} is -Inf in both, NaN-adjacent
    # interpolation is NaN in both).
    finite = {1, 13, 14, 15, 16}
    t = pa.table({
        "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
        "l_partkey": pa.array([1] * len(rows), pa.int64()),
        "l_suppkey": pa.array([1] * len(rows), pa.int64()),
        "l_linenumber": pa.array([r[1] for r in rows], pa.int32()),
        "l_quantity": pa.array([r[2] for r in rows], pa.float64()),
        "l_extendedprice": pa.array([r[3] for r in rows], pa.float64()),
        "l_discount": pa.array([r[4] for r in rows], pa.float64()),
        "l_tax": pa.array([r[5] for r in rows], pa.float64()),
        "l_returnflag": pa.array(
            ["A" if r[0] in finite else "N" for r in rows], pa.string()),
        "l_linestatus": pa.array(["O"] * len(rows), pa.string()),
        "l_shipdate": pa.array([ts("2024-03-01")] * len(rows),
                               pa.timestamp("us")),
    })
    pq.write_table(t, f"{sfdir}/lineitem.parquet")


def write_documents_dup(sfdir: str) -> None:
    """DUPLICATE-SATURATION corpus (r12): the dedup family's worst case
    is a corpus that is MOSTLY one document — an 8-way exact-dup clique
    (every MinHash band collides → the full candidate clique; survivor
    tie-breaks must stay deterministic), a 3-way near-dup set (one
    trailing token changed), a whitespace variant (exact misses it,
    normalized catches it), one unique doc, and one empty doc. Text
    analytics hit their saturation edges too: shared tokens reach
    df = N (idf → 0 in tfidf), and under the 5% document-frequency cap
    EVERY shingle of the dup clique is capped — the capped variant
    finding no candidates on an all-dup corpus is the documented cap
    semantics, pinned here."""
    base = ("the quick brown fox jumps over the lazy dog and then the "
            "dog naps in the warm sun all afternoon long")
    rows = (
        [(i, base, "en", "web") for i in range(1, 9)] +      # 8 exact dups
        [(9, base[:-4] + "week", "en", "web"),               # near-dups:
         (10, base[:-4] + "year", "en", "web"),              # last token
         (11, base[:-4] + "day", "en", "web")] +             # swapped
        [(12, "  " + base.replace(" ", "  ") + " ", "en", "web"),  # ws variant
         (13, "completely different content about databases", "de", "web"),
         (14, "", "fr", "web")])
    t = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(t, f"{sfdir}/documents.parquet")


def write_events(sfdir: str) -> None:
    ts = dt.datetime.fromisoformat
    rows, eid = [], 0

    def add(t, u, et, v, props='{"k": 1}'):
        nonlocal eid
        rows.append((eid, ts(t), u, et, v, props))
        eid += 1

    # tie cluster: five types at the exact same microsecond, same user
    for et in ["view", "click", "purchase", "error", "signup"]:
        add("2024-01-10 12:00:00", 1, et, 10.0)
    # as-of tie: click and purchase at identical ts
    add("2024-01-11 08:00:00", 2, "click", 1.0)
    add("2024-01-11 08:00:00", 2, "purchase", 2.0)
    # NULL user_id rows of each type (incl. a click+purchase pair — the
    # asofLatest NULL-partition trap)
    for et in ["view", "click", "purchase", "error"]:
        add("2024-01-12 06:30:00", None, et, 3.5)
    # zero-variance group: every signup value constant
    for d in range(5):
        add(f"2024-01-{13 + d:02d} 09:15:00", 3, "signup", 5.0)
    add("2024-01-20 23:59:59.999999", 4, "view", 0.0)   # lone event, day edge
    add("2024-01-21 10:00:00", 5, "purchase", -7.25)
    add("2024-01-21 10:00:00.000001", 5, "purchase", 123456.78)
    # funnel chain with view/click at the same instant
    add("2024-01-22 10:00:00", 6, "view", 1.0)
    add("2024-01-22 10:00:00", 6, "click", 1.0)
    add("2024-01-22 10:05:00", 6, "purchase", 1.0)
    # props edges: empty object, NULL, malformed, nested
    add("2024-01-23 11:00:00", 7, "view", 2.0, "{}")
    add("2024-01-23 11:01:00", 7, "view", 2.0, None)
    add("2024-01-23 11:02:00", 7, "view", 2.0, '{"k":')
    add("2024-01-23 11:03:00", 7, "view", 2.0, '{"k": {"n": 9}}')
    # background spread across the month for date-range keys
    for d in range(1, 29, 3):
        add(f"2024-01-{d:02d} 05:00:00", 8 + d % 3, "view", float(d))
        add(f"2024-01-{d:02d} 17:45:00", 8 + (d + 1) % 3, "error", float(d) / 2)
    t = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    })
    pq.write_table(t, f"{sfdir}/events.parquet")


def _write_event_rows(sfdir: str, rows) -> None:
    """rows: (event_id, ts-iso, user_id, event_type, value, props)."""
    ts = dt.datetime.fromisoformat
    t = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([ts(r[1]) for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    })
    pq.write_table(t, f"{sfdir}/events.parquet")


def write_events_emptybatch(sfdir: str) -> None:
    """Every staged SECOND (or third) arrival file is EMPTY: all events in
    Jan 10–14 (on-time for stream_late_drop's Jan-10 cutoff; before the
    Jan-15 split of stateful_totals/pipeline), and NO click/purchase rows
    (stream_dedup's redelivery file and BOTH stream_stream_join sources
    are zero-row streams). pipeline_daily_e2e's 'click' lookup hits a file
    type counts has never seen — the unknown-file API contract."""
    rows = []
    for i, d in enumerate(range(10, 15)):
        rows.append((2 * i, f"2024-01-{d:02d} 06:00:00", 1, "view", float(d), '{"k": 1}'))
        rows.append((2 * i + 1, f"2024-01-{d:02d} 18:30:00", 2, "error", d / 2.0, '{"k": 2}'))
    _write_event_rows(sfdir, rows)


def write_events_single(sfdir: str) -> None:
    """A single-event stream: the watermark (ts − 1 h) never passes the
    day-window boundary, so stream_late_drop's append sink emits NOTHING —
    the read-back-from-metadata-only-dir branch. Every split beyond the
    first arrival file is a zero-row micro-batch."""
    _write_event_rows(sfdir,
                      [(0, "2024-01-12 10:00:00", 1, "view", 5.0, '{"k": 1}')])


def write_events_empty(sfdir: str) -> None:
    """ZERO-ROW events table — the day-with-no-dumps operational case.
    Every staged arrival file is empty, the watermark never advances,
    every sink emits nothing, and every read-back must answer the empty
    aggregate (this is what the r11 explicit-schema read-backs exist
    for); the oracles' GROUP BYs / HAVING gates all yield zero rows."""
    _write_event_rows(sfdir, [])


def write_events_dirty(sfdir: str) -> None:
    """Non-finite / overflow values mixed into a normal day: NaN, ±Inf,
    ±1e300 (cents cast overflows), 1e-300. The cents keys must TOLERATE
    these (try_cast → NULL cents, row still counts — one dirty row must
    not kill a 100 TB job: the bare ANSI cast did, measured r11), and
    the double-sum keys propagate NaN/Inf identically in both engines.
    win_range_numeric and the lineitem-cents batch keys are NOT run over
    this corpus — their value domain is part of the query contract
    (documented at the keys); this family pins the STREAMING ingest
    surface, which is where arbitrary raw logs enter."""
    _write_event_rows(sfdir, [
        (0, "2024-01-10 10:00:00", 1, "view", 5.0, '{"k": 1}'),
        (1, "2024-01-10 11:00:00", 1, "click", 1e300, '{"k": 1}'),
        (2, "2024-01-10 12:00:00", 2, "view", float("nan"), '{"k": 1}'),
        (3, "2024-01-10 13:00:00", 2, "purchase", float("inf"), '{"k": 1}'),
        (4, "2024-01-10 14:00:00", 3, "error", -1e300, '{"k": 1}'),
        (5, "2024-01-10 15:00:00", 3, "view", 1e-300, '{"k": 1}'),
        (6, "2024-01-11 09:00:00", 1, "click", 2.5, '{"k": 1}'),
        (7, "2024-01-11 09:02:00", 1, "purchase", 7.5, '{"k": 1}'),
    ])


def write_events_extremetime(sfdir: str) -> None:
    """Timestamp extremes (r12, an axis no other family probed): pre-1970
    negative-µs events with sub-second fractions, the epoch boundary
    ±1 µs, deep past (1900), a leap day, and year-9999 edges, plus a
    normal 2024 cluster. FOUND a real divergence on first run: Spark's
    unix_timestamp truncates toward zero where the oracle's
    floor(epoch()) floors — differing on every pre-1970 fractional
    second — and DuckDB's double epoch() loses integer precision at
    year-9999 magnitudes (it answered year 10000). fn_time's epoch
    columns are now exact integer floor(µs/1e6) via pmod arithmetic on
    BOTH engines. The window/session/tumbling keys pass unchanged:
    Spark's window() already floor-divides µs, so negative timestamps
    bucket correctly."""
    _write_event_rows(sfdir, [
        (0, "1969-12-31 23:59:59.999999", 1, "view", 1.0, '{"k": 1}'),
        (1, "1969-12-31 00:00:00", 1, "click", 2.0, '{"k": 1}'),
        (2, "1969-06-15 12:00:00", 2, "purchase", 3.0, '{"k": 1}'),
        (3, "1969-06-15 12:00:00.000001", 2, "purchase", 4.0, '{"k": 1}'),
        (4, "1970-01-01 00:00:00", 1, "view", 5.0, '{"k": 1}'),
        (5, "1970-01-01 00:00:00.000001", 3, "error", 6.0, '{"k": 1}'),
        (6, "1900-02-28 23:59:59", 4, "view", 7.0, '{"k": 1}'),
        (7, "2000-02-29 12:00:00", 4, "signup", 8.0, '{"k": 1}'),
        (8, "9999-12-31 23:59:59.999999", 5, "view", 9.0, '{"k": 1}'),
        (9, "9999-12-01 00:00:00", 5, "click", 10.0, '{"k": 1}'),
        (10, "2024-01-10 08:00:00", 1, "view", 11.0, '{"k": 1}'),
        (11, "2024-01-10 09:00:00", 2, "click", 12.0, '{"k": 1}'),
        (12, "2024-01-11 08:00:00", 1, "purchase", 13.0, '{"k": 1}'),
        (13, "2024-02-05 10:00:00", 3, "view", 14.0, '{"k": 1}'),
    ])


# Date-extreme companions for the `time` family: same corpus dir also
# carries TPC-H tables whose order/ship dates hit 1583 (first full
# post-Gregorian-adoption year), the 1899/1900 century edge, a leap
# day, and 9999-12-31 — probing fn_date's month arithmetic /
# yyyyMMdd round-trip / last_day, the date-ordered windows, and
# shipdate pushdown. Negative result on first run (r12): all agree
# cross-engine at every probed date — pinned here so a future
# calendar-handling change can't regress silently. Pre-1583 dates are
# deliberately excluded: parquet readers disagree about proleptic-vs-
# Julian rebasing before the Gregorian adoption, which is a storage
# dialect, not query semantics.
TIME_EXTRA_KEYS = ",".join([
    "fn_date", "win_first_last", "sort_detail_by_date",
    "scan_parquet_pushdown", "sql_tpch_q1", "limit_offset", "topk_global",
])


def write_dates_extremetpch(sfdir: str) -> None:
    write_tpch(sfdir)
    write_part(sfdir)
    t = pq.read_table(f"{sfdir}/orders.parquet")
    dates = t["o_orderdate"].to_pylist()
    for i, d in enumerate([dt.datetime(1583, 1, 1), dt.datetime(1899, 12, 31),
                           dt.datetime(1900, 3, 1), dt.datetime(9999, 12, 31),
                           dt.datetime(2000, 2, 29)]):
        dates[i] = d
    t = t.set_column(t.schema.get_field_index("o_orderdate"),
                     pa.field("o_orderdate", t.schema.field("o_orderdate").type),
                     pa.array(dates, t.schema.field("o_orderdate").type))
    pq.write_table(t, f"{sfdir}/orders.parquet")
    t = pq.read_table(f"{sfdir}/lineitem.parquet")
    sd = t["l_shipdate"].to_pylist()
    for i, d in enumerate([dt.datetime(1583, 1, 1), dt.datetime(9999, 12, 31),
                           dt.datetime(1899, 12, 31)]):
        sd[i] = d
    t = t.set_column(t.schema.get_field_index("l_shipdate"),
                     pa.field("l_shipdate", t.schema.field("l_shipdate").type),
                     pa.array(sd, t.schema.field("l_shipdate").type))
    pq.write_table(t, f"{sfdir}/lineitem.parquet")


def write_events_future(sfdir: str) -> None:
    """One absurd far-future event (corrupt clock — routine garbage in
    real logs) amid a normal 2024 stream: the hazard is a POISONED
    WATERMARK — if it jumps to year 9999 − delay, every later real event
    reads as late. Negative result pinned (r12): all six checkpointed
    keys stay cross-engine exact — under Trigger.AvailableNow the final
    watermark closes every window, so the staged-model oracles predict
    the identical emission; nothing is silently lost and nothing
    crashes. (A continuous deployment would still want an ingest-time
    sanity filter on event time; that is an operational note, not a
    query-semantics gap — the semantics are deterministic and agreed.)"""
    _write_event_rows(sfdir, [
        (0, "2024-01-10 09:00:00", 1, "view", 1.0, '{"k": 1}'),
        (1, "2024-01-10 10:00:00", 1, "click", 2.0, '{"k": 1}'),
        (2, "9999-12-31 23:00:00", 2, "view", 3.0, '{"k": 1}'),
        (3, "2024-01-10 11:00:00", 2, "purchase", 4.0, '{"k": 1}'),
        (4, "2024-01-11 09:30:00", 3, "view", 5.0, '{"k": 1}'),
        (5, "2024-01-11 10:15:00", 1, "error", 6.0, '{"k": 1}'),
    ])


def write_events_alllate(sfdir: str) -> None:
    """All-late arrival set: every event precedes stream_late_drop's Jan-5
    'mid' boundary, so the ON-TIME file is the zero-row micro-batch, the
    late rows pass the never-advanced initial watermark, and (being one
    day) close no window — emission empty on both engines. Clicks and
    purchases keep dedup/join non-trivial: u1's click is inside the 5-min
    attribution band, u2's is not."""
    _write_event_rows(sfdir, [
        (0, "2024-01-03 09:00:00", 1, "view", 1.0, '{"k": 1}'),
        (1, "2024-01-03 09:01:00", 1, "click", 1.5, '{"k": 1}'),
        (2, "2024-01-03 09:03:00", 1, "purchase", 10.0, '{"k": 2}'),
        (3, "2024-01-03 10:00:00", 2, "click", 2.0, '{"k": 1}'),
        (4, "2024-01-03 10:30:00", 2, "purchase", 20.0, '{"k": 3}'),
        (5, "2024-01-03 11:00:00", 3, "view", 3.0, '{"k": 1}'),
    ])


def write_events_arrival(sfdir: str) -> None:
    """Clean corpus for the ARRIVAL-POISON family (r13 verdict task 3):
    rows in all three of stream_late_drop's staged bands (on-time
    >= Jan 10, mid Jan 5-10, late < Jan 5) so every arrival file is
    non-empty and the on-time watermark closes the Jan-12 window."""
    _write_event_rows(sfdir, [
        (0, "2024-01-12 10:00:00", 1, "view", 1.0, '{"k": 1}'),
        (1, "2024-01-12 11:00:00", 1, "purchase", 5.0, '{"k": 1}'),
        (2, "2024-01-13 09:00:00", 2, "view", 2.0, '{"k": 1}'),
        (3, "2024-01-07 10:00:00", 1, "view", 3.0, '{"k": 2}'),
        (4, "2024-01-06 12:00:00", 2, "click", 1.5, '{"k": 2}'),
        (5, "2024-01-02 10:00:00", 3, "view", 4.0, '{"k": 3}'),
        (6, "2024-01-03 11:00:00", 3, "purchase", 9.0, '{"k": 3}'),
    ])


def staged_dir_present(arrival: str) -> bool:
    """The probes plant files into the dir the key staged; a renamed
    staging path must fail the family by name, not with a traceback."""
    if os.path.exists(f"{arrival}/_STAGED"):
        return True
    print(f"FAIL arrival_poison[staged_dir_missing] ({arrival}/_STAGED absent)")
    print("[degen_check] arrival_poison: FAIL")
    return False


def run_arrival_poison() -> bool:
    """ARRIVAL-POISON family (r13 verdict task 3): a corrupt/truncated
    parquet file or a schema-drift file planted in a STAGED STREAMING
    ARRIVAL DIR — the at-least-once 100 TB ingest failure mode (many
    writers dropping files into a watched folder). The batch families
    poison the source tables; this one poisons the drop folder itself,
    where the staging fingerprint (which guards the SOURCE fixture)
    cannot see it. Contract, pinned by Staging.validateArrivals: every
    poison class fails LOUD naming the file, commits NO output, and the
    dir serves green again once the poison is removed. The dropped-
    column probe is the dangerous one — without the footer gate the file
    source NULL-fills the missing column and aggregates a phantom NULL
    group, silently wrong vs the oracle."""
    d = "/tmp/degen_arrival"
    arrival = "/tmp/graft_sld_in_degen_arrival"
    outdir = "/tmp/vout_degen_arrival"
    key = "stream_late_drop"
    subprocess.run(["rm", "-rf", d, arrival], check=True)
    os.makedirs(d)
    write_events_arrival(d)
    # Clean pass stages the arrival dir and proves the cross-engine gate.
    ok = run_family("arrival_clean", d, key)
    if not staged_dir_present(arrival):
        return False

    def loud_probe(label: str, writer, expect_msg: str,
                   pkey: str = key, parrival: str = None,
                   pname: str = "3_poison.parquet") -> bool:
        poison = f"{parrival or arrival}/{pname}"
        writer(poison)
        subprocess.run(["rm", "-rf", outdir], check=True)
        env = dict(os.environ, SPARK_GRAFT_CPUS="32", SPARK_GRAFT_KEYS=pkey)
        p = subprocess.run(
            ["sbt", "-batch", f"runMain graft.Verify {d} {outdir}"],
            env=env, capture_output=True, text=True)
        line = next((l for l in p.stderr.splitlines()
                     if l.startswith(f"[verify] {pkey} failed:")), None)
        committed = os.path.exists(f"{outdir}/{pkey}/_SUCCESS")
        okp = (line is not None
               and f"poisoned arrival file {pname}" in line
               and expect_msg in line and not committed)
        why = ("" if okp else
               " (no failure line)" if line is None else
               " (output committed despite poison)" if committed else
               f" (wanted '{expect_msg}' in: {line})")
        print(f"{'PASS' if okp else 'FAIL'} arrival_poison[{label}]{why}")
        os.remove(poison)
        return okp

    ts_utc = pa.timestamp("us", tz="UTC")

    def w_corrupt(path):
        with open(path, "wb") as f:
            f.write(b"PAR1 this is not a parquet footer")

    def w_typedrift(path):  # value DOUBLE -> STRING
        pq.write_table(pa.table({
            "event_id": pa.array([99], pa.int64()),
            "ts": pa.array([dt.datetime(2024, 1, 12, 12)], ts_utc),
            "user_id": pa.array([9], pa.int64()),
            "event_type": pa.array(["view"], pa.string()),
            "value": pa.array(["oops"], pa.string()),
            "props": pa.array(["{}"], pa.string()),
        }), path)

    def w_dropcol(path):  # event_type column MISSING entirely
        pq.write_table(pa.table({
            "event_id": pa.array([99], pa.int64()),
            "ts": pa.array([dt.datetime(2024, 1, 12, 12)], ts_utc),
            "user_id": pa.array([9], pa.int64()),
            "value": pa.array([1.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }), path)

    ok = loud_probe("corrupt_footer", w_corrupt,
                    "unreadable parquet footer") and ok
    ok = loud_probe("type_drift", w_typedrift,
                    "column value expected double, got string") and ok
    ok = loud_probe("dropped_column", w_dropcol,
                    "column event_type expected string, got MISSING") and ok
    # Extension-bypass class (r14 ADVICE / r15): the file stream source
    # lists every non-hidden file regardless of suffix, so a poison named
    # anything but *.parquet slipped past the r14 gate's extension filter
    # and reopened the NULL-fill class mid-batch. The gate now mirrors
    # the source's listing rule — a corrupt `.pq` must fail loud up
    # front, naming the file, exactly like its .parquet twin.
    ok = loud_probe("corrupt_nonparquet_name", w_corrupt,
                    "unreadable parquet footer",
                    pname="3_poison.pq") and ok
    ok = loud_probe("dropped_column_nonparquet_name", w_dropcol,
                    "column event_type expected string, got MISSING",
                    pname="3_poison.snappy") and ok

    # BENIGN class, pinned so the gate can't silently over-tighten: an
    # arrival file with EXTRA columns is legitimate drift (new producers
    # add fields) — the explicit-schema reader ignores the extras and
    # the stream must run AND still match the oracle. The planted row
    # sits at the existing max on-time timestamp, so the watermark and
    # the emitted (closed-window) result are unchanged; its window stays
    # open and never emits.
    benign = f"{arrival}/3_benign_extra.parquet"
    pq.write_table(pa.table({
        "event_id": pa.array([98], pa.int64()),
        "ts": pa.array([dt.datetime(2024, 1, 13, 9)], ts_utc),
        "user_id": pa.array([9], pa.int64()),
        "event_type": pa.array(["view"], pa.string()),
        "value": pa.array([1.0], pa.float64()),
        "props": pa.array(["{}"], pa.string()),
        "extra_col": pa.array(["new-producer-field"], pa.string()),
    }), benign)
    ok_benign = run_family("arrival_benign_extra", d, key)
    print(f"{'PASS' if ok_benign else 'FAIL'} arrival_poison[benign_extra_column]")
    ok = ok_benign and ok
    os.remove(benign)

    # Recovery: poison removed -> the SAME staged dir serves green again
    # (the guard rejects files, it never wipes the drop folder).
    ok = run_family("arrival_recovered", d, key) and ok

    # Shared-path probe (r14 review find: the gate began life on
    # stream_late_drop only): validateArrivals runs at EVERY staged
    # arrival read site, so pin a SECOND key's drop folder against the
    # dropped-column class end-to-end.
    key2 = "stream_dedup"
    arrival2 = "/tmp/graft_sdd_in_degen_arrival"
    ok = run_family("arrival2_clean", d, key2) and ok  # stages arrival2
    if not staged_dir_present(arrival2):
        return False
    ok = loud_probe("dropped_column_stream_dedup", w_dropcol,
                    "column event_type expected string, got MISSING",
                    pkey=key2, parrival=arrival2) and ok
    ok = run_family("arrival2_recovered", d, key2) and ok

    print(f"[degen_check] arrival_poison: {'OK' if ok else 'FAIL'}")
    return ok


# ONE corpus list shared by `stream` mode and the default full gate —
# the two paths previously drifted: the default path ran stream_zero
# against a dir only `stream` mode ever created (r11 review find).
# Defined HERE, directly below its writer functions, as a single
# assignment (r11 ADVICE: the old empty-declaration + distant .extend
# invited exactly the import-order drift this list exists to prevent);
# main() additionally asserts the expected family count.
STREAM_CORPORA = [
    ("stream_empty", "/tmp/degen_s_empty", write_events_emptybatch),
    ("stream_single", "/tmp/degen_s_single", write_events_single),
    ("stream_alllate", "/tmp/degen_s_late", write_events_alllate),
    ("stream_zero", "/tmp/degen_s_zero", write_events_empty),
    ("stream_dirty", "/tmp/degen_s_dirty", write_events_dirty),
    ("stream_future", "/tmp/degen_s_future", write_events_future),
]


def write_embeddings(sfdir: str) -> None:
    def vec(seed: int):
        # deterministic pseudo-random floats, exactly representable in f32
        return [((seed * 37 + i * 13) % 19 - 9) / 8.0 for i in range(64)]

    probe = vec(1)
    vecs = [
        (0, probe, 0),                       # the probe every sim key uses
        (1, probe, 1),                       # exact duplicate of the probe
        (2, [2 * x for x in probe], 2),      # scaled copy: cos = 1
        (3, [0.0] * 64, 0),                  # ZERO vector: cosine undefined
        (4, [-x for x in probe], 1),         # exact negation: cos = -1
        (15, vec(5), 2),                     # exact duplicate of vec 5
    ] + [(i, vec(i), i % 5) for i in range(5, 15)]
    vecs.sort()
    t = pa.table({
        "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
        "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
        "label": pa.array([v[2] for v in vecs], pa.int32()),
    })
    pq.write_table(t, f"{sfdir}/embeddings.parquet")


def write_embeddings_dirty(sfdir: str) -> None:
    """MALFORMED-vector corpus (r12): non-finite components, NULL
    elements, truncated/overlong/empty vectors, NULL embedding rows —
    the corrupt-row classes a failed upstream encoder or a truncated
    parquet write produces at 100 TB. The probe (vec_id 0) and a
    majority of rows stay clean so every key still has real work."""
    def vec(seed: int):
        return [((seed * 37 + i * 13) % 19 - 9) / 8.0 for i in range(64)]

    nan_v = vec(6); nan_v[17] = float("nan")       # one NaN component
    inf_v = vec(7); inf_v[3] = float("inf")        # one +Inf component
    ninf_v = vec(8); ninf_v[63] = float("-inf")    # -Inf in the last slot
    nullel = vec(9); nullel[5] = None              # NULL element mid-vector
    vecs = [
        (0, vec(1), 0),          # the clean probe
        (1, vec(2), 1),
        (2, vec(3), 2),
        (3, vec(4), 0),
        (4, vec(5), 1),
        (5, nan_v, 2),
        (6, inf_v, 0),
        (7, ninf_v, 1),
        (8, nullel, 2),
        (9, vec(10)[:32], 0),    # truncated: 32 of 64 dims
        (10, vec(11) + [1.0] * 16, 1),  # overlong: 80 dims
        (11, [], 2),             # empty vector
        (12, None, 0),           # NULL embedding row
        (13, vec(12), 1),
        (14, vec(13), 2),
        # NEGATIVE labels (signed-hash/corrupt metadata): the IVF cell
        # fold must agree cross-engine — Spark pmod is non-negative,
        # DuckDB % preserves sign, so a bare % oracle silently splits
        # the cell space.
        (15, vec(14), -3),
        (16, vec(15), -2147483645),
    ]
    t = pa.table({
        "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
        "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
        "label": pa.array([v[2] for v in vecs], pa.int32()),
    })
    pq.write_table(t, f"{sfdir}/embeddings.parquet")


def write_embeddings_badprobe(sfdir: str) -> None:
    """MALFORMED-PROBE corpus (r13, the r12 ADVICE item): vec_id 0 itself
    is corrupt (one NaN component). embeddings_dirty deliberately keeps
    the probe clean, so the probe-side halves of the malformed-vector
    contract were only argued, not gated: index keys (LSH/IVF) must
    return EMPTY identically in both engines (the probe is not usable,
    so it has no bucket/cell — the oracle probe CTEs read the filtered
    set, the r13 duckIvf fix), and brute-force keys must answer NULL
    cosine for every row (unscorable probe) rather than NaN-win or
    diverge."""
    def vec(seed: int):
        return [((seed * 37 + i * 13) % 19 - 9) / 8.0 for i in range(64)]

    bad_probe = vec(1)
    bad_probe[17] = float("nan")
    vecs = [(0, bad_probe, 0)] + [(i, vec(i), i % 5) for i in range(1, 12)]
    t = pa.table({
        "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
        "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
        "label": pa.array([v[2] for v in vecs], pa.int32()),
    })
    pq.write_table(t, f"{sfdir}/embeddings.parquet")


def write_part(sfdir: str) -> None:
    rows = [
        (1, "", "", "", 0, 0.0),                         # all-empty strings
        (2, " ", "Brand#1", " ", 1, 1.0),                # whitespace-only
        (3, "a", "Brand#12", "x", 2, 2.0),               # 1-char name/type
        (4, "NOVOWELS", "Brand#23", "TYPE ONLY", 3, 3.0),  # no lowercase match
        (5, "two words", "Brand#2", "a  b", 4, 4.0),     # double space in type
        (6, "ends space ", "Brand#3", "t t t", 5, 5.0),  # trailing space
        (7, " starts", "no-hash-brand", "u", 6, 6.0),    # brand without '#'
        (8, "tie name", "Brand#12", "v w", 7, 9.0),      # retailprice tie ...
        (9, "tie name", "Brand#12", "v w", 8, 9.0),      # ... same brand
        (10, "chartreuse lemon powder puff", "Brand#23", "MEDIUM POLISHED", 9, 10.0),
        (11, "neg size", "Brand#11", "w", -1, 11.0),   # negative index: from-the-end
        (12, "neg two", "Brand#12", "w w", -2, 12.0),
        # Dotless ı (U+0131): the ONE locale-sensitive case class both
        # engines agree on (ı never folds to i; upper('ı') = I in both),
        # so it can be pinned cross-engine: fn_collation must keep the
        # ı-group apart from the ISSIZ→issiz group while the pre-upper
        # row 14 merges with row 13's upper fan-out. The diverging
        # classes (İ SpecialCasing, ß→SS vs U+1E9E, final sigma) are
        # pinned Spark-side in Round3Spec instead — Spark/ICU and
        # DuckDB/utf8proc genuinely disagree there (measured r11).
        (13, "turkish brand", "ıssiz#9", "t u", 10, 13.0),
        (14, "turkish upper", "ISSIZ#9", "t u", 11, 14.0),
        # Vertical tab in p_type: Java `\s` includes \x0B, RE2's does
        # not — a bare `\s+` split diverged silently here until the r12
        # explicit-class fix ([ \t\n\x0B\f\r]+ both sides). 3 tokens.
        (15, "vt type row", "Brand#31", "a\x0bb\tc", 12, 15.0),
    ]
    t = pa.table({
        "p_partkey": pa.array([r[0] for r in rows], pa.int64()),
        "p_name": pa.array([r[1] for r in rows], pa.string()),
        "p_brand": pa.array([r[2] for r in rows], pa.string()),
        "p_type": pa.array([r[3] for r in rows], pa.string()),
        "p_size": pa.array([r[4] for r in rows], pa.int32()),
        "p_retailprice": pa.array([r[5] for r in rows], pa.float64()),
    })
    pq.write_table(t, f"{sfdir}/part.parquet")


def write_tpch(sfdir: str) -> None:
    """Degenerate TPC-H-ish tables: broken foreign keys (orphan lineitems,
    customers of a nonexistent nation), empty-string dimension names,
    childless parents (region without nations, customer without orders,
    order without lineitems), exact ties on every ranking column, and
    boundary quantities/discounts (0, 1). Dates span the TPC-H filter
    ranges so the fixed-predicate SQL keys see non-empty input."""
    ts = dt.datetime.fromisoformat

    def tbl(path, cols):
        pq.write_table(pa.table(cols), path)

    tbl(f"{sfdir}/region.parquet", {
        "r_regionkey": pa.array([0, 1, 2], pa.int32()),
        "r_name": pa.array(["AMERICA", "", "EMPTYREGION"], pa.string()),
    })
    # region 2 has no nations; nation 3 points at a nonexistent region 9
    tbl(f"{sfdir}/nation.parquet", {
        "n_nationkey": pa.array([0, 1, 2, 3], pa.int32()),
        "n_name": pa.array(["BRAZIL", "", "GERMANY", "ORPHANIA"], pa.string()),
        "n_regionkey": pa.array([0, 0, 1, 9], pa.int32()),
    })
    tbl(f"{sfdir}/customer.parquet", {
        "c_custkey": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "c_name": pa.array(["c one", "", "c three", "c four", "c five"], pa.string()),
        "c_nationkey": pa.array([0, 1, 2, 8, 0], pa.int32()),  # 8: broken FK
        "c_acctbal": pa.array([100.0, 100.0, -5.0, 0.0, 9999.99], pa.float64()),
        "c_mktsegment": pa.array(["BUILDING", "BUILDING", "", "AUTOMOBILE",
                                  "BUILDING"], pa.string()),
    })
    tbl(f"{sfdir}/supplier.parquet", {
        "s_suppkey": pa.array([1, 2, 3], pa.int64()),
        "s_name": pa.array(["s one", "", "s three"], pa.string()),
        "s_nationkey": pa.array([0, 2, 7], pa.int32()),  # 7: broken FK
        "s_acctbal": pa.array([0.0, -1.0, 50.0], pa.float64()),
    })
    # customer 4 has no orders; order 100 belongs to nonexistent customer 99;
    # orders 10/11 share a date and a price (ties)
    okeys = [1, 2, 3, 10, 11, 100]
    tbl(f"{sfdir}/orders.parquet", {
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array([1, 1, 2, 3, 5, 99], pa.int64()),
        "o_orderstatus": pa.array(["O", "F", "O", "F", "F", "P"], pa.string()),
        "o_totalprice": pa.array([10.0, 20.0, 20.0, 7.5, 7.5, 0.0], pa.float64()),
        "o_orderdate": pa.array([ts("1995-03-10"), ts("1995-03-10"),
                                 ts("1994-01-01"), ts("1996-07-04"),
                                 ts("1996-07-04"), ts("1993-02-28")],
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(["1-URGENT", "1-URGENT", "", "5-LOW",
                                     "3-MEDIUM", "2-HIGH"], pa.string()),
    })
    # order 3 has no lineitems; lineitem with l_orderkey 999 is an orphan;
    # quantities/discounts at boundaries (0 qty, 0 and 1 discount)
    li = [
        # (okey, pkey, skey, ln, qty, price, disc, tax, rf, ls, ship)
        (1, 1, 1, 1, 0.0, 0.0, 0.0, 0.0, "N", "O", "1995-03-20"),
        (1, 3, 1, 2, 10.0, 100.0, 1.0, 0.1, "N", "O", "1995-03-21"),
        (2, 4, 2, 1, 5.0, 50.0, 0.05, 0.0, "R", "F", "1994-02-02"),
        (2, 4, 2, 2, 5.0, 50.0, 0.05, 0.0, "R", "F", "1994-02-02"),  # exact dup line
        (10, 5, 3, 1, 30.0, 300.0, 0.1, 0.08, "A", "F", "1996-07-10"),
        (11, 8, 1, 1, 30.0, 300.0, 0.1, 0.08, "A", "F", "1996-07-10"),  # tie twin
        (100, 9, 2, 1, 2.0, 9.0, 0.02, 0.0, "N", "F", "1993-03-01"),
        (999, 10, 9, 1, 7.0, 70.0, 0.07, 0.01, "R", "O", "1997-01-15"),  # orphan
    ] + [
        # 52-row group "Z" whose measures are ALL NULL: big enough to pass
        # the approx-quantile verdict's n>=52 soundness gate while its
        # sketch is NULL — the exact scenario the round-10 ADVICE flagged
        # (verdict must claim nothing, not go NULL vs the oracle's TRUE).
        # Orphan orderkeys (2000+) keep the rows out of the order-joining
        # SQL keys; group-by-returnflag keys see an all-NULL measure group.
        (2000 + i, 11, 3, 1, None, None, 0.0, 0.0, "Z", "Z",
         f"1995-06-{(i % 28) + 1:02d}")
        for i in range(52)
    ]
    tbl(f"{sfdir}/lineitem.parquet", {
        "l_orderkey": pa.array([r[0] for r in li], pa.int64()),
        "l_partkey": pa.array([r[1] for r in li], pa.int64()),
        "l_suppkey": pa.array([r[2] for r in li], pa.int64()),
        "l_linenumber": pa.array([r[3] for r in li], pa.int32()),
        "l_quantity": pa.array([r[4] for r in li], pa.float64()),
        "l_extendedprice": pa.array([r[5] for r in li], pa.float64()),
        "l_discount": pa.array([r[6] for r in li], pa.float64()),
        "l_tax": pa.array([r[7] for r in li], pa.float64()),
        "l_returnflag": pa.array([r[8] for r in li], pa.string()),
        "l_linestatus": pa.array([r[9] for r in li], pa.string()),
        "l_shipdate": pa.array([ts(r[10]) for r in li], pa.timestamp("us")),
    })


# Unicode corpus: BMP accents, CJK, astral (surrogate pairs), RTL,
# combining marks, case-folding dups. The Scala char folds used to
# iterate UTF-16 units (astral chars fold as two surrogates) where the
# oracle iterates code points — exact only on the BMP until the round-10
# cpFold fix; the multimodal byte ops needed a true UTF-8-byte oracle.
UNI_ROWS = [
    (1, "héllo wörld déjà vu", "fr", "web"),
    (2, "日本語 テキスト 処理", "en", "web"),
    (3, "🎼 𝄞 music 🎶 notes", "en", "web"),
    (4, "مرحبا بالعالم", "de", "web"),
    (5, "é combining mark", "fr", "web"),
    (6, "ASCII and 中文 and émoji 😀", "en", "web"),
    (7, "🎼 𝄞 music 🎶 notes", "de", "web"),      # exact dup of 3
    (8, "naïve naïve naïve", "fr", "web"),
    (9, "αβγ δεζ ηθι", "de", "web"),
    (10, "the quick brown fox", "en", "web"),
    (11, "HÉLLO WÖRLD DÉJÀ VU", "en", "web"),     # case-folding dup of 1
    (12, "𝄞", "fr", "web"),                        # single astral char
    # Dotless ı: NOT a case dup of its ASCII-I uppercase under either
    # engine's lower() (lower('I') = i ≠ ı) — pins that neither engine
    # false-merges the Turkish pair. İ/ß/final-sigma stay OUT of
    # cross-engine corpora: Spark (ICU SpecialCasing, context-aware
    # sigma) and DuckDB (utf8proc per-codepoint) genuinely diverge —
    # measured r11, pinned Spark-side in Round3Spec.
    (13, "ıssız kıyı yazı", "de", "web"),
    (14, "ISSIZ KIYI YAZI", "en", "web"),
    # r12 additions — every row below is an AGREEING class, measured
    # against both engines this round:
    # Vertical tab: Java `\s` has \x0B, RE2's does not — the bare `\s+`
    # canon collapse in dedup_exact_normalized silently diverged on VT
    # until the explicit-class fix. Rows 15/16 must now land in the SAME
    # canon group in BOTH engines (VT run collapses to one space).
    (15, "vt\x0b\x0bspaced  variant doc", "en", "web"),
    (16, "vt spaced variant doc", "en", "web"),
    # Zero-width space and NBSP are NOT whitespace to either engine's
    # tokenizer, `\s`, or trim — each stays inside its token.
    (17, "zero\u200bwidth stays one token", "de", "web"),
    (18, "nb\u00a0sp stays one token", "fr", "web"),
    # Capital sharp s U+1E9E: lower() → ß in BOTH engines (unlike the
    # excluded ß→SS upper class) — rows 19/20 must canon-merge.
    (19, "STRAẞE route map", "en", "web"),
    (20, "straße route map", "de", "web"),
    # Uppercase Cherokee lowers to the Unicode-8 lowercase syllabary
    # range identically in ICU and utf8proc; titlecase ǅ → ǆ agrees;
    # standalone Σ (no preceding cased letter) → σ in both — ICU's
    # context-sensitive final-sigma rule only fires mid-word.
    (21, "ᏣᎳᎩ syllabary line", "en", "web"),
    (22, "ǅungla Σ symbols", "fr", "web"),
]


def write_unicode_documents(sfdir: str) -> None:
    t = pa.table({
        "doc_id": pa.array([r[0] for r in UNI_ROWS], pa.int64()),
        "text": pa.array([r[1] for r in UNI_ROWS], pa.string()),
        "lang": pa.array([r[2] for r in UNI_ROWS], pa.string()),
        "source": pa.array([r[3] for r in UNI_ROWS], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in UNI_ROWS], pa.int64()),
    })
    pq.write_table(t, f"{sfdir}/documents.parquet")


# Universe-mode exclusions, with the reason each is NOT a latent bug.
UNIVERSE_EXCLUDE = {
    # vschema hardcodes the fixture corpus's 'OBJECT<k: BIGINT>' — a
    # DuckDB re-derivation of Spark's schema_of_variant string for
    # arbitrary JSON isn't expressible; the key's malformed-input
    # TOLERANCE (try_parse_json / try_variant_get) IS exercised here and
    # on the fixture gate.
    "fn_variant": "oracle vschema is fixture-shaped by design",
}


def inject_nulls(sfdir: str) -> None:
    """Second-stage adversary: rewrite the universe's TPC-H tables with
    NULLs in nullable-looking columns (quantities, prices, balances,
    dates, segments) plus one NULL-value event. NULL ordering is where
    the engines' DEFAULTS genuinely differ (Spark ASC = NULLS FIRST,
    DuckDB = NULLS LAST; windows likewise), so any key whose result
    depends on sort order over these columns must pin NULL placement
    explicitly on the oracle side. events.ts stays non-NULL: the
    streaming keys' watermark staging is not defined over NULL event
    time (a real pipeline filters those at ingest)."""
    import pyarrow.compute as pc

    def mask(path, col, idx):
        t = pq.read_table(path)
        arr = t[col].to_pylist()
        for i in idx:
            arr[i % len(arr)] = None
        t = t.set_column(t.schema.get_field_index(col),
                         pa.field(col, t.schema.field(col).type),
                         pa.array(arr, t.schema.field(col).type))
        pq.write_table(t, path)

    mask(f"{sfdir}/lineitem.parquet", "l_quantity", [2])
    mask(f"{sfdir}/lineitem.parquet", "l_discount", [4])
    mask(f"{sfdir}/lineitem.parquet", "l_shipdate", [6])
    mask(f"{sfdir}/orders.parquet", "o_totalprice", [1])
    mask(f"{sfdir}/orders.parquet", "o_orderdate", [5])
    mask(f"{sfdir}/customer.parquet", "c_acctbal", [2])
    mask(f"{sfdir}/customer.parquet", "c_mktsegment", [3])
    mask(f"{sfdir}/supplier.parquet", "s_acctbal", [1])
    mask(f"{sfdir}/events.parquet", "value", [20])
    mask(f"{sfdir}/part.parquet", "p_retailprice", [5])


def truncate_all(sfdir: str) -> None:
    """Rewrite every table in `sfdir` as ZERO ROWS with its schema kept —
    the all-empty universe (r11): a warehouse directory that exists but
    has no data yet. Found three crash classes on first run (staged
    day-partition read-back inference, closure max() head on NULL) and
    the grouping-sets grand-total dialect gap (Spark Expand emits no ()
    group over zero rows; DuckDB follows the standard — oracles gate on
    HAVING count(*) > 0, a no-op on non-empty input)."""
    import glob as _glob
    for f in _glob.glob(f"{sfdir}/*.parquet"):
        t = pq.read_table(f)
        pq.write_table(t.slice(0, 0), f)


# Batch value-domain contract probes (r12, VERDICT r11 task 3).
#
# win_range_numeric's cents bucketing and the lineitem-cents batch keys
# deliberately keep BARE ANSI casts — finite, 2-decimal money values are
# part of those queries' contract (TPC-H-shaped input), unlike the
# streaming ingest surface where raw logs enter (stream_dirty family,
# which pins try_cast TOLERANCE). That contract is defensible ONLY if a
# breach is LOUD: one NaN/±Inf/1e300 row must kill the query with a
# clear ANSI [CAST_OVERFLOW] (SQLSTATE 22003, "use try_cast" hint) —
# never silently produce wrong numbers. Spark's cast-overflow error
# carries the offending VALUE but no query context (measured r12:
# castingCauseOverflowError takes no context parameter), so each probe
# dirties exactly ONE column with a DISTINCT sentinel value and asserts
# the sentinel appears in the failure line — the probe construction,
# not the message, is what names the column.
#
# Keys per probe are the ones whose cast the dirty row provably
# reaches: agg_corr_stats / agg_skew_kurt scan ALL of lineitem with no
# predicate; sql_tpch_q1's shipdate span covers every fixture row; the
# dirtied event row is a purchase (win_range_numeric's filter). The
# remaining lineitem-cents SQL keys (q3/q5/q11/q17/q19…) share the
# identical CAST(round(col*100) AS BIGINT) recipe behind join/filter
# predicates, so the same error class covers a breach that reaches
# them.
BATCH_DIRTY_PROBES = [
    # (table, column, row-idx, value, error-class, sentinel-in-message, keys)
    ("events", "value", 1, float("nan"), "CAST_OVERFLOW", "NaN",
     "win_range_numeric"),
    ("lineitem", "l_extendedprice", 0, float("nan"), "CAST_OVERFLOW", "NaN",
     "sql_tpch_q1,agg_corr_stats"),
    ("lineitem", "l_discount", 2, float("inf"), "CAST_OVERFLOW", "Infinity",
     "sql_tpch_q1,agg_corr_stats,agg_skew_kurt"),
    # the cast sees round(value * 100), so 1e300 surfaces as 1.0E302
    ("lineitem", "l_tax", 4, 1e300, "CAST_OVERFLOW", "1.0E302",
     "sql_tpch_q1,agg_corr_stats"),
    # agg_corr_stats' domain is TIGHTER than the cast bound: it squares
    # cents per row (pc*pc into the i128 sum), so |cents| ≳ 3.03e9
    # (|v| ≳ $3.0e7) overflows the BIGINT product while the cast and
    # q1's smaller cross-multiplies still fit — found by this family's
    # positive control at 4e9 (r12). ARITHMETIC_OVERFLOW carries no
    # value sentinel; the probe construction names column and value.
    ("lineitem", "l_extendedprice", 1, 4.0e9, "ARITHMETIC_OVERFLOW", "",
     "agg_corr_stats"),
]


def _inject_dirty(sfdir: str, table: str, col: str, idx: int, val: float) -> None:
    path = f"{sfdir}/{table}.parquet"
    t = pq.read_table(path)
    arr = t[col].to_pylist()
    arr[idx] = val
    t = t.set_column(t.schema.get_field_index(col),
                     pa.field(col, t.schema.field(col).type),
                     pa.array(arr, t.schema.field(col).type))
    pq.write_table(t, path)


def run_batch_dirty() -> bool:
    """LOUD-FAILURE family: unlike every other family (which asserts the
    oracle compare passes), this one asserts each probed key FAILS with
    the documented ANSI error and commits NO output — a silently-wrong
    result or a silent success is the failure mode under test."""
    all_ok = True
    d = "/tmp/degen_bdirty"
    outdir = "/tmp/vout_degen_bdirty"
    for table, col, idx, val, err_class, sentinel, keys in BATCH_DIRTY_PROBES:
        subprocess.run(["rm", "-rf", d, outdir], check=True)
        os.makedirs(d)
        write_tpch(d)
        _write_event_rows(d, [  # three purchases; idx 1 takes the dirt
            (0, "2024-01-10 10:00:00", 1, "purchase", 5.0, '{"k": 1}'),
            (1, "2024-01-10 11:00:00", 1, "purchase", 6.0, '{"k": 1}'),
            (2, "2024-01-10 12:00:00", 2, "purchase", 7.0, '{"k": 1}'),
        ])
        _inject_dirty(d, table, col, idx, val)
        env = dict(os.environ, SPARK_GRAFT_CPUS="32", SPARK_GRAFT_KEYS=keys)
        p = subprocess.run(
            ["sbt", "-batch", f"runMain graft.Verify {d} {outdir}"],
            env=env, capture_output=True, text=True)
        err_lines = [l for l in p.stderr.splitlines()
                     if l.startswith("[verify] ")]
        for k in keys.split(","):
            line = next((l for l in err_lines
                         if l.startswith(f"[verify] {k} failed:")), None)
            loud = (line is not None and err_class in line
                    and sentinel in line)
            committed = os.path.exists(f"{outdir}/{k}/_SUCCESS")
            ok = loud and not committed
            all_ok = all_ok and ok
            why = ("" if ok else
                   " (no failure line)" if line is None else
                   f" ({err_class} missing)" if err_class not in line else
                   f" (sentinel {sentinel} missing)" if sentinel not in line
                   else " (output committed despite failure)")
            print(f"{'PASS' if ok else 'FAIL'} "
                  f"loud[{table}.{col}={sentinel or val}] {k}{why}")
    # POSITIVE control: a large value INSIDE every probed key's domain
    # (2.0e7 → 2e9 cents: corr's per-row square is 4e18 < BIGINT max,
    # q1's triple cross-multiply ~4e13) must still pass the FULL oracle
    # compare — loudness begins AT the domain boundary, not before, and
    # the big value flows through cents sums / corr moments / the range
    # window bucketing with exact cross-engine agreement. (This control
    # at 4e9 is what FOUND the corr square-overflow probe above.)
    subprocess.run(["rm", "-rf", d], check=True)
    os.makedirs(d)
    write_tpch(d)
    _write_event_rows(d, [
        (0, "2024-01-10 10:00:00", 1, "purchase", 5.0, '{"k": 1}'),
        (1, "2024-01-10 11:00:00", 1, "purchase", 6.0, '{"k": 1}'),
        (2, "2024-01-10 12:00:00", 2, "purchase", 7.0, '{"k": 1}'),
    ])
    _inject_dirty(d, "lineitem", "l_extendedprice", 1, 2.0e7)
    _inject_dirty(d, "events", "value", 1, 2.0e7)
    ok_pos = run_family(
        "bdirty_poscontrol", d,
        "win_range_numeric,sql_tpch_q1,agg_corr_stats,agg_skew_kurt")
    all_ok = all_ok and ok_pos
    print(f"[degen_check] batch_dirty: "
          f"{'all probes loud, positive control exact' if all_ok else 'FAIL'}")
    return all_ok


def run_family(label: str, sfdir: str, keys: str | None) -> bool:
    outdir = f"/tmp/vout_degen_{label}"
    subprocess.run(["rm", "-rf", outdir], check=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS="32")
    if keys:
        env["SPARK_GRAFT_KEYS"] = keys
    subprocess.run(["sbt", "-batch", f"runMain graft.Verify {sfdir} {outdir}"],
                   env=env, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    out = subprocess.run([sys.executable, "tools/check.py", sfdir, outdir],
                         capture_output=True, text=True).stdout
    selected = (set(keys.split(",")) if keys else
                {l.split()[1].rstrip(":") for l in out.splitlines()
                 if l.split()[:1] and l.split()[0] in
                 ("PASS", "FAIL", "ROWS-ONLY", "ROWS-ONLY-EMPTY?")})
    if not keys:
        for k, why in UNIVERSE_EXCLUDE.items():
            if k in selected:
                selected.discard(k)
                print(f"[degen_check] excluded {k}: {why}")
    n_pass = sum(1 for l in out.splitlines()
                 if l.startswith("PASS ") and l.split()[1].rstrip(":") in selected)
    fails = [l for l in out.splitlines()
             if l.startswith("FAIL ") and l.split()[1].rstrip(":") in selected]
    for l in out.splitlines():
        if l.split(" ", 1)[-1].split(":")[0] in selected:
            print(l)
    print(f"[degen_check] {label}: {n_pass}/{len(selected)} selected keys pass")
    return not fails and n_pass == len(selected)


def run_stream() -> bool:
    """Streaming-degenerate families only (fast iteration path)."""
    oks = []
    for label, d, w in STREAM_CORPORA:
        os.makedirs(d, exist_ok=True)
        w(d)
        oks.append(run_family(label, d, STREAM_KEYS))
    return all(oks)


def run_universe(variant: str | None) -> bool:
    """Whole-inventory mode: every table in ONE adversarial dir, every
    key (incl. the checkpointed streaming family, which stages its
    arrival files from the degenerate events) against its oracle.
    variant: None (adversarial), "nulls", or "empty"."""
    d = "/tmp/degen_all"
    os.makedirs(d, exist_ok=True)
    write_documents(d)
    write_embeddings(d)
    write_part(d)
    write_events(d)
    write_tpch(d)
    if variant == "nulls":
        inject_nulls(d)
    if variant == "empty":
        truncate_all(d)
    return run_family("all" if variant is None else f"all_{variant}", d, None)


def run_default() -> bool:
    """The per-table degenerate families (docs/events/emb/part/unicode)
    plus every streaming corpus — the original full gate."""
    for d in ("/tmp/degen_sf", "/tmp/degen_ev", "/tmp/degen_emb",
              "/tmp/degen_part"):
        os.makedirs(d, exist_ok=True)
    write_documents("/tmp/degen_sf")
    write_events("/tmp/degen_ev")
    write_documents("/tmp/degen_emb")
    write_embeddings("/tmp/degen_emb")
    write_part("/tmp/degen_part")
    os.makedirs("/tmp/degen_uni", exist_ok=True)
    write_unicode_documents("/tmp/degen_uni")
    os.makedirs("/tmp/degen_time", exist_ok=True)
    write_events_extremetime("/tmp/degen_time")
    write_dates_extremetpch("/tmp/degen_time")
    # Dirty doubles through the BATCH event keys (r12): the stream_dirty
    # corpus only ever ran the checkpointed keys — the batch aggregates
    # over the same dirty values were unprobed, and the first run found
    # agg_histogram's floor-saturation silently misfiling NaN into
    # bucket 0 (fixed: clamped total binning, NULL bin for NaN).
    # win_range_numeric stays out: its value domain is the LOUD contract
    # probed by batch_dirty.
    os.makedirs("/tmp/degen_ev_dirty", exist_ok=True)
    write_events_dirty("/tmp/degen_ev_dirty")
    dirty_batch_keys = ",".join(
        k for k in EVENT_KEYS.split(",") if k != "win_range_numeric")
    # Malformed vectors through the similarity keys (r12): before the
    # malformed-vector contract landed, this corpus crashed 5 keys (ANSI
    # element_at on truncated vectors, UDAF require / encoder NPE on
    # NULL rows) and silently diverged the other 5 (DotF32 min-length
    # partial dots, DuckDB list_sum NULL-skip, NaN top-k pollution).
    os.makedirs("/tmp/degen_emb_dirty", exist_ok=True)
    write_documents("/tmp/degen_emb_dirty")
    write_embeddings_dirty("/tmp/degen_emb_dirty")
    # Malformed PROBE (r13): the dirty corpus keeps vec 0 clean by
    # design; this one corrupts it, gating the probe-side contract
    # (index keys empty, brute-force keys NULL-scored, both engines).
    os.makedirs("/tmp/degen_emb_badprobe", exist_ok=True)
    write_documents("/tmp/degen_emb_badprobe")
    write_embeddings_badprobe("/tmp/degen_emb_badprobe")
    # Duplicate-saturation through the dedup/text keys (r12): negative
    # result pinned — the 11-doc dup clique surfaces all C(11,2)=55
    # candidate pairs in minhash/jaccard/simhash, cluster_cc converges
    # to one 11-member cluster, and the 5% df-cap variant finds ZERO
    # candidates on a saturated corpus (documented cap semantics).
    os.makedirs("/tmp/degen_docs_dup", exist_ok=True)
    write_documents_dup("/tmp/degen_docs_dup")
    write_embeddings("/tmp/degen_docs_dup")
    # Dirty doubles through the scalar math keys (r12): the engines'
    # libm-domain behavior genuinely differs on ±Inf/negatives/long-range
    # (see write_lineitem_dirty) — the r12 domain contracts make both
    # total; this family pins them plus the agreeing classes (NaN,
    # subnormal, 1e300 reduction, -0.0).
    os.makedirs("/tmp/degen_li_dirty", exist_ok=True)
    write_lineitem_dirty("/tmp/degen_li_dirty")
    # Length extremes through the docs keys (r12): ~10k-token doc + a
    # single 64 KiB token — negative result pinned first run (26/26
    # cross-engine exact; per-row work 1000x the fixture's stays
    # tractable on both sides).
    os.makedirs("/tmp/degen_docs_long", exist_ok=True)
    write_documents_long("/tmp/degen_docs_long")
    write_embeddings("/tmp/degen_docs_long")
    # Transitive 30-chain through the dedup graph keys (r12): diameter-29
    # component — plain min-label propagation loudly blew the 15-round
    # bound here (first run); pointer jumping converges in O(log d) and
    # the whole chain must match the oracle's recursive closure as ONE
    # 30-member cluster.
    os.makedirs("/tmp/degen_docs_chain", exist_ok=True)
    write_documents_chain("/tmp/degen_docs_chain")
    write_embeddings("/tmp/degen_docs_chain")
    ok_docs = run_family("docs", "/tmp/degen_sf", KEYS)
    ok_dup = run_family("docs_dup", "/tmp/degen_docs_dup", KEYS)
    ok_ev = run_family("events", "/tmp/degen_ev", EVENT_KEYS)
    ok_evd = run_family("events_dirty", "/tmp/degen_ev_dirty", dirty_batch_keys)
    ok_time = run_family("time", "/tmp/degen_time",
                         EVENT_KEYS + "," + TIME_EXTRA_KEYS)
    ok_emb = run_family("emb", "/tmp/degen_emb", EMB_KEYS)
    ok_embd = run_family("emb_dirty", "/tmp/degen_emb_dirty", EMB_KEYS)
    ok_embp = run_family("emb_badprobe", "/tmp/degen_emb_badprobe", EMB_KEYS)
    ok_part = run_family("part", "/tmp/degen_part", PART_KEYS)
    ok_uni = run_family("uni", "/tmp/degen_uni", KEYS)
    ok_lid = run_family("li_dirty", "/tmp/degen_li_dirty",
                        "fn_math,fn_trig,agg_percentiles,agg_approx_quantiles")
    ok_long = run_family("docs_long", "/tmp/degen_docs_long", KEYS)
    ok_chain = run_family(
        "docs_chain", "/tmp/degen_docs_chain",
        "dedup_cluster_cc,dedup_ngram_jaccard,dedup_near_minhash,"
        "dedup_simhash,dedup_ngram_capped,dedup_exact")
    return (ok_docs and ok_dup and ok_ev and ok_evd and ok_time and ok_emb
            and ok_embd and ok_embp and ok_part and ok_uni and ok_lid
            and ok_long and ok_chain and run_stream())


def main() -> None:
    # The streaming corpus list drives both `stream` mode and the default
    # gate; a refactor that loses a family must fail HERE, not silently
    # skip it (r11 ADVICE — the r11 fresh-machine crash was exactly a
    # corpus-list drift between modes).
    assert len(STREAM_CORPORA) == 6, \
        f"expected 6 streaming corpora, found {len(STREAM_CORPORA)}"
    mode = sys.argv[1] if len(sys.argv) > 1 else None
    if mode == "stream":
        sys.exit(0 if run_stream() else 1)
    if mode == "universe":
        variant = sys.argv[2] if len(sys.argv) > 2 else None
        sys.exit(0 if run_universe(variant) else 1)
    if mode == "batch_dirty":
        sys.exit(0 if run_batch_dirty() else 1)
    if mode == "arrival":
        sys.exit(0 if run_arrival_poison() else 1)
    if mode == "all":
        # ONE entry point, every family, one exit code (r11 verdict task
        # 5: the gate had grown to ~6 separate invocations, and the r11
        # fresh-machine crash was a drift between them). Runs every
        # section even after a failure so a single run reports the full
        # picture; this is THE post-change gate (README).
        results = {}
        results["default+stream"] = run_default()
        results["universe"] = run_universe(None)
        results["universe_nulls"] = run_universe("nulls")
        results["universe_empty"] = run_universe("empty")
        results["batch_dirty"] = run_batch_dirty()
        results["arrival_poison"] = run_arrival_poison()
        print("[degen_check] === all-mode summary ===")
        for name, ok in results.items():
            print(f"[degen_check] {name}: {'OK' if ok else 'FAIL'}")
        sys.exit(0 if all(results.values()) else 1)
    if mode is not None:
        print(f"[degen_check] unknown mode '{mode}' "
              "(expected: all | stream | universe [nulls|empty] | "
              "batch_dirty | arrival)")
        sys.exit(2)
    sys.exit(0 if run_default() else 1)


if __name__ == "__main__":
    main()
