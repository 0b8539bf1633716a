#!/usr/bin/env python3
"""Build xK synthetic scale-ups of the sf fixtures for empirical scaling runs.

Usage: python3 tools/scale_probe.py <srcSfDir> <destDir> <K> [div]

Copies every table, then scales events/documents/embeddings by K with
DISTINCT content per copy — the point is to measure how the engine's
shuffles/joins/hashes grow with N, so the copies must not collide:

- events: ids and users offset per copy, ts jittered +k seconds — daily
  windows keep their boundaries with K x the rows; distinct-user
  cardinality scales with K (events-per-user held constant).
- documents: every token gets a copy-unique suffix (regexp over word
  runs), so shingle/minhash/simhash candidate structure is K independent
  shards of the original's — duplication WITHOUT the suffix would instead
  measure saturation (already pinned by the docs_dup family), where every
  doc sits in a K-clique of exact dups and pair counts grow as K^2 by
  construction, telling us nothing about scaling.
- embeddings: ids offset, vectors perturbed by k/1024 per copy (exact in
  float32) so nearest-neighbor structure is K shifted copies, not
  distance-zero degeneracy. Labels are kept by default, so the
  fixed-IvfCells within-cell join gets K x bigger cells — deliberately
  measurable: that is exactly the documented sqrt(N) centroid-sizing
  caveat (SURVEY §7.6), and the probe quantifies what ignoring it costs.

With a trailing `facts` argument, lineitem and orders are ALSO scaled
by K (orderkey offset per copy keeps the orders<->lineitem join
consistent; dim keys untouched, so dims stay fixed while facts grow) —
the mode that lets the relational/TPC-H family run the same x16 gate
and scaling probes the events/docs/embeddings families have.

With a trailing `div` argument, labels are instead offset per copy
(label + i*1000), K x-ing the label alphabet — the data-side half of the
sqrt(N) rule. The fixture trainer folds LABELS into cells, so kept
labels cap the cell count at the base alphabet (~10) no matter what
SPARK_GRAFT_IVF_CELLS says; the diversified corpus lets a raised cell
count actually materialize more cells, which is what validating the rule
requires (engine-side knob: SPARK_GRAFT_IVF_CELLS ~ sqrt(N)).

Measurement protocol (manual, recorded in BASELINE.md):
  SPARK_GRAFT_KEYS=<set> SPARK_GRAFT_SF_DIR=<destDir> \
  sbt -batch "runMain graft.Bench"
"""
import os, shutil, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def build(src: str, dest: str, k: int, div_labels: bool = False,
          facts: bool = False) -> None:
    os.makedirs(dest, exist_ok=True)
    con = duckdb.connect()
    scaled = ("events", "documents", "embeddings") + (
        ("lineitem", "orders") if facts else ())
    for t in TABLES:
        p = f"{src}/{t}.parquet"
        if not os.path.exists(p):
            continue
        if t not in scaled:
            dp = f"{dest}/{t}.parquet"
            if os.path.isdir(p):
                shutil.copytree(p, dp, dirs_exist_ok=True)
            else:
                shutil.copyfile(p, dp)
    if facts:
        # `facts` mode (r15): scale the TPC-H fact tables too — orderkey
        # offset per copy keeps the orders<->lineitem join consistent;
        # dim keys (cust/part/supp) are NOT offset, so dims stay fixed
        # while facts grow with K: the realistic cluster shape (fact
        # growth dwarfs dim growth) and the one that stresses the
        # fact-fact join and fact-side aggregation, not dim explosion.
        # Prices are deliberately NOT perturbed: identical values across
        # copies are exactly the tie-heavy shape a 100 TB corpus has, and
        # any key whose output order is tie-ambiguous must already be
        # deterministic (its oracle would diverge on the dup-saturated
        # degen corpora otherwise).
        parts = [
            f"""
            SELECT o_orderkey + {i}::BIGINT * 1000000000000 AS o_orderkey,
                   o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                   o_orderpriority
            FROM read_parquet('{src}/orders.parquet')""" for i in range(k)]
        con.sql(f"COPY ({' UNION ALL '.join(parts)}) TO '{dest}/orders.parquet' (FORMAT PARQUET)")
        parts = [
            f"""
            SELECT l_orderkey + {i}::BIGINT * 1000000000000 AS l_orderkey,
                   l_partkey, l_suppkey, l_linenumber, l_quantity,
                   l_extendedprice, l_discount, l_tax, l_returnflag,
                   l_linestatus, l_shipdate
            FROM read_parquet('{src}/lineitem.parquet')""" for i in range(k)]
        con.sql(f"COPY ({' UNION ALL '.join(parts)}) TO '{dest}/lineitem.parquet' (FORMAT PARQUET)")
    parts = [
        f"""
        SELECT event_id + {i}::BIGINT * 1000000000000 AS event_id,
               ts + INTERVAL {i} SECOND AS ts,
               user_id + {i}::BIGINT * 1000000000 AS user_id,
               event_type, value, props
        FROM read_parquet('{src}/events.parquet')""" for i in range(k)]
    con.sql(f"COPY ({' UNION ALL '.join(parts)}) TO '{dest}/events.parquet' (FORMAT PARQUET)")
    parts = [
        (f"SELECT doc_id, text, lang, source, n_chars FROM read_parquet('{src}/documents.parquet')"
         if i == 0 else f"""
        SELECT doc_id + {i}::BIGINT * 1000000000 AS doc_id,
               regexp_replace(text, '([A-Za-z0-9_]+)', '\\1q{i}', 'g') AS text,
               lang, source,
               length(regexp_replace(text, '([A-Za-z0-9_]+)', '\\1q{i}', 'g')) AS n_chars
        FROM read_parquet('{src}/documents.parquet')""") for i in range(k)]
    con.sql(f"COPY ({' UNION ALL '.join(parts)}) TO '{dest}/documents.parquet' (FORMAT PARQUET)")
    label_expr = "label + {i}::BIGINT * 1000" if div_labels else "label"
    parts = [
        f"""
        SELECT vec_id + {i}::BIGINT * 1000000000 AS vec_id,
               CAST(list_transform(embedding, e -> e + {i} / 1024.0) AS FLOAT[]) AS embedding,
               {label_expr.format(i=i)} AS label
        FROM read_parquet('{src}/embeddings.parquet')""" for i in range(k)]
    con.sql(f"COPY ({' UNION ALL '.join(parts)}) TO '{dest}/embeddings.parquet' (FORMAT PARQUET)")
    for t in scaled:
        n = con.sql(f"SELECT count(*) FROM read_parquet('{dest}/{t}.parquet')").fetchone()[0]
        print(f"[scale_probe] {dest}/{t}.parquet: {n} rows")


if __name__ == "__main__":
    src, dest, k = sys.argv[1], sys.argv[2], int(sys.argv[3])
    mode = sys.argv[4] if len(sys.argv) > 4 else ""
    build(src, dest, k, div_labels=mode == "div", facts=mode == "facts")
