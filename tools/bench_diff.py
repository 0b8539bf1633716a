#!/usr/bin/env python3
"""Per-key diff of two graft.Bench runs: parent against change.

Usage: python3 tools/bench_diff.py PARENT.json CHANGE.json
       python3 tools/bench_diff.py --selftest

Both files are bench_full.json artifacts from two runs made back to back
on one box, so machine state is shared and no pinned baseline is needed.
A key is flagged when its CHANGE min

  - is slower than max(parent * REL_TOL, parent + ABS_TOL) — both an
    absolute and a relative margin, so sub-0.3 s keys whose 2x swings
    are scheduler noise stay quiet; or
  - is -1 (the key failed) or absent while the parent timed it.

Keys that failed in the parent, or are new in CHANGE, are not compared.
Exit 1 if anything is flagged, else 0.
"""
import json
import sys

REL_TOL = 1.5   # x parent min
ABS_TOL = 0.30  # seconds
ROUND_EPS = 0.005  # bench_full stores 2-decimal seconds; the limit is
                   # unrounded — compare past the half-quantum so a
                   # round-to-the-limit value can't misread as a flag


def mins(doc: dict) -> dict:
    return {k: v["min"] for k, v in doc["keys"].items()}


def diff(parent: dict, change: dict) -> list[str]:
    """Flag lines for two parsed bench_full.json documents."""
    p, c = mins(parent), mins(change)
    flags = []
    for k in sorted(p):
        if p[k] < 0:
            continue
        if k not in c:
            flags.append(f"FLAG {k}: missing in CHANGE (parent {p[k]:.2f} s)")
        elif c[k] < 0:
            flags.append(f"FLAG {k}: failed in CHANGE (parent {p[k]:.2f} s)")
        else:
            limit = max(p[k] * REL_TOL, p[k] + ABS_TOL)
            if c[k] > limit + ROUND_EPS:
                flags.append(f"FLAG {k}: {p[k]:.2f} -> {c[k]:.2f} s "
                             f"(limit {limit:.2f} s, x{c[k] / p[k]:.2f})")
    return flags


def selftest():
    """Known inputs through diff(); exit 1 on any wrong verdict."""
    base = {"agg_daily_counts": 0.40, "dedup_cluster_cc": 1.20,
            "fn_math": 0.10, "stream_dedup": 2.10}

    def run(ms: dict) -> dict:
        return {"keys": {k: {"samples": [v], "min": v} for k, v in ms.items()}}

    cases = [
        # (label, CHANGE mins, flagged keys wanted)
        ("identical runs", base, []),
        ("one key +2.0 s (a synthetic per-key sleep)",
         {**base, "dedup_cluster_cc": 3.20}, ["dedup_cluster_cc"]),
        ("failed key (-1) in CHANGE",
         {**base, "stream_dedup": -1.0}, ["stream_dedup"]),
        ("key absent in CHANGE",
         {k: v for k, v in base.items() if k != "agg_daily_counts"},
         ["agg_daily_counts"]),
        ("fast key 0.10 -> 0.20 s stays quiet", {**base, "fn_math": 0.20}, []),
        ("fast key 0.10 -> 0.39 s stays quiet (absolute margin)",
         {**base, "fn_math": 0.39}, []),
        ("fast key 0.10 -> 0.41 s is flagged", {**base, "fn_math": 0.41},
         ["fn_math"]),
        ("rounded onto the limit stays quiet (1.20 x 1.5 = 1.80)",
         {**base, "dedup_cluster_cc": 1.80}, []),
        ("new key in CHANGE is not flagged", {**base, "new_key": 9.0}, []),
        ("faster everywhere stays quiet",
         {k: v / 2 for k, v in base.items()}, []),
    ]
    bad = 0
    for label, change, want in cases:
        flags = diff(run(base), run(change))
        got = [f.split(":")[0].removeprefix("FLAG ") for f in flags]
        ok = got == want
        bad += 0 if ok else 1
        print(f"SELFTEST {'OK ' if ok else 'MISMATCH'} flagged={got} "
              f"want={want} — {label}")
    print(f"== bench_diff selftest: {len(cases) - bad}/{len(cases)} agree ==")
    sys.exit(1 if bad else 0)


def main():
    if "--selftest" in sys.argv[1:]:
        selftest()
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = (json.load(open(path)) for path in sys.argv[1:])
    flags = diff(parent, change)
    for line in flags:
        print(line)
    print(f"== {len(flags)} flagged of {len(mins(parent))} keys; total_min_sec "
          f"{parent.get('total_min_sec')} -> {change.get('total_min_sec')} ==")
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
