"""Seeded generator for the ingest_and_serve workload.

Writes mediacounts-shaped TSV dumps, a pre-built counts history and the
category dimensions, and returns the truth every output is checked
against. The same seed always gives the same dumps, requests and truth.
"""
import datetime as dt
import os
import shutil

import numpy as np

N_FILES = 20_000
N_CATEGORIES = 400
HISTORY_DAYS = 60
SLOTS = 3               # ingest slots per run, each followed by a request batch
REINGEST_EVERY = 3      # every 3rd slot re-runs an earlier day, like a cron re-run
PLAYS_PER_DAY = 120_000
FIRST_RUN_DAY = dt.date(2026, 4, 1)
PLAYABLE = ["ogg", "oga", "ogv", "webm", "wav", "mp3", "mid", "flac"]
N_COUNTERS = 25         # columns after the path; play count = c3 + c4 + c16
BIG = 9_000_000_000_000_000_000  # two of these overflow BIGINT

# One request batch after every slot: (kind, how many). A chosen mix, not
# measured traffic: every request kind once, and point lookups, the cheapest
# request, three times. See perfbench/README.md for the sizes and why.
REQUEST_MIX = [
    ("date_count", 3), ("date_range", 1), ("last30", 1), ("last90", 1),
    ("category", 1), ("category_tree", 1), ("unknown", 1),
]
RANGE_DAYS = 30         # length of every dateRangeCount and categoryCount range
TREE_ROOTS = ("Cat_50", "Cat_51", "Cat_52")  # third-level roots, one per slot
WARMUP_LINES = 2000     # the warm-up ingests this head of the first dump
REQS_PER_SLOT = sum(n for _, n in REQUEST_MIX)


def day_str(d):
    return d.isoformat()


class Dataset:
    """Everything derived from one seed: files, dimensions, daily plays."""

    def __init__(self, seed):
        self.seed = seed
        rng = np.random.default_rng(seed)
        self.names, self.paths = self._files(rng)
        # Zipf popularity over a seeded rank order.
        rank = rng.permutation(N_FILES) + 1
        w = 1.0 / rank.astype(np.float64) ** 1.1
        self.lam = PLAYS_PER_DAY * w / w.sum()
        self.history_days = [FIRST_RUN_DAY - dt.timedelta(days=HISTORY_DAYS - i)
                             for i in range(HISTORY_DAYS)]
        n_new = SLOTS - SLOTS // REINGEST_EVERY
        self.new_days = [FIRST_RUN_DAY + dt.timedelta(days=i) for i in range(n_new)]
        # plays[date] = int64 plays per file (0 = no row that day)
        self.plays = {d: rng.poisson(self.lam).astype(np.int64)
                      for d in self.history_days + self.new_days}
        # The category graph has one shape for every seed, so the recursive
        # requests do the same number of closure rounds; membership is seeded.
        self.edges = self._edges(np.random.default_rng(0))
        self.members = self._members(rng)
        self.dumps = {d: self._dump(rng, d) for d in self.new_days}
        self.slots = self._slots()
        self.requests = self._requests(rng)

    @staticmethod
    def _files(rng):
        names, paths = [], []
        style = rng.integers(0, 100, N_FILES)
        exts = rng.integers(0, len(PLAYABLE), N_FILES)
        for i in range(N_FILES):
            ext = PLAYABLE[exts[i]]
            s = style[i]
            if s < 10:      # space, percent-encoded in the path
                name, enc = f"Field recording {i}.{ext}", f"Field%20recording%20{i}.{ext}"
            elif s < 15:    # parentheses, percent-encoded
                name, enc = f"Lecture_({i}).{ext}", f"Lecture_%28{i}%29.{ext}"
            elif s < 18:    # literal '+', which must survive decoding
                name = enc = f"C++_talk_{i}.{ext}"
            elif s < 19:    # malformed escape: kept undecoded
                name = enc = f"Broken%ZZ_{i}.{ext}"
            elif s < 22:    # upper-case extension still counts as playable
                name = enc = f"Anthem_{i}.{ext.upper()}"
            else:
                name = enc = f"Audio_{i}.{ext}"
            h = f"{i % 16:x}"
            paths.append(f"/wikipedia/commons/{h}/{h}{(i // 16) % 16:x}/{enc}")
            names.append(name)
        return names, paths

    @staticmethod
    def _edges(rng):
        # A four-level hierarchy (10, 40, 120, rest): each category has one
        # or two parents on the level above, and a few back edges to the
        # second level that form cycles.
        bounds = [0, 10, 50, 170, N_CATEGORIES]
        edges = set()
        for lv in range(1, 4):
            lo, hi = bounds[lv - 1], bounds[lv]
            for c in range(bounds[lv], bounds[lv + 1]):
                for p in rng.choice(np.arange(lo, hi), size=int(rng.integers(1, 3)),
                                    replace=False):
                    edges.add((f"Cat_{p}", f"Cat_{c}"))
        for c in rng.choice(np.arange(bounds[3], N_CATEGORIES), 8, replace=False):
            p = int(rng.integers(bounds[1], bounds[2]))
            edges.add((f"Cat_{c}", f"Cat_{p}"))
        return sorted(edges)

    def _members(self, rng):
        members = set()
        for c in range(N_CATEGORIES):
            k = int(rng.integers(3, 40))
            for f in rng.choice(N_FILES, size=k, replace=False):
                members.add((f"Cat_{c}", self.names[f]))
            members.add((f"Cat_{c}", f"Never_played_{c}.ogg"))
        return sorted(members)

    def _dump(self, rng, d):
        """TSV lines for one day and the (file -> plays) rows they encode."""
        plays = self.plays[d]
        lines, truth = [], {}
        for i in np.nonzero(plays)[0]:
            n = int(plays[i])
            c = ["-"] * N_COUNTERS
            a = int(rng.integers(0, n + 1))
            b = int(rng.integers(0, n - a + 1))
            for pos, v in ((3, a), (4, b), (16, n - a - b)):
                c[pos] = str(v) if v else "-"
            for pos in (1, 2, 5, 9):
                c[pos] = str(int(rng.integers(0, 10**7)))
            r = rng.random()
            if r < 0.004:   # truncated after the original-transfer counter
                c = c[:4]
                if a:
                    truth[self.names[i]] = a
            elif r < 0.007:  # truncated before any play counter: dropped
                c = c[:2]
            else:
                truth[self.names[i]] = n
            lines.append("\t".join([self.paths[i]] + c[1:]))
        # Rows the ingest must drop: other media, other projects, and
        # absurd counters whose sum overflows.
        n_other = len(lines) // 4
        for j in range(n_other):
            kind = j % 4
            if kind == 0:
                p = f"/wikipedia/commons/a/ab/Photo_{j}.jpg"
            elif kind == 1:
                p = f"/wikipedia/commons/b/bc/Scan_{j}.pdf"
            elif kind == 2:
                p = f"/wikipedia/en/c/cd/Audio_{j}.ogg"
            else:
                p = f"/wikipedia/commons/d/de/Overflow_{j}.ogg"
            c = ["-"] * N_COUNTERS
            c[3] = str(BIG if kind == 3 else int(rng.integers(1, 1000)))
            c[4] = str(BIG if kind == 3 else 0)
            lines.append("\t".join([p] + c[1:]))
        order = rng.permutation(len(lines))
        text = "".join(lines[k] + "\n" for k in order)
        return text, truth

    def _slots(self):
        """The ingest order: new days, with every k-th slot re-running an earlier one."""
        out, new = [], iter(self.new_days)
        done = []
        for s in range(1, SLOTS + 1):
            d = done[-2] if s % REINGEST_EVERY == 0 and len(done) >= 2 else next(new)
            out.append(d)
            done.append(d)
        return out

    def _requests(self, rng):
        played = np.stack([self.plays[d] for d in self.history_days]).any(axis=0)
        known = np.nonzero(played)[0]
        lam = self.lam[known] / self.lam[known].sum()
        first = self.history_days[0]
        roots = [TREE_ROOTS[k] for k in rng.permutation(len(TREE_ROOTS))]
        batches = []
        for s, d in enumerate(self.slots):
            asof = max(self.slots[:s + 1])
            span = (asof - first).days
            batch = []
            for kind, n in REQUEST_MIX:
                for _ in range(n):
                    f = self.names[known[int(rng.choice(len(known), p=lam))]]
                    d1 = first + dt.timedelta(days=int(rng.integers(0, span + 1)))
                    lo = first + dt.timedelta(days=int(rng.integers(0, span - RANGE_DAYS + 2)))
                    rng_args = (day_str(lo), day_str(lo + dt.timedelta(days=RANGE_DAYS - 1)))
                    if kind == "date_count":
                        batch.append((kind, f, day_str(d1), "-"))
                    elif kind == "date_range":
                        batch.append((kind, f) + rng_args)
                    elif kind in ("last30", "last90"):
                        batch.append((kind, f, day_str(asof), "-"))
                    elif kind == "category":
                        batch.append((kind, f"Cat_{int(rng.integers(0, N_CATEGORIES))}") + rng_args)
                    elif kind == "category_tree":
                        batch.append((kind, roots[s % len(roots)]) + rng_args)
                    else:  # a file the table has never seen
                        u = f"Unknown_{self.seed}_{s}.ogg"
                        if s % 2:
                            batch.append(("date_range", u) + rng_args)
                        else:
                            batch.append(("date_count", u, day_str(d1), "-"))
            order = rng.permutation(len(batch))
            batches.append([batch[k] for k in order])
        return batches

    # -- inputs on disk --------------------------------------------------

    def write_inputs(self, dest):
        """Write dumps, history and dimensions under `dest` (atomically)."""
        import duckdb
        tmp = dest + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "days"))
        for d, (text, _) in self.dumps.items():
            with open(os.path.join(tmp, "days", f"{day_str(d)}.tsv"), "w") as fh:
                fh.write(text)
        head = self.dumps[self.new_days[0]][0].splitlines(keepends=True)[:WARMUP_LINES]
        with open(os.path.join(tmp, "days", "warmup.tsv"), "w") as fh:
            fh.write("".join(head))
        con = duckdb.connect()
        con.execute("SET threads = 1")
        files, dates, counts = [], [], []
        names = np.array(self.names, dtype=object)
        for d in self.history_days:
            nz = np.nonzero(self.plays[d])[0]
            files.append(names[nz])
            dates.append(np.full(len(nz), np.datetime64(d), dtype="datetime64[D]"))
            counts.append(self.plays[d][nz])
        import pandas as pd
        hist = pd.DataFrame({"file": np.concatenate(files),
                             "date": np.concatenate(dates),
                             "count": np.concatenate(counts)})
        con.register("hist", hist)
        con.execute(
            "COPY (SELECT file, CAST(date AS DATE) AS date, CAST(count AS BIGINT) AS count "
            f"FROM hist) TO '{tmp}/history' (FORMAT PARQUET, PARTITION_BY (date))")
        mem = pd.DataFrame(self.members, columns=["category", "file"])
        edg = pd.DataFrame(self.edges, columns=["parent", "child"])
        con.register("mem", mem)
        con.register("edg", edg)
        con.execute(f"COPY mem TO '{tmp}/members.parquet' (FORMAT PARQUET)")
        con.execute(f"COPY edg TO '{tmp}/edges.parquet' (FORMAT PARQUET)")
        con.close()
        os.rename(tmp, dest)

    # -- plan and truth --------------------------------------------------

    def plan(self):
        """(op, fields) tuples in execution order: a day, then its requests."""
        ops = []
        for d, batch in zip(self.slots, self.requests):
            ops.append(("day", day_str(d), f"days/{day_str(d)}.tsv"))
            ops.extend(("req",) + r for r in batch)
        return ops

    def warmup(self):
        """Untimed: the head of a dump into a separate table, then a
        recursive category request against the history."""
        tree = next(r for r in self.requests[0] if r[0] == "category_tree")
        return [("day", day_str(self.new_days[0]), "days/warmup.tsv"), ("req",) + tree]

    def truth(self):
        """Expected answer per plan op, and expected day totals at the end."""
        table = {d: {self.names[i]: int(self.plays[d][i])
                     for i in np.nonzero(self.plays[d])[0]}
                 for d in self.history_days}
        by_file = {}
        for d, rows in table.items():
            for f, p in rows.items():
                by_file.setdefault(f, {})[d] = p
        children, by_cat = {}, {}
        for p, c in self.edges:
            children.setdefault(p, []).append(c)
        for c, f in self.members:
            by_cat.setdefault(c, []).append(f)

        def in_range(f, a, b):
            return {d: p for d, p in by_file.get(f, {}).items() if a <= d <= b}

        def rollup(files, a, b):
            tot, n = 0, 0
            for f in set(files):
                got = in_range(f, a, b)
                if got:
                    tot += sum(got.values())
                    n += 1
            return [tot, n]

        answers = []
        for op in self.plan():
            if op[0] == "day":
                d = dt.date.fromisoformat(op[1])
                for f in table.get(d, {}):
                    del by_file[f][d]
                table[d] = dict(self.dumps[d][1])
                for f, p in table[d].items():
                    by_file.setdefault(f, {})[d] = p
                answers.append(None)
                continue
            _, kind, arg, d1, d2 = op
            a = dt.date.fromisoformat(d1)
            if kind in ("date_count", "date_range", "last30", "last90") \
                    and not by_file.get(arg):
                answers.append(None)
            elif kind == "date_count":
                answers.append([by_file[arg].get(a, 0)])
            elif kind in ("date_range", "last30", "last90"):
                if kind == "date_range":
                    lo, hi = a, dt.date.fromisoformat(d2)
                else:
                    lo, hi = a - dt.timedelta(days=(30 if kind == "last30" else 90) - 1), a
                got = in_range(arg, lo, hi)
                answers.append([sum(got.values()),
                                [[day_str(d), got[d]] for d in sorted(got)]])
            elif kind == "category":
                answers.append(rollup(by_cat.get(arg, []), a, dt.date.fromisoformat(d2)))
            else:
                seen, frontier = {arg}, [arg]
                while frontier:
                    nxt = {c for p in frontier for c in children.get(p, []) if c not in seen}
                    seen.update(nxt)
                    frontier = list(nxt)
                files = [f for c in seen for f in by_cat.get(c, [])]
                answers.append(rollup(files, a, dt.date.fromisoformat(d2)))
        totals = {day_str(d): [sum(rows.values()), len(rows)] for d, rows in table.items()}
        jdbc = {day_str(d): totals[day_str(d)] for d in set(self.slots)}
        return answers, totals, jdbc

    def input_lines(self, d):
        return self.dumps[d][0].count("\n")
