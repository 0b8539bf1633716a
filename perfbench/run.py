"""Fixed-work benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload operator_sweep --seed 1 --seconds 30 --trace 0

Run from the repository root. Builds the program into `.bench_build/`,
executes the workload's fixed, seeded list of operations once through the
program's public API, checks the outputs outside the timed region, and
prints one JSON result as the last line of standard output. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import plans  # noqa: E402

WORKLOADS = ("operator_sweep", "ingest_and_serve")
HEAP = "3g"          # -Xms = -Xmx: a fixed heap
SETUPS = 3           # set-ups per run; setup_s is their median
JVM_TIMEOUT_S = 160
# tools/check.py compares row by row in Python below 2M rows, which takes
# up to 45 s for one large result; its DuckDB-side multiset compare has
# the same semantics (check.py --selftest) and is used from 100k rows.
VECTOR_THRESHOLD = 100_000
MODULES = ("Relational", "Joins", "Windows", "Functions", "Dedup", "Sampling",
           "TextAnalysis", "Similarity", "Streaming")
REQ_KINDS = ("date_count", "date_range", "last30", "last90", "category", "category_tree")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def steal_ms():
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) * 1000.0 / os.sysconf("SC_CLK_TCK")


def write_ops(path, ops):
    with open(path, "w") as fh:
        for op in ops:
            fh.write("\t".join(op) + "\n")


def ingest_inputs(root, ds):
    """Generated inputs, cached per seed and generator source."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    dest = os.path.join(root, build.BUILD_DIR, "inputs", f"ingest-s{ds.seed}-{version}")
    if not os.path.isdir(dest):
        ds.write_inputs(dest)
    return dest


def fixture_dir(root):
    """The fixture graft.Bench times: $SPARK_GRAFT_SF_DIR, else Bench's own
    default, so both benchmarks read the same tables."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    with open(os.path.join(root, "src/main/scala/graft/Bench.scala")) as fh:
        m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', fh.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_GRAFT_SF_DIR (no default in graft.Bench)")
    return m.group(1)


def run_jvm(root, classes, run_dir, args):
    state = os.path.join(run_dir, "state")
    os.makedirs(os.path.join(state, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + build.jvm_opts() + [
        f"-Djava.io.tmpdir={state}/tmp", f"-Dderby.system.home={state}",
        "-Dderby.system.durability=test", "-Dderby.stream.error.file=" + f"{state}/derby.log",
        "-cp", build.classpath(root, classes), "perfbench.Harness", "--mode", "run",
        "--state", state, "--out", os.path.join(run_dir, "out")])
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # Also on SIGTERM or Ctrl-C: never leave the JVM behind.
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"harness JVM failed ({rc}):\n{tail}")


def load_check_module(root):
    path = os.path.join(root, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_sweep(root, sf_dir, out, checked):
    """Compare re-executed keys with their DuckDB oracles, using the
    compare rules of tools/check.py. Returns the keys that failed."""
    import duckdb
    check = load_check_module(root)
    con = duckdb.connect()
    for t in check.TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out, "check", "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = []
    for k in checked:
        t0 = time.time()
        files = os.path.join(out, "check", k, "*.parquet")
        if not os.path.isdir(os.path.join(out, "check", k)):
            log(f"FAIL {k}: no output")
            bad.append(k)
            continue
        nrows = con.sql(f"SELECT count(*) FROM read_parquet('{files}')").fetchone()[0]
        if k not in oracle:
            ok, line = nrows > 0, f"ROWS-ONLY {k}: {nrows} rows"
        else:
            res = None
            if nrows >= VECTOR_THRESHOLD:
                res = check.compare_vector(con, k, files, oracle[k])
            line, ok = res or check.compare_python(con, k, files, oracle[k])
        log(f"{line} ({time.time() - t0:.1f} s)")
        if not ok:
            bad.append(k)
    return bad


def check_ingest(ds, records, out):
    """Every API answer, parquet day total and JDBC day total against the
    generator's truth. Returns the indices of failed operations."""
    answers, totals, jdbc_truth = ds.truth()
    with open(os.path.join(out, "totals.json")) as fh:
        got = json.load(fh)
    parquet = {d: [t, n] for d, t, n in got["parquet"]}
    jdbc = {d: [t, n] for d, t, n in got["jdbc"]}
    bad = set()
    for r in records:
        if r["kind"] == "req" and r["ok"] and r["answer"] != answers[r["op"]]:
            log(f"FAIL op {r['op']} {r['name']}: got {r['answer']} want {answers[r['op']]}")
            bad.add(r["op"])
    day_ops = {}
    for r in records:
        if r["kind"] == "day":
            day_ops.setdefault(r["name"], []).append(r["op"])
    if parquet.keys() != totals.keys():
        log(f"FAIL parquet dates: {sorted(set(parquet) ^ set(totals))}")
        bad.update(op for ops in day_ops.values() for op in ops)
    for d, want in totals.items():
        if parquet.get(d) != want:
            log(f"FAIL parquet total {d}: got {parquet.get(d)} want {want}")
            bad.update(day_ops.get(d, []))
    if jdbc.keys() != jdbc_truth.keys():
        log(f"FAIL jdbc dates: {sorted(set(jdbc) ^ set(jdbc_truth))}")
        bad.update(op for ops in day_ops.values() for op in ops)
    for d, want in jdbc_truth.items():
        if jdbc.get(d) != want:
            log(f"FAIL jdbc total {d}: got {jdbc.get(d)} want {want}")
            bad.update(day_ops.get(d, []))
    return bad, parquet, jdbc


def sum_of(rs, field):
    return float(sum(r.get(field, 0) for r in rs))


def median_of(rs, field):
    vals = [r[field] for r in rs if field in r]
    return statistics.median(vals) if vals else 0.0


def end_to_end(workload, ok, total_ms, summary):
    """The gated end-to-end metrics, and the per-operation latencies with
    their sample counts for the context line."""
    kind = "req" if workload == "ingest_and_serve" else "key"
    lat = [r["ms"] for r in ok if r["kind"] == kind]
    metrics = {
        "setup_s": (statistics.median(summary["setup_ms"]) / 1000, "s"),
        "peak_rss_mb": (summary["peak_rss_mb"], "MB"),
        "ops_per_s": (len(ok) / (total_ms / 1000), "1/s"),
    }
    latency = {"samples": len(lat), "p50_ms": statistics.median(lat)}
    tl = plans.tail(lat)
    if tl:
        latency.update(tail_percentile=round(100 * tl[0], 1), tail_ms=tl[1])
    return metrics, latency


def per_layer(ok, summary, info, parquet, jdbc, context):
    keys = [r for r in ok if r["kind"] == "key"]
    days = [r for r in ok if r["kind"] == "day"]
    reqs = [r for r in ok if r["kind"] == "req"]
    m = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    put("T.read_ms", summary.get("T.read_ms", 0), "ms")
    put("T.read_jobs", summary.get("T.read_jobs", 0), "count")
    put("SparkEntry.build_ms", sum_of(keys, "build_ms"), "ms")
    put("SparkEntry.build_jobs", sum_of(keys, "build_jobs"), "count")
    put("plan.ms", sum_of(keys, "plan_ms"), "ms")
    exec_ms = sum_of(keys, "exec_ms")
    cpu_ms = sum_of(keys, "exec_cpu_ns") / 1e6
    put("exec.ms", exec_ms, "ms")
    for n in ("jobs", "stages", "tasks"):
        put(f"exec.{n}", sum_of(keys, f"exec_{n}"), "count")
    put("exec.task_cpu_ms", cpu_ms, "ms")
    put("exec.cpu_share", cpu_ms / (exec_ms * summary["slots"]) if exec_ms else 0, "ratio")
    put("exec.shuffle_read_bytes", sum_of(keys, "exec_shuffle_read"), "bytes")
    put("exec.shuffle_write_bytes", sum_of(keys, "exec_shuffle_write"), "bytes")
    put("exec.spill_bytes", sum_of(keys, "exec_spill"), "bytes")
    for mod in MODULES:
        put(f"operators.{mod}.ms",
            sum(r["ms"] for r in keys if info["module"].get(r["name"]) == mod), "ms")
    for n in ("batches", "batch_ms", "rows_dropped_late", "state_rows"):
        put(f"Streaming.{n}", summary.get(f"Streaming.{n}", 0),
            "ms" if n == "batch_ms" else "count")
    lines = sum(info["lines"].get(r["name"], 0) for r in days)
    in_bytes = sum(info["bytes"].get(r["name"], 0) for r in days)
    put("Sinks.upsert_partitions_ms", sum_of(days, "upsert_partitions_ms"), "ms")
    put("Sinks.upsert_partitions_jobs", sum_of(days, "upsert_partitions_jobs"), "count")
    put("Sinks.files_written", sum_of(days, "files_written"), "count")
    put("Sinks.bytes_written_per_input_byte",
        sum_of(days, "bytes_written") / in_bytes if in_bytes else 0, "ratio")
    put("Sinks.upsert_jdbc_ms", sum_of(days, "upsert_jdbc_ms"), "ms")
    put("Sinks.jdbc_rows_written", sum(jdbc.get(r["name"], [0, 0])[1] for r in days), "count")
    put("Playcounts.rows_kept_ratio",
        sum(parquet.get(r["name"], [0, 0])[1] for r in days) / lines if lines else 0, "ratio")
    put("Playcounts.open_ms", median_of(days, "open_ms"), "ms")
    for kind in REQ_KINDS:
        put(f"Playcounts.{kind}_ms", median_of([r for r in reqs if r["name"] == kind], "ms"), "ms")
    n = len(reqs) or 1
    put("Playcounts.jobs_per_req",
        (sum_of(reqs, "build_jobs") + sum_of(reqs, "exec_jobs")) / n, "count")
    put("Playcounts.tasks_per_req",
        (sum_of(reqs, "build_tasks") + sum_of(reqs, "exec_tasks")) / n, "count")
    put("Playcounts.files_read_per_req", sum_of(reqs, "files_read") / n, "count")
    day_ms = [r["ms"] for r in days]
    put("ingest.day_p50_ms", statistics.median(day_ms) if day_ms else 0, "ms")
    put("ingest.lines_per_s", lines / (sum(day_ms) / 1000) if day_ms else 0, "1/s")
    put("counts.files", summary.get("counts.files", 0), "count")
    put("counts.bytes", summary.get("counts.bytes", 0), "bytes")
    put("jvm.gc_ms", context["jvm.gc_ms"], "ms")
    put("process.cpu_s", context["process.cpu_s"], "s")
    put("host.steal_ms", context["host.steal_ms"], "ms")
    put("check_s", context["check_s"], "s")
    return m


def write_spans(path, workload, seed, records):
    """One span per operation and one per phase, sharing the operation's id."""
    phases = {"key": ("build", "plan", "exec"), "req": ("build", "exec"),
              "day": ("upsert_partitions", "upsert_jdbc", "open")}
    with open(path, "w") as fh:
        for r in records:
            sid = f"{workload}/{seed}/{r['op']}"
            fh.write(json.dumps({"id": sid, "span": {"req": "request"}.get(r["kind"], r["kind"]),
                                 "name": r["name"], "ok": r["ok"], "ms": r.get("ms")}) + "\n")
            for ph in phases[r["kind"]] if r["ok"] else ():
                span = {"id": sid, "parent": r["kind"], "span": ph, "ms": r[f"{ph}_ms"]}
                for c in ("jobs", "stages", "tasks", "cpu_ns", "shuffle_read",
                          "shuffle_write", "spill"):
                    if f"{ph}_{c}" in r:
                        span[c] = r[f"{ph}_{c}"]
                fh.write(json.dumps(span) + "\n")


def results_path(root, workload, classes, ops):
    """Where untraced totals are kept: one file per build and set of
    operations, so trace.overhead never compares different work."""
    sig = hashlib.sha256(json.dumps([os.path.basename(classes)] +
                                    sorted(list(op[:2]) for op in ops)).encode())
    return os.path.join(root, build.BUILD_DIR, "results",
                        f"{workload}-{sig.hexdigest()[:12]}.jsonl")


def untraced_median(path, args):
    """Median total op time of the stored untraced runs, making one first
    if there is none."""
    if not os.path.exists(path):
        log("no untraced run stored yet: running one for trace.overhead")
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                        "--seed", str(args.seed), "--seconds", str(args.seconds),
                        "--trace", "0"], check=True, stdout=subprocess.DEVNULL)
    with open(path) as fh:
        return statistics.median(json.loads(line)["total_ms"] for line in fh)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30,
                    help="nominal length; the work is fixed and does not depend on it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tools", "check.py")):
        raise SystemExit("perfbench: run from the repository root (tools/check.py not found)")
    sf_dir = fixture_dir(root)
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        raise SystemExit(f"perfbench: fixture tables not found in {sf_dir}")

    t_build = time.time()
    classes = build.ensure(root)
    log(f"build ready in {time.time() - t_build:.1f} s: {classes}")
    by_module = plans.read_keys(os.path.join(classes, "keys.tsv"))
    run_dir = os.path.join(root, build.BUILD_DIR, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        info = {"module": {k: m for m, ks in by_module.items() for k in ks},
                "lines": {}, "bytes": {}}
        jvm_args = {"workload": args.workload, "trace": args.trace, "sf": sf_dir,
                    "cpus": len(os.sched_getaffinity(0)), "setups": SETUPS,
                    "plan": os.path.join(run_dir, "plan.tsv"),
                    "warmup": os.path.join(run_dir, "warmup.tsv")}
        ds = None
        if args.workload == "ingest_and_serve":
            import gen
            ds = gen.Dataset(args.seed)
            ops, warm = ds.plan(), ds.warmup()
            jvm_args["inputs"] = ingest_inputs(root, ds)
            for d in ds.new_days:
                s = gen.day_str(d)
                info["lines"][s] = ds.input_lines(d)
                info["bytes"][s] = os.path.getsize(
                    os.path.join(jvm_args["inputs"], "days", f"{s}.tsv"))
        else:
            ops = plans.sweep_plan(by_module, args.seed)
            warm = [("key", plans.WARMUP_KEY)]
            checked = plans.check_keys([op[1] for op in ops], args.seed)
            jvm_args["check"] = ",".join(checked)
            jvm_args["inputs"] = run_dir
        write_ops(jvm_args["plan"], ops)
        write_ops(jvm_args["warmup"], warm)
        log(f"{args.workload} seed {args.seed}: {len(ops)} operations planned")

        steal0 = steal_ms()
        t_jvm = time.time()
        run_jvm(root, classes, run_dir, jvm_args)
        jvm_s = time.time() - t_jvm
        steal1 = steal_ms()
        out = os.path.join(run_dir, "out")
        with open(os.path.join(out, "summary.json")) as fh:
            summary = json.load(fh)
        with open(os.path.join(out, "records.jsonl")) as fh:
            records = [json.loads(line) for line in fh]
        if len(records) != len(ops):
            raise RuntimeError(f"{len(records)} records for {len(ops)} operations")

        t_check = time.time()
        failed = {r["op"] for r in records if not r["ok"]}
        for r in records:
            if not r["ok"]:
                log(f"FAIL op {r['op']} {r['name']}: {r.get('error')}")
        parquet, jdbc = {}, {}
        if ds is not None:
            bad, parquet, jdbc = check_ingest(ds, records, out)
            failed |= bad
        else:
            bad = set(check_sweep(root, sf_dir, out, checked))
            failed |= {r["op"] for r in records if r["name"] in bad}
        check_s = summary["check_jvm_ms"] / 1000 + (time.time() - t_check)

        context = {"host.steal_ms": steal1 - steal0, "process.cpu_s": summary["cpu_s"],
                   "jvm.gc_ms": summary["gc_ms"], "check_s": check_s}
        ok = [r for r in records if r["ok"]]
        ok_total = sum(r["ms"] + r.get("open_ms", 0) for r in ok)
        metrics, latency = end_to_end(args.workload, ok, ok_total, summary)
        if args.trace:
            metrics = per_layer(ok, summary, info, parquet, jdbc, context)
            ref = untraced_median(results_path(root, args.workload, classes, ops), args)
            metrics["trace.overhead"] = (ok_total / ref - 1, "ratio")
            trace_dir = os.path.join(root, build.BUILD_DIR, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            spans = os.path.join(trace_dir, f"{args.workload}-s{args.seed}.jsonl")
            write_spans(spans, args.workload, args.seed, records)
            log(f"spans written to {os.path.relpath(spans, root)}")
        elif not failed:
            path = results_path(root, args.workload, classes, ops)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "a") as fh:
                fh.write(json.dumps({"seed": args.seed, "total_ms": ok_total}) + "\n")

        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "operations": len(ops), "setups": SETUPS, "latency": latency,
                          "context": context,
                          "phases_s": {"before_jvm": t_jvm - t_start, "jvm": jvm_s,
                                       "session": summary["session_ms"] / 1000,
                                       "setups": sum(summary["setup_ms"]) / 1000,
                                       "warmup": summary["warmup_ms"] / 1000,
                                       "loop": summary["loop_ms"] / 1000,
                                       "total": time.time() - t_start}}))
        print(json.dumps({
            "correct": not failed, "attempted": len(ops), "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
