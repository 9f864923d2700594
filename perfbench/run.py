#!/usr/bin/env python3
"""Gate-latency benchmark of the graft engine, checked against the DuckDB oracle.

Runs one workload (a fixed list of SparkEntry gates) in a closed loop with one
client on local[nproc]: every gate is timed through full materialization into
Spark's `noop` sink, after a cold pass that is the first execution of each gate
in a fresh JVM. Each gate's output is then compared with the DuckDB answer of
its oracle SQL. `--trace 1` makes a separate traced run that gives the
per-layer breakdown (see NOTES.md).

    python3 perfbench/run.py --workload reference_sql --seed 1 --seconds 15 --trace 0

The harness is built from source on first use (sbt, offline) into
perfbench/target. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`; the line before it is the full
record of the run (every metric with its unit, sample counts, provenance).
"""
import argparse
import contextlib
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TOOLS = os.path.join(ROOT, "tools")
DATA = os.path.join(HERE, "data", "sf0.01")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
RUNS = os.path.join(HERE, "runs")
HEAP = "4g"
DEADLINE_S = 170

WORKLOADS = {
    # the reference's own SQL surface (weekly and running compound, key
    # uniqueness, calendar and star joins, filters, set operations, windows,
    # rollup): fixed per-gate costs (planning, codegen, job floor) dominate
    "reference_sql": [
        "q01_weekly_compound", "q02_running_compound", "q03_key_uniqueness",
        "q05_filter_project", "q06_count", "q08_agg_join_back",
        "q09_rename_project", "q12_week_key", "q27_rollup", "q33_setops",
        "q36_full_outer", "q57_topk_per_group"],
    # dedup, LSH, similarity, retrieval and text gates over documents and
    # embeddings: custom expressions, exchanges and large joins dominate
    "corpus_llm": [
        "q13_dedup_exact", "q15_minhash_lsh", "q17_ann_cosine", "q74_bm25",
        "q140_fuzzy_join", "q142_phrase_search", "q168_winnow_spans"],
    # lifecycle writes (zone-map append, merge upsert), reads of that state,
    # and cold streaming gates: the file system is exercised
    "lifecycle_stream": [
        "q236_zonemap_append", "q232_merge_upsert", "q225_zonemap_prune",
        "q269_layout_read", "q30_stream_window", "q147_stream_dedup"],
}

# warm-pass time of each workload at sf0.01 on 4 cores, which turns --seconds
# into a whole number of passes
NOMINAL_PASS_S = {"reference_sql": 4.0, "corpus_llm": 4.0, "lifecycle_stream": 5.0}

# gates the harness adds for the self-test: one throws, one gives a wrong result
THROWING = "selftest_throw"
WRONG = "selftest_wrong"

# end-to-end metrics of the last line, with units
END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
    "gate_p50_s": "s", "peak_rss_mb": "MB", "disk_write_mb": "MB",
}
# reported in the full record only: error_rate is 0 when the engine is
# correct, restart_s exists only on workloads with streaming gates, and a run
# has too few warm executions for 10 of them to lie beyond gate_p90_s
RECORD_ONLY = {"error_rate": "ratio", "restart_s": "s", "gate_p90_s": "s",
               "ref.duckdb_pass_s": "s"}

PER_LAYER = {
    "entry.build_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.codegen_compile_s": "s", "plan.codegen_classes": "count",
    "plan.exchanges": "count", "plan.broadcasts": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_delay_s": "s", "sched.driver_self_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.peak_task_mem_mb": "MB", "exec.rows_per_output_row": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.records": "count", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_disk_mb": "MB",
    "etl.scan_mb": "MB", "etl.files_read": "count", "etl.files_pruned": "count",
    "etl.write_mb": "MB", "etl.files_written": "count", "etl.cache_mb": "MB",
    "etl.sweep_s": "s",
    "stream.batches": "count", "stream.input_rows": "count",
    "stream.trigger_s": "s", "stream.commit_s": "s",
    "stream.state_rows": "count", "stream.state_mb": "MB",
    "stream.restart_s": "s",
    "cold.entry.build_s": "s", "cold.plan.codegen_compile_s": "s",
    "cold.plan.codegen_classes": "count", "cold.sched.driver_self_s": "s",
    "trace.overhead_s": "s", "ref.duckdb_pass_s": "s",
}

# confs graft.Bench sets; the run is refused if the harness session differs
BENCH_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "128m",
    "spark.sql.codegen.cache.maxEntries": "10000",
    "spark.sql.session.timeZone": "UTC",
}

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the harness build compiles."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compiles the engine and harness once per source digest; returns the
    runtime classpath."""
    cp_file = os.path.join(TARGET, "perfbench-classpath.txt")
    stamp = os.path.join(TARGET, "perfbench-digest.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    # no JVM perf-data files and a temp dir of our own keep the build's
    # scratch files inside the checkout
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
            "-Dsbt.boot.lock=false", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    with open(os.path.join(TARGET, "perfbench-build.log"), "w") as f:
        f.write(proc.stdout + proc.stderr)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"harness build failed (see {TARGET}/perfbench-build.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def cpu_ticks():
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_harness(cp, gates, passes, args, run_dir, deadline):
    out = os.path.join(run_dir, "record.json")
    spans = os.path.join(run_dir, "spans.json")
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed heap and young generation keep the resident-memory high-water
    # mark a property of the work, not of when the collector resized the heap
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "graft.perfbench.Harness",
            "--data", args.data, "--gates", ",".join(gates),
            "--seed", str(args.seed), "--passes", str(passes),
            "--trace", str(args.trace), "--out", out,
            "--dump", os.path.join(run_dir, "dump")]
    if args.trace:
        cmd += ["--spans", spans]
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "dump"))
    log = open(os.path.join(run_dir, "harness.log"), "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("harness did not finish within the deadline")
    finally:
        log.close()
    if code != 0:
        fail(f"harness exited with {code} (see {run_dir}/harness.log)")
    with open(out) as f:
        return json.load(f)


def oracle_check(dump, gates, data):
    """Compares every dumped gate output with DuckDB through the repository's
    oracle check (tools/oracle_check.py, its report sent to stderr); returns
    per-gate (ok, output rows, DuckDB seconds)."""
    sys.path.insert(0, TOOLS)
    import oracle_check as oracle
    con = duckdb.connect()
    con.sql(f"SET threads TO {os.cpu_count()}")
    for t in oracle.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data, t)}.parquet'")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        sql = json.load(f)
    result = {}
    for g in sorted(set(gates)):
        with contextlib.redirect_stdout(sys.stderr):
            ok = oracle.main(data, dump, (g,)) == 0
        try:
            t0 = time.perf_counter()
            rows = len(con.sql(sql[g]).fetchall())
            result[g] = (ok, rows, time.perf_counter() - t0)
        except duckdb.Error:
            result[g] = (False, 0, 0.0)
    con.close()
    return result


def pct(values, q):
    """The q-th percentile (0-100) by linear interpolation."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def pass_sum(p):
    """Seconds of one pass: the sum of its gates' latencies."""
    return sum(x["s"] for x in p["execs"] if x["ok"])


def steady_pass(passes):
    """One steady-state pass: the median over `passes` of each pass's sum."""
    return statistics.median(pass_sum(p) for p in passes)


def provenance(rec, args, digest):
    commit = None
    try:
        git = ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"]
        out = subprocess.run(git, capture_output=True, text=True,
                             timeout=10).stdout.split()
        if len(out) == 2 and os.path.samefile(out[0], ROOT):
            commit = out[1]
    except Exception:
        pass
    p = dict(rec["provenance"])
    confs = p.pop("confs")
    return dict(p, commit=commit, source_digest=digest, duckdb=duckdb.__version__,
                seed=args.seed, workload=args.workload, gates=rec["gates"],
                data=os.path.relpath(args.data, ROOT), heap=HEAP,
                confs={k: v for k, v in sorted(confs.items())
                       if k.startswith("spark.sql.") or k in
                       ("spark.master", "spark.local.dir")})


def check_confs(rec):
    confs = rec["provenance"]["confs"]
    want = dict(BENCH_CONFS)
    want["spark.sql.shuffle.partitions"] = str(rec["provenance"]["nproc"])
    bad = {k: confs.get(k) for k, v in want.items() if confs.get(k) != v}
    if bad:
        fail(f"session confs differ from graft.Bench: {bad}")


def layer_sums(execs, rows):
    """Sums the per-gate layer counters of one pass (maximum for peaks)."""
    out = {}
    recs = [x for x in execs if "layers" in x]
    for k in recs[0]["layers"] if recs else []:
        vals = [x["layers"][k] for x in recs]
        out[k] = max(vals) if k == "exec.peak_task_mem_mb" else sum(vals)
    out["entry.build_s"] = sum(x["build_s"] for x in execs)
    out["plan.codegen_compile_s"] = sum(x["compile_s"] for x in execs)
    out["plan.codegen_classes"] = sum(x["classes"] for x in execs)
    out["etl.cache_mb"] = sum(x["cache_mb"] for x in execs)
    out["etl.sweep_s"] = sum(x["sweep_s"] for x in execs)
    out_rows = sum(rows.get(x["gate"], 0) for x in execs)
    out["exec.rows_per_output_row"] = (
        out.pop("exec.records_in", 0) / out_rows if out_rows else 0.0)
    return out


def per_gate_layers(passes, rows):
    """Median over traced passes of each gate's layer counters."""
    by_gate = {}
    for p in passes:
        for x in p["execs"]:
            by_gate.setdefault(x["gate"], []).append(layer_sums([x], rows))
    return {g: {k: statistics.median(v[k] for v in vs) for k in vs[0]}
            for g, vs in sorted(by_gate.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DATA,
                    help="directory of the source parquet tables")
    ap.add_argument("--gates", default="",
                    help="comma-separated gates to run instead of the workload's")
    args = ap.parse_args()
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    if not os.path.isfile(os.path.join(TOOLS, "oracle_check.py")):
        fail(f"oracle check not found in {TOOLS}")
    if not os.path.isdir(args.data):
        fail(f"data directory not found: {args.data}")
    args.data = os.path.abspath(args.data)
    gates = args.gates.split(",") if args.gates else WORKLOADS[args.workload]

    digest = source_digest()
    cp = build(digest)
    # the build may take long on first use; the run itself gets the budget
    deadline = max(deadline, time.monotonic() + 150)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    # the warm window is a whole number of passes, so both sides of a
    # comparison do the same work: --seconds over the workload's nominal pass
    passes = max(2, math.ceil(args.seconds / NOMINAL_PASS_S[args.workload]))
    steal0, total0 = cpu_ticks()
    rec = run_harness(cp, gates, passes, args, WORK, deadline)
    steal1, total1 = cpu_ticks()
    check_confs(rec)
    checks = oracle_check(os.path.join(WORK, "dump"), gates, args.data)

    timed_passes = [p for p in rec["passes"] if not p["warmup"]]
    untraced = [p for p in timed_passes if not p["traced"]]
    traced = [p for p in timed_passes if p["traced"]]
    timed = [x for p in untraced for x in p["execs"]]
    cold = rec["cold"]
    executions = cold + [x for p in rec["passes"] for x in p["execs"]]
    threw = sum(1 for x in executions if not x["ok"])
    threw += sum(1 for s in rec["restart"].values() if s < 0)
    wrong = sum(1 for ok, _, _ in checks.values() if not ok)
    attempted = len(executions) + len(rec["restart"]) + len(checks)
    failed = threw + wrong
    ok_times = [x["s"] for x in timed if x["ok"]] or [0.0]
    rows = {g: n for g, (_, n, _) in checks.items()}
    restart = [s for s in rec["restart"].values() if s >= 0]

    e2e = {
        "setup_s": rec["setup_s"],
        "cold_pass_s": sum(x["s"] for x in cold if x["ok"]),
        "warm_pass_s": steady_pass(untraced),
        "gate_p50_s": pct(ok_times, 50),
        "peak_rss_mb": rec["peak_rss_mb"],
        "disk_write_mb": statistics.median(
            p["wchar_bytes"] for p in untraced) / 1048576.0,
    }
    p90 = pct(ok_times, 90)
    extra = {
        "gate_p90_s": p90,
        "error_rate": failed / attempted,
        "ref.duckdb_pass_s": sum(s for _, _, s in checks.values()),
    }
    if restart:
        extra["restart_s"] = sum(restart)

    layers = {}
    if args.trace:
        sums = [layer_sums(p["execs"], rows) for p in traced]
        layers = {k: statistics.median(s[k] for s in sums) for k in sums[0]}
        cold_l = layer_sums(cold, rows)
        for k in ("entry.build_s", "plan.codegen_compile_s",
                  "plan.codegen_classes", "sched.driver_self_s"):
            layers["cold." + k] = cold_l[k]
        layers["stream.restart_s"] = sum(restart)
        layers["trace.overhead_s"] = steady_pass(traced) - e2e["warm_pass_s"]
        layers["ref.duckdb_pass_s"] = extra["ref.duckdb_pass_s"]
        missing = set(PER_LAYER) - set(layers)
        if missing:
            fail(f"per-layer metrics missing: {sorted(missing)}")

    units = {**END_TO_END, **RECORD_ONLY, **PER_LAYER}
    full = {
        "workload": args.workload, "trace": args.trace,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in {**e2e, **extra, **layers}.items()},
        "samples": {"timed_executions": len(timed), "warm_passes": len(untraced),
                    "traced_passes": len(traced),
                    "beyond_p90": sum(1 for t in ok_times if t > p90)},
        "failures": {"threw": rec["errors"],
                     "oracle_mismatch": sorted(g for g, c in checks.items() if not c[0])},
        "pass_s": [pass_sum(p) for p in untraced],
        "per_gate": {
            "cold_s": {x["gate"]: x["s"] for x in cold},
            "warm_median_s": {g: statistics.median(
                x["s"] for x in timed if x["gate"] == g) for g in sorted(set(gates))},
            "duckdb_s": {g: c[2] for g, c in sorted(checks.items())},
            "restart_s": rec["restart"],
        },
        "provenance": provenance(rec, args, digest),
        "timeline_s": dict(rec["timeline_s"], python_total=time.monotonic() - t_start),
        # share of CPU time the host gave to others while the harness ran:
        # a slow run with a high share was slowed by the host, not the engine
        "host_steal_share": (steal1 - steal0) / max(1, total1 - total0),
    }
    if args.trace:
        full["per_gate"]["layers"] = per_gate_layers(traced, rows)

    os.makedirs(RUNS, exist_ok=True)
    stem = os.path.join(RUNS, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    if args.trace:
        shutil.copy(os.path.join(WORK, "spans.json"), stem + ".spans.json")
    shutil.rmtree(WORK, ignore_errors=True)

    shown = layers if args.trace else e2e
    print(json.dumps(full, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))


if __name__ == "__main__":
    main()
