#!/usr/bin/env python3
"""Benchmark of the graft engine at sf0.1: one workload, one run, one JVM.

Run from the root of a checkout:

    python3 perfbench/run.py --workload loops --seed 1 --seconds 12 --trace 0

The first run in a checkout builds the engine and the harness from
source with sbt (perfbench/build.sbt); later runs start the harness JVM
directly. Every run works in a fresh directory under perfbench/.work and
removes it at the end; a traced run keeps its records there as
trace-<workload>-<seed>.jsonl. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (see
README.md). --record rewrites expected.json with the answers of this
run; use it only on a commit whose answers were checked against the
DuckDB oracle.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
LAUNCH = os.path.join(HERE, "target", "launch")
CPUS = 4
HEAP = "4g"
DEADLINE_S = 170
MB = 1024.0 * 1024.0

MODULES = ["builder", "algos.Traversals", "algos.GraphOps", "algos.LinkAnalysis",
           "ext.Dedup", "ext.Similarity", "ext.Clustering", "ext.TextOps",
           "ext.Multimodal", "ext.Sampling", "viz.VizData",
           "streaming.EventStreams", "SparkEntry", "exec", "other"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def source_files():
    """Every input of the build, so a changed source triggers a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def run_logged(cmd, cwd, log_path, deadline, env=None):
    """Runs cmd in its own process group with its output in log_path;
    at the deadline kills the whole group. Returns the exit code."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return "timeout"


def build(deadline):
    digest = hashlib.sha256()
    for path in source_files():
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(LAUNCH, "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    log_path = os.path.join(HERE, "target", "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "-Dsbt.server.autostart=false",
                     "-Dsbt.global.base=" + os.path.join(HERE, "target", "sbt-global"),
                     "writeLaunch"], HERE, log_path, deadline)
    if rc != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"build failed ({rc}); log in {log_path}")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())


def run_harness(queries, args, work, deadline):
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        classpath = f.read().strip()
    with open(os.path.join(LAUNCH, "javaopts.txt")) as f:
        javaopts = [x for x in f.read().split("\n") if x]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "records.jsonl")
    cmd = (["java", f"-Xmx{HEAP}"] + javaopts +
           [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            "-cp", classpath, "perfbench.Harness",
            "--data", DATA, "--work", work, "--out", out,
            "--queries", ",".join(queries), "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(CPUS)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log_path = os.path.join(work, "harness.log")
    rc = run_logged(cmd, work, log_path, deadline, env)
    with open(log_path, errors="replace") as f:
        log = f.read()
    if rc != 0:
        sys.stderr.write(log[-4000:])
        fail(f"harness failed ({rc})")
    sys.stderr.writelines(x + "\n" for x in log.splitlines()
                          if x.startswith("[perfbench]"))
    with open(out) as f:
        return [json.loads(line) for line in f if line.strip()]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def union_s(intervals):
    """Seconds covered by a set of [start, end) millisecond intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1e3


def check(samples, expected):
    """Marks each sample ok when it ran and its rows (every pass) and
    checksum (first pass) match the recorded answer."""
    for s in samples:
        want = expected.get(s["query"])
        ok = not s["error"] and want is not None and s["rows"] == want["rows"]
        if ok and s["checksum"]:
            ok = s["checksum"] == want["checksum"]
        s["ok"] = ok
        if not ok:
            print(f"perfbench: wrong answer {s['query']} pass {s['pass']}: "
                  f"{s['error'] or (s['rows'], s['checksum'])} "
                  f"expected {want}", file=sys.stderr)


def pass_times(samples):
    passes = {}
    for s in samples:
        passes[s["pass"]] = passes.get(s["pass"], 0.0) + s["build_s"] + s["exec_s"]
    return passes


def calib_ms(recs):
    """Median time of the harness's fixed integer loop after each warm
    pass: a reading of host speed, independent of the engine."""
    return median([r["ms"] for r in recs if r["type"] == "calib" and r["pass"] > 1])


def end_to_end(recs, samples):
    setup = next(r for r in recs if r["type"] == "setup")
    passes = pass_times(samples)
    warm = [s["build_s"] + s["exec_s"] for s in samples if s["pass"] > 1]
    # a warm pass as the sum of each query's median warm sample, so one
    # disturbed sample moves only its own query's term
    by_query = {}
    for s in samples:
        if s["pass"] > 1:
            by_query.setdefault(s["query"], []).append(s["build_s"] + s["exec_s"])
    deciles = statistics.quantiles(warm, n=10, method="inclusive")
    heap = max(r["bytes"] for r in recs if r["type"] == "heap" and r["pass"] > 0)
    return {
        "setup_s": (setup["session_s"] + setup["build_s"], "s"),
        "first_pass_s": (passes[1], "s"),
        "pass_s": (sum(median(v) for v in by_query.values()), "s"),
        "query_p50_s": (median(warm), "s"),
        "query_p90_s": (deciles[8], "s"),
        "heap_peak_mb": (heap / MB, "MB"),
        "cached_mb": (setup["cached_bytes"] / MB, "MB"),
    }


def per_layer(recs, samples):
    """Per traced warm pass: each job, SQL execution and action is
    placed by time in the query span it started in, and in the build
    (the query's own function) or exec (the final count) part of it."""
    warm = [s for s in samples if s["pass"] > 1]
    traced = sorted({s["pass"] for s in warm if s["traced"]})
    untraced = sorted({s["pass"] for s in warm if not s["traced"]})
    spans = sorted((s["start_ms"], s["end_ms"], s) for s in warm if s["traced"])

    def place(t):
        for start, end, s in spans:
            if start <= t < end:
                return s, ("build" if t < s["build_end_ms"] else "exec")
        return None, None

    jobs = []
    for j in (r for r in recs if r["type"] == "job"):
        s, phase = place(j["submit_ms"])
        if s is not None:
            j["phase"] = phase
            if j["module"] == "none":
                j["module"] = "exec" if phase == "exec" else "other"
            jobs.append(j)
    sqls = [r for r in recs if r["type"] == "sql" and place(r["start_ms"])[0]]
    actions = [r for r in recs if r["type"] == "action" and place(r["at_ms"])[0]]
    n = len(traced)
    setup = next(r for r in recs if r["type"] == "span" and r["kind"] == "setup")
    setup_jobs = [r for r in recs if r["type"] == "job" and
                  setup["start_ms"] <= r["submit_ms"] < setup["end_ms"]]
    tsamples = [s for s in warm if s["traced"]]
    query_s = sum(s["build_s"] + s["exec_s"] for s in tsamples)

    def clipped(js):
        out = []
        for j in js:
            s, _ = place(j["submit_ms"])
            out.append((j["submit_ms"], min(j["end_ms"], s["end_ms"])))
        return out

    busy = union_s(clipped(jobs))
    m = {}
    for mod in MODULES:
        mj = [j for j in jobs if j["module"] == mod]
        m[f"{mod}.jobs"] = (len(mj) / n, "count")
        m[f"{mod}.busy_s"] = (union_s(clipped(mj)) / n, "s")
    total = lambda key, js=jobs: sum(j[key] for j in js)
    ptimes = pass_times(warm)
    m.update({
        "query.build_s": (sum(s["build_s"] for s in tsamples) / n, "s"),
        "query.exec_s": (sum(s["exec_s"] for s in tsamples) / n, "s"),
        "catalyst.plan_s": (sum(a["plan_ns"] for a in actions) / 1e9 / n, "s"),
        "catalyst.actions": (len(actions) / n, "count"),
        "scheduler.jobs": (len(jobs) / n, "count"),
        "scheduler.stages": (total("stages") / n, "count"),
        "scheduler.tasks": (total("tasks") / n, "count"),
        "scheduler.job_p50_ms": (median([j["end_ms"] - j["submit_ms"] for j in jobs]), "ms"),
        "scheduler.busy_s": (busy / n, "s"),
        "driver.gap_s": ((query_s - busy) / n, "s"),
        "exec.task_cpu_s": (total("cpu_ns") / 1e9 / n, "s"),
        "exec.gc_s": (sum(s["gc_s"] for s in tsamples) / n, "s"),
        "shuffle.write_mb": (total("shuffle_write") / MB / n, "MB"),
        "shuffle.read_mb": (total("shuffle_read") / MB / n, "MB"),
        "shuffle.spill_mb": (total("spill") / MB / n, "MB"),
        "io.scan_mb": (total("scanned") / MB / n, "MB"),
        "io.write_mb": (total("written") / MB / n, "MB"),
        "io.files_written": (sum(r["files_written"] for r in sqls) / n, "count"),
        "io.schema_jobs": (sum(1 for j in jobs if j["schema"]) / n, "count"),
        "plan.broadcast_joins": (sum(r["broadcast_joins"] for r in sqls) / n, "count"),
        "plan.sort_merge_joins": (sum(r["sort_merge_joins"] for r in sqls) / n, "count"),
        "plan.topk_ops": (sum(r["topk_ops"] for r in sqls) / n, "count"),
        "gates.smallloop_execs": (sum(1 for r in sqls if r["small_loop"]) / n, "count"),
        "gates.interpreted_execs": (sum(1 for r in sqls if r["interpreted"]) / n, "count"),
        "setup.jobs": (len(setup_jobs), "count"),
        "setup.busy_s": (union_s([(j["submit_ms"], j["end_ms"]) for j in setup_jobs]), "s"),
        "host.calib_ms": (calib_ms(recs), "ms"),
        "trace.pass_s": (median([ptimes[p] for p in traced]), "s"),
        "trace.overhead_s": (median([ptimes[p] for p in traced]) -
                             median([ptimes[p] for p in untraced]), "s"),
    })
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    t0 = time.time()
    deadline = t0 + DEADLINE_S

    engine = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isfile(engine)):
        fail(f"no engine sources under {ROOT}; run from the root of a checkout")
    if not os.path.isdir(DATA):
        fail(f"no data at {DATA}")
    workloads = load_json("workloads.json")
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; one of {', '.join(workloads)}")
    queries = workloads[args.workload]["queries"]
    expected = {} if args.record else load_json("expected.json")

    # the first run in a checkout builds, and may take much longer
    build(t0 + 900)
    deadline = max(deadline, time.time() + DEADLINE_S - 10)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        recs = run_harness(queries, args, work, deadline)
        if args.trace:
            # the spans of a traced run outlive its work directory
            os.replace(os.path.join(work, "records.jsonl"), os.path.join(
                HERE, ".work", f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    samples = [r for r in recs if r["type"] == "sample"]
    if args.record:
        first = {s["query"]: s for s in samples if s["pass"] == 1}
        bad = [q for q in queries if first[q]["error"]]
        if bad:
            fail(f"cannot record: {bad} failed")
        answers = dict(load_json("expected.json")) if os.path.exists(
            os.path.join(HERE, "expected.json")) else {}
        answers.update({q: {"rows": first[q]["rows"], "checksum": first[q]["checksum"]}
                        for q in queries})
        with open(os.path.join(HERE, "expected.json"), "w") as f:
            json.dump(dict(sorted(answers.items())), f, indent=1)
            f.write("\n")
        expected = answers
    check(samples, expected)
    failed = sum(1 for s in samples if not s["ok"])
    metrics = per_layer(recs, samples) if args.trace else end_to_end(recs, samples)
    if args.trace:
        metrics["fail_ratio"] = (failed / len(samples), "ratio")
    passes = max(s["pass"] for s in samples)
    warm = sum(1 for s in samples if s["pass"] > 1)
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"passes={passes} warm_samples={warm} host_calib_ms={calib_ms(recs):.1f} "
          f"wall_s={time.time() - t0:.1f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
