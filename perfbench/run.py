#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine, with a per-layer trace.

Run from the repository root:

    python3 perfbench/run.py --workload interactive_federated --seed 1 \
        --seconds 8 --trace 0

It builds the engine and the harness (perfbench/build.sh), starts one
driver JVM at local[4] in a fresh run directory, dumps every key's result
and checks it against its DuckDB oracle (tools/check.py), then times whole
passes over the workload's keys with one closed-loop client thread. The
last stdout line is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. The lines before it print every metric
with its unit and sample count. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4
JVM_TIMEOUT_S = 160


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


# ------------------------------------------------------------------ running

def build(root):
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=root,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode})")


def run_jvm(root, run_dir, wl, args, sf_dir):
    """Runs the harness; returns (record, oracle verdict per key)."""
    dirs = {d: os.path.join(run_dir, d)
            for d in ("tmp", "local", "work", "dump")}
    for d in dirs.values():
        os.makedirs(d)
    record_path = os.path.join(run_dir, "record.json")
    build_dir = os.path.join(root, ".bench_build")
    with open(os.path.join(build_dir, "classpath")) as fh:
        cp = fh.read().strip()
    cmd = ["java", "@" + os.path.join(HERE, "jvm.options"),
           f"-Djava.io.tmpdir={dirs['tmp']}",
           f"-Dderby.system.home={dirs['work']}", "-cp", cp,
           "perfbench.Harness",
           f"keys={','.join(wl['keys'])}", f"sf={sf_dir}",
           f"sink={wl['sink']}", f"seed={args.seed}",
           f"seconds={args.seconds}", f"trace={args.trace}",
           f"dump={dirs['dump']}", f"local_dir={dirs['local']}",
           f"record={record_path}"]
    log_path = os.path.join(run_dir, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=dirs["local"])
    verdict = None
    with open(log_path, "w") as log:
        cmd.append(f"launch_ms={int(time.time() * 1000)}")
        jvm = subprocess.Popen(cmd, cwd=dirs["work"], env=env, text=True,
                               stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                               stderr=log)
        timer = threading.Timer(JVM_TIMEOUT_S, jvm.kill)
        timer.start()
        try:
            for line in jvm.stdout:
                log.write(line)
                if line.startswith("@@verify-done"):
                    t0 = time.time()
                    verdict = check(root, sf_dir, dirs["dump"], wl["keys"])
                    print(f"perfbench: oracle check took "
                          f"{time.time() - t0:.1f} s", file=sys.stderr)
                    jvm.stdin.write("go\n")
                    jvm.stdin.flush()
            jvm.wait()
        finally:
            timer.cancel()
            if jvm.poll() is None:
                jvm.kill()
                jvm.wait()
    with open(log_path) as fh:
        tail = fh.readlines()[-30:]
    if jvm.returncode != 0 or verdict is None or \
            not os.path.exists(record_path):
        sys.stderr.writelines(tail)
        fail(f"harness JVM failed (exit {jvm.returncode})")
    with open(record_path) as fh:
        return json.load(fh), verdict


def check(root, sf_dir, dump, keys):
    """tools/check.py over the dump: {key: None | failure message}."""
    env = dict(os.environ, GRAFT_TRUTH_CACHE=os.path.join(
        root, ".bench_build", "truth"))
    r = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check.py"), sf_dir,
         dump, ",".join(keys)],
        cwd=root, env=env, capture_output=True, text=True, timeout=60)
    verdict = {k: "no oracle verdict" for k in keys}
    for line in r.stdout.splitlines():
        if line.startswith("ok "):
            verdict[line.split()[1].rstrip(":")] = None
        elif line.startswith("FAIL "):
            verdict[line.split()[1].rstrip(":")] = line.strip()
    if r.returncode not in (0, 1):
        sys.stderr.write(r.stderr[-2000:])
    return verdict


# ------------------------------------------------------------------ metrics

class Run:
    """Indexes the harness record: invocations with their jobs, stages,
    plans and micro-batches attributed by time window."""

    def __init__(self, rec):
        self.rec = rec
        self.invs = rec["invocations"]
        self.jobs_of = {i["id"]: [] for i in self.invs}
        for j in rec["jobs"]:
            self.jobs_of.setdefault(j["inv"], []).append(j)
        self.stages_of = {i["id"]: [] for i in self.invs}
        for s in rec["stages"]:
            self.stages_of.setdefault(s["inv"], []).append(s)
        self.plans_of = self._window(rec["plans"], "start_ms")
        self.batches_of = self._window(rec["progress"], "ts_ms")
        self.lake_names = rec["lake_counters"]

    def _window(self, items, field):
        """Attributes each item to the latest invocation started at or
        before its timestamp and not yet ended (one client thread)."""
        out = {i["id"]: [] for i in self.invs}
        order = sorted(self.invs, key=lambda i: i["start_ms"])
        for it in items:
            t = it[field]
            owner = None
            for inv in order:
                if inv["start_ms"] <= t <= inv["end_ms"]:
                    owner = inv
            if owner is not None:
                out[owner["id"]].append(it)
        return out

    def phase(self, *names):
        return [i for i in self.invs if i["phase"] in names]

    def segment(self, name):
        return next((s for s in self.rec["segments"] if s["name"] == name),
                    None)

    def work(self, inv):
        st = self.stages_of[inv["id"]]
        return (len(self.jobs_of[inv["id"]]),
                sum(s["shuffle_write"] for s in st),
                sum(s["output_bytes"] for s in st))


def end_to_end(run, verdict, phases=("timed",)):
    rec = run.rec
    timed = run.phase(*phases)
    ok = [i for i in timed if i["error"] is None]
    lat = [i["seconds"] for i in ok]
    by_key = {}
    for i in ok:
        by_key.setdefault(i["key"], []).append(i["seconds"])
    seg = run.segment(phases[0])
    passes = [p["seconds"] for p in seg["passes"]]
    setup = run.phase("setup", "warmup")
    batches = [b for i in timed for b in run.batches_of[i["id"]]]
    batch_s = sum(b["trigger_ms"] for b in batches) / 1e3
    failed = [i for i in setup + timed if i["error"] is not None]
    failed += [i for i in setup if i["phase"] == "setup"
               and i["error"] is None and verdict.get(i["key"])]
    attempted = len(setup) + len(timed)
    m = {
        "setup_s": ((rec["setup_end_ms"] - rec["launch_ms"]) / 1e3, "s", 1),
        "latency_p50_s": (median(lat), "s", len(lat)),
        "latency_key_gmean_s": (math.exp(statistics.fmean(
            math.log(median(v)) for v in by_key.values()))
            if by_key else 0.0, "s", len(lat)),
        "pass_s": (median(passes), "s", len(passes)),
        "rss_peak_mb": (rec["rss_peak_kb"] / 1024.0, "MB", 1),
        "failed_frac": (len(failed) / attempted, "fraction", attempted),
    }
    if len(lat) >= 100:
        m["latency_p90_s"] = (quantile(lat, 0.9), "s", len(lat))
    if batches:
        m["stream_rows_per_s"] = (
            sum(b["rows"] for b in batches) / batch_s if batch_s else 0.0,
            "1/s", len(batches))
    return m, attempted, failed


def per_layer(run, untraced_pass_s):
    """Per-layer metrics over the traced segment, as totals per pass."""
    seg = run.segment("traced")
    n = len(seg["passes"])
    invs = run.phase("traced")
    jobs = [j for i in invs for j in run.jobs_of[i["id"]]]
    stages = [s for i in invs for s in run.stages_of[i["id"]]]
    plans = [p for i in invs for p in run.plans_of[i["id"]]]
    batches = [b for i in invs for b in run.batches_of[i["id"]]]
    wall = sum(p["seconds"] for p in seg["passes"])

    def per_pass(x):
        return x / n

    def ssum(field, items=stages):
        return sum(x[field] for x in items)

    construct_jobs = sum(1 for i in invs for j in run.jobs_of[i["id"]]
                         if j["start_ms"] <= i["construct_end_ms"])
    inv_s = sum(i["seconds"] for i in invs)
    construct_s = sum(i["construct_s"] for i in invs)
    lake = {name: sum(i["lake"][k] for i in invs)
            for k, name in enumerate(run.lake_names)}
    result_rows = result_rows_per_key(run)
    out_rows = sum(result_rows.get(i["key"], 0) for i in invs)
    memo = run.rec["memo"]
    passes = [p["seconds"] for p in seg["passes"]]
    b_s = ssum("trigger_ms", batches) / 1e3
    m = {
        "entry.construct_s": (per_pass(construct_s), "s"),
        "entry.construct_jobs": (per_pass(construct_jobs), "count"),
        "entry.construct_share": (construct_s / inv_s if inv_s else 0.0,
                                  "fraction"),
        "catalyst.analysis_s": (per_pass(ssum("analysis_ms", plans)) / 1e3, "s"),
        "catalyst.optimization_s": (
            per_pass(ssum("optimization_ms", plans)) / 1e3, "s"),
        "catalyst.planning_s": (per_pass(ssum("planning_ms", plans)) / 1e3, "s"),
        "catalyst.exchanges": (per_pass(ssum("exchanges", plans)), "count"),
        "exec.jobs": (per_pass(len(jobs)), "count"),
        "exec.stages": (per_pass(len(stages)), "count"),
        "exec.tasks": (per_pass(ssum("tasks")), "count"),
        "exec.task_run_s": (per_pass(ssum("run_ms")) / 1e3, "s"),
        "exec.task_cpu_s": (per_pass(ssum("cpu_ns")) / 1e9, "s"),
        "exec.sched_delay_s": (per_pass(ssum("sched_ms")) / 1e3, "s"),
        "exec.gc_s": (per_pass(ssum("gc_ms")) / 1e3, "s"),
        "exec.core_util": (ssum("run_ms") / 1e3 / (CORES * wall)
                           if wall else 0.0, "fraction"),
        "exec.shuffle_write_bytes": (per_pass(ssum("shuffle_write")), "B"),
        "exec.shuffle_read_bytes": (per_pass(ssum("shuffle_read")), "B"),
        "exec.spill_bytes": (per_pass(ssum("spill")), "B"),
        "exec.failed_tasks": (per_pass(ssum("failed_tasks")), "count"),
        "operators.codegen_s": (per_pass(ssum("codegen_ms", plans)) / 1e3, "s"),
        "operators.sort_s": (per_pass(ssum("sort_ms", plans)) / 1e3, "s"),
        "operators.agg_s": (per_pass(ssum("agg_ms", plans)) / 1e3, "s"),
        "operators.broadcast_s": (
            per_pass(ssum("broadcast_ms", plans)) / 1e3, "s"),
        "operators.rows_out": (per_pass(ssum("rows_out", plans)), "count"),
        "sources.input_bytes": (per_pass(ssum("input_bytes")), "B"),
        "sources.input_rows": (per_pass(ssum("input_rows")), "count"),
        "sources.rows_examined_per_row": (
            ssum("input_rows") / out_rows if out_rows else 0.0, "ratio"),
        "sources.output_bytes": (per_pass(ssum("output_bytes")), "B"),
        "sources.output_rows": (per_pass(ssum("output_rows")), "count"),
        "streaming.micro_batches": (per_pass(len(batches)), "count"),
        "streaming.batch_s": (per_pass(b_s), "s"),
        "streaming.add_batch_s": (
            per_pass(ssum("add_batch_ms", batches)) / 1e3, "s"),
        "streaming.query_planning_s": (
            per_pass(ssum("planning_ms", batches)) / 1e3, "s"),
        "streaming.wal_commit_s": (per_pass(ssum("wal_ms", batches)) / 1e3, "s"),
        "streaming.state_commit_s": (
            per_pass(ssum("state_commit_ms", batches)) / 1e3, "s"),
        "streaming.state_rows": (per_pass(ssum("state_rows", batches)), "count"),
        "streaming.state_bytes": (per_pass(ssum("state_bytes", batches)), "B"),
        "streaming.rows_dropped_late": (
            per_pass(ssum("dropped", batches)), "count"),
        "streaming.rows_per_s": (ssum("rows", batches) / b_s if b_s else 0.0,
                                 "1/s"),
        "memo.builds": (sum(1 for e in memo if e["phase"] == "setup"
                            and e["event"].startswith("build:")), "count"),
        "memo.hits": (per_pass(sum(1 for e in memo if e["phase"] == "traced"
                                   and e["event"].startswith("hit:"))),
                      "count"),
        "memo.build_s": (sum(e["seconds"] for e in memo
                             if e["phase"] == "setup"), "s"),
        "memo.disk_bytes": (run.rec["tmp_bytes"], "B"),
        "trace.overhead_s": (median(passes) - untraced_pass_s, "s"),
    }
    for name in run.lake_names:
        m[f"sources.{name}"] = (per_pass(lake[name]), "count")
    return {k: (v, u, n) for k, (v, u) in m.items()}


def result_rows_per_key(run):
    """Rows each key returns, from the set-up dump's parquet write."""
    rows = {}
    for inv in run.phase("setup"):
        rows[inv["key"]] = sum(
            s["output_rows"] for j in run.jobs_of[inv["id"]]
            if j["start_ms"] >= inv["construct_end_ms"]
            for s in run.stages_of[inv["id"]] if s["job"] == j["id"])
    return rows


def benchmark_checks(run, verdict):
    """The benchmark's own checks; returns a list of violations."""
    problems = [f"{k}: {v}" for k, v in verdict.items() if v]
    by_key = {}
    for inv in run.phase("warmup", "timed", "traced"):
        if inv["error"] is None:
            by_key.setdefault(inv["key"], []).append(inv)
    # repeatable work: every invocation after the set-up dump, warm-up
    # included, must do the same work, so work that drifts between warm
    # invocations shows. Job counts must match exactly; compressed shuffle
    # and output sizes move by a few hundred bytes with row order inside a
    # block, so they may differ by 1 %.
    for key, invs in sorted(by_key.items()):
        works = sorted({run.work(i) for i in invs})
        jobs = {w[0] for w in works}
        spread = [max(w[k] for w in works) - min(w[k] for w in works)
                  for k in (1, 2)]
        if len(jobs) > 1 or any(
                d > 0.01 * max(w[k] for w in works)
                for d, k in zip(spread, (1, 2))):
            problems.append(
                f"{key}: warm invocations differ in (jobs, shuffle bytes, "
                f"output bytes): {works}")
    # the timed action keeps the query's final sort
    timed = run.phase("timed", "traced")
    first = min((i["pass"] for i in timed), default=0)
    for inv in timed:
        if inv["pass"] != first or inv["error"] is not None:
            continue
        plans = run.plans_of[inv["id"]]
        if not plans:
            problems.append(f"{inv['key']}: no plan recorded for the "
                            "final-sort check")
            continue
        action = max(plans, key=lambda p: p["end_ms"])
        if action["query_sorts"] and not action["plan_sorts"]:
            problems.append(f"{inv['key']}: timed plan drops the query's "
                            "final Sort")
    return problems


# ------------------------------------------------------------------ tracing

def spans(run):
    """Span tree of the traced segment: run > pass > invocation >
    {construct, plan, action} > job > stage, with self times."""
    rec = run.rec
    out = []

    def add(kind, name, start, end, parent, **counts):
        out.append({"id": len(out), "parent": parent, "kind": kind,
                    "name": name, "start_ms": start, "end_ms": end,
                    "counts": counts})
        return len(out) - 1

    seg = run.segment("traced")
    run_id = add("run", "run", rec["launch_ms"], seg["end_ms"], None)
    invs = run.phase("traced")
    for p in seg["passes"]:
        mine = [i for i in invs if i["pass"] == p["pass"]]
        pid = add("pass", f"pass{p['pass']}", p["start_ms"],
                  max((i["end_ms"] for i in mine), default=p["start_ms"]),
                  run_id)
        for inv in mine:
            iid = add("invocation", inv["key"], inv["start_ms"],
                      inv["end_ms"], pid,
                      **dict(zip(run.lake_names, inv["lake"])))
            cid = add("construct", inv["key"], inv["start_ms"],
                      inv["construct_end_ms"], iid)
            aid = add("action", inv["key"], inv["construct_end_ms"],
                      inv["end_ms"], iid)
            for pl in run.plans_of[inv["id"]]:
                add("plan", inv["key"], pl["start_ms"], pl["end_ms"], iid,
                    **{k: pl[k] for k in pl if k not in ("start_ms",
                                                         "end_ms")})
            for j in run.jobs_of[inv["id"]]:
                parent = cid if j["start_ms"] <= inv["construct_end_ms"] \
                    else aid
                jid = add("job", f"job{j['id']}", j["start_ms"], j["end_ms"],
                          parent, ok=j["ok"])
                for s in run.stages_of[inv["id"]]:
                    if s["job"] == j["id"]:
                        add("stage", f"stage{s['id']}.{s['attempt']}",
                            s["submit_ms"], s["end_ms"], jid,
                            **{k: s[k] for k in s if k not in (
                                "id", "attempt", "job", "inv", "submit_ms",
                                "end_ms")})
    children = {}
    for s in out:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in out:
        covered, cur = 0, None
        for a, b in sorted((max(c["start_ms"], s["start_ms"]),
                            min(c["end_ms"], s["end_ms"]))
                           for c in children.get(s["id"], [])):
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        s["self_ms"] = max(0, s["end_ms"] - s["start_ms"] - covered)
    return out


# --------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through run_jvm's cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the repository root")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; one of {sorted(workloads)}")
    wl = workloads[args.workload]
    data = os.environ.get("PERFBENCH_DATA",
                          os.path.expanduser("~/testdata"))
    sf_dir = os.path.join(data, wl["sf"])
    if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
        fail(f"harness tables not found in {sf_dir} (set PERFBENCH_DATA)")

    build(root)
    runs_root = os.path.join(root, ".bench_runs")
    run_dir = os.path.join(
        runs_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        rec, verdict = run_jvm(root, run_dir, wl, args, sf_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    run = Run(rec)

    e2e, attempted, failed = end_to_end(run, verdict)
    problems = benchmark_checks(run, verdict)
    problems += [f"{i['key']}: {i['error']}" for i in failed
                 if i["error"] is not None]
    host = dict(rec["host"], commit=source_id(root))
    print("perfbench " + json.dumps(
        {"workload": args.workload, "seed": args.seed, "sf": wl["sf"],
         "keys": len(wl["keys"]), "sink": wl["sink"], **host}))
    for name, (v, unit, n) in e2e.items():
        print(f"  {name:<36} {v:>14.6g} {unit:<9} n={n}")
    if args.trace:
        layers = per_layer(run, e2e["pass_s"][0])
        for name, (v, unit, n) in layers.items():
            print(f"  {name:<36} {v:>14.6g} {unit:<9} passes={n}")
        trace_path = os.path.join(
            runs_root, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"host": host, "workload": args.workload,
                       "seed": args.seed, "metrics": {
                           k: {"value": v, "unit": u, "n": n}
                           for k, (v, u, n) in {**e2e, **layers}.items()},
                       "invocations": [
                           {k: i[k] for k in ("key", "phase", "pass",
                                              "seconds", "construct_s",
                                              "error")}
                           for i in run.invs],
                       "spans": spans(run)}, fh)
        print(f"  trace written to {os.path.relpath(trace_path, root)}")
    for p in problems:
        print(f"  CHECK FAILED {p}")

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if args.trace:
        wanted, table = declared["per_layer"], layers
    else:
        wanted, table = declared["end_to_end"], e2e
    metrics = {m["name"]: {"value": table[m["name"]][0], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


def source_id(root):
    """The commit when run in a git checkout, else the engine build stamp."""
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=root,
                           capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    with open(os.path.join(root, ".bench_build", "engine.stamp")) as fh:
        return "src-" + fh.read().strip()


if __name__ == "__main__":
    main()
