"""naqedspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload suite|requests|mutations \\
        --seed N --seconds S --trace 0|1

Builds the engine and the harness (`perfbench/build.py`), makes the
run's inputs from the seed (`perfbench/gen.py`), runs them in one JVM
(`perfbench/src`), checks every result digest, and prints as its last
line one JSON object: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics, or with `--trace 1` the per-layer ones).
A summary line with the failure reasons precedes it; the full record
of the run, failures included, is written to `.bench_build/out/`.
"""
import argparse
import hashlib
import json
import math
import os
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
from digest import same  # noqa: E402

DATA = gen.DATA
WORKLOADS = ("suite", "requests", "mutations")
JVM_LIMIT_S = 165
FAMILIES = ["agg", "ts", "pipeline", "graph", "dedup", "tpch", "sim", "sample",
            "join", "win", "other"]
TEMPLATES = ["lookup", "children", "page", "aggregate", "reach", "sample"]
BUILDS = ["tables", "edges", "bipartite", "pipelines", "textsim", "sources"]
JVM_OPTS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_mean(xs):
    """Mean of the slowest quarter. A run has too few operations for a
    high percentile to be steady, and a single order statistic jumps when
    it falls where two operation kinds meet; the mean of the slowest
    quarter moves only with the slow operations themselves."""
    s = sorted(xs)
    k = max(1, round(len(s) / 4)) if s else 0
    return sum(s[len(s) - k:]) / k if k else 0.0


def run_jvm(args, workload, inputs, out_dir, trace):
    work = os.path.join(build.OUT, "work")
    subprocess.run(["rm", "-rf", work], check=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    in_path = os.path.join(work, "inputs.json")
    with open(in_path, "w") as f:
        json.dump(inputs, f)
    tag = "%s-%d-t%d" % (workload, args.seed, trace)
    out_path = os.path.join(out_dir, tag + ".raw.json")
    spans = os.path.join(out_dir, tag + ".spans.jsonl")
    log = os.path.join(out_dir, tag + ".log")
    cmd = (["java"] + JVM_OPTS +
           ["-Xmx3g", "-Xss4m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.sql.parquet.inferTimestampNTZ.enabled=false",
            "-cp", build.classpath(), "perfbench.Main",
            workload, DATA, in_path, out_path, work, str(trace), spans])
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit("perfbench: stopped by signal %d" % signum)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            rc = p.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit("perfbench: the run exceeded %d s; log in %s" % (JVM_LIMIT_S, log))
        finally:
            for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
                signal.signal(sig, signal.SIG_DFL)
    subprocess.run(["rm", "-rf", work], check=True)
    if rc != 0 or not os.path.isfile(out_path):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        sys.exit("perfbench: harness failed (exit %d):\n%s" % (rc, tail))
    with open(out_path) as f:
        return json.load(f)


def check(workload, inputs, sec, expected_suite):
    """Failures of a section's shared builds and operations:
    (index, name, reason)."""
    fails = [(-1, "build " + b["build"], "%s: %s" % (b["error"]["class"], b["error"]["message"]))
             for b in sec["builds"] if b.get("error")]
    for o in sec["ops"]:
        i, name = o["i"], o["name"]
        if o["error"]:
            fails.append((i, name, "%s: %s" % (o["error"]["class"], o["error"]["message"])))
            continue
        if workload == "suite":
            want = expected_suite.get(name)
            if want is None:
                fails.append((i, name, "no expected digest"))
                continue
        else:
            want = inputs["ops"][i]["expect"]
        if not same(o["digest"], want):
            fails.append((i, name, "digest mismatch: got %s, want %s"
                          % (json.dumps(o["digest"])[:160], json.dumps(want)[:160])))
        elif workload == "mutations" and o["count"] != inputs["ops"][i]["count"]:
            fails.append((i, name, "row count %s, want %s"
                          % (o["count"], inputs["ops"][i]["count"])))
    return fails


def iqm(xs):
    """Interquartile mean: the mean of the middle half, steadier than a
    median when the latencies of different operation kinds meet near it."""
    s = sorted(xs)
    k = len(s) // 4
    mid = s[k:len(s) - k]
    return sum(mid) / len(mid) if mid else 0.0


def end_to_end(setup, sec):
    ops = sec["ops"]
    lat = [o["lat_ms"] for o in ops]
    return {
        "setup_s": (setup["session_s"] + setup["warmup_s"] + statistics.median(setup["repeats_s"]),
                    "s"),
        "wall_s": (sec["wall_s"], "s"),
        "cpu_s": (sec["cpu_s"], "s"),
        "ops_per_s": (len(ops) / sec["wall_s"], "1/s"),
        "op_iqm_ms": (iqm(lat), "ms"),
        "op_tail_ms": (tail_mean(lat), "ms"),
        "action_iqm_ms": (iqm([o["action_ms"] for o in ops]), "ms"),
    }


def per_layer(workload, sec, before, after):
    ops = sec["ops"]
    n = max(1, len(ops))
    ex = sec["exec"]
    allx = ex["all"]
    m = {}
    builds = [b for b in sec["builds"] if b["build"] != "prime"]
    prime = [b["s"] for b in sec["builds"] if b["build"] == "prime"]
    m["Tables.prime_s"] = (prime[0] if prime else 0.0, "s")
    m["Tables.chain_max_s"] = (max([b["chain_s"] for b in builds] or [0.0]), "s")
    for b in BUILDS:
        m["Tables.build.%s_s" % b] = (sum(x["s"] for x in builds if x["build"] == b), "s")
    per_op = sec["per_op_exec"]
    suite = workload == "suite"
    cons = [o["construct_ms"] / 1e3 for o in ops] if suite else []
    m["ops.construct_s"] = (sum(cons), "s")
    m["ops.construct_max_s"] = (max(cons or [0.0]), "s")
    m["ops.construct_jobs"] = (ex["construct"]["jobs"] if suite else 0, "count")
    for fam in FAMILIES:
        m["ops.family.%s.cpu_s" % fam] = (sum(
            o["client_cpu_s"] + per_op[str(o["i"])][2]
            for o in ops if suite and o["kind"] == fam), "s")
    ph = {k: sum(o["phases_ms"].get(k, 0.0) for o in ops) / 1e3
          for k in ("analysis", "optimization", "planning")}
    m["catalyst.analysis_s"] = (ph["analysis"], "s")
    m["catalyst.optimization_s"] = (ph["optimization"], "s")
    m["catalyst.planning_s"] = (ph["planning"], "s")
    m["catalyst.per_request_ms"] = (1e3 * sum(ph.values()) / n, "ms")
    m["exec.task_cpu_s"] = (allx["task_cpu_s"], "s")
    m["exec.task_run_s"] = (allx["task_run_s"], "s")
    for k in ("jobs", "stages", "tasks"):
        m["exec." + k] = (allx[k], "count")
    m["exec.shuffle_write_mb"] = (allx["shuffle_write_mb"], "MB")
    m["exec.spill_mb"] = (allx["spill_mb"], "MB")
    m["exec.cache_mb"] = (sec["cache_mb"], "MB")
    m["exec.jobs_per_op"] = ((ex["construct"]["jobs"] + ex["action"]["jobs"]) / n, "count")
    api = workload in ("requests", "mutations")
    m["api.compile_ms"] = (pct([o["construct_ms"] for o in ops], 0.5) if api else 0.0, "ms")
    m["api.execute_ms"] = (pct([o["action_ms"] for o in ops], 0.5) if api else 0.0, "ms")
    for t in TEMPLATES:
        xs = [o["lat_ms"] for o in ops if workload == "requests" and o["kind"] == t]
        m["api.%s.p50_ms" % t] = (pct(xs, 0.5), "ms")
    for k in ("insert", "update", "delete"):
        xs = [o["write_ms"] for o in ops if workload == "mutations" and o["kind"] == k]
        m["sources.%s_ms" % k] = (pct(xs, 0.5), "ms")
    writes = [o["write_ms"] for o in ops if workload == "mutations"]
    m["sources.write_p50_ms"] = (pct(writes, 0.5), "ms")
    m["sources.write_tail_ms"] = (tail_mean(writes), "ms")
    user = sum(o["user_bytes"] for o in ops)
    m["sources.bytes_written_per_user_byte"] = (
        sum(o["bytes_written"] for o in ops) / user if user else 0.0, "ratio")
    m["sources.live_files"] = (sec.get("live_files", 0), "count")
    m["sources.table_mb"] = (sec.get("table_mb", 0.0), "MB")
    client_cpu = sum(o["client_cpu_s"] for o in ops)
    m["jvm.gc_s"] = (sec["gc_s"], "s")
    m["jvm.driver_cpu_s"] = (client_cpu, "s")
    m["jvm.unattributed_cpu_s"] = (sec["cpu_s"] - allx["task_cpu_s"] - client_cpu, "s")
    m["jvm.heap_peak_mb"] = (sec["heap_peak_mb"], "MB")
    # traced minus untraced wall: the untraced sections run before and
    # after the traced one, so JVM warming across sections cancels out
    m["trace.overhead_s"] = (sec["wall_s"] - (before["wall_s"] + after["wall_s"]) / 2, "s")
    m["trace.bookkeeping_s"] = (sec["bookkeeping_s"], "s")
    return m


def repeat_share(workload, inputs):
    """Share of operations that send a request sent earlier in the run
    (for a mutation step, its read of the touched keys)."""
    key = {"requests": "json", "mutations": "read"}.get(workload)
    if key is None:
        return 0.0
    seen, again = set(), 0
    for o in inputs["ops"]:
        again += o[key] in seen
        seen.add(o[key])
    return again / len(inputs["ops"])


def counts_of(sec):
    x = sec["exec"]
    return [x["construct"]["jobs"] + x["action"]["jobs"],
            x["construct"]["tasks"] + x["action"]["tasks"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=gen.EXPECTED_SUITE,
                    help="expected suite digests (JSON: query name -> digest)")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(DATA, "orders.parquet")):
        sys.exit("perfbench: benchmark data missing at %s" % DATA)
    os.makedirs(build.OUT, exist_ok=True)
    build.build()
    out_dir = os.path.join(build.OUT, "out")
    os.makedirs(out_dir, exist_ok=True)

    inputs = gen.make(args.workload, args.seed, args.seconds, DATA)
    # the program receives the operations without their expectations
    program_inputs = {k: [{f: v for f, v in o.items() if f not in ("expect", "count")}
                          if isinstance(o, dict) else o for o in vs]
                      for k, vs in inputs.items()}
    raw = run_jvm(args, args.workload, program_inputs, out_dir, args.trace)
    expected_suite = {}
    if args.workload == "suite":
        with open(args.expected) as f:
            expected_suite = json.load(f)

    sec = raw["timed"]
    extra = [k for k in ("traced", "after") if raw[k]]
    fails = check(args.workload, inputs, sec, expected_suite)
    for k in extra:
        fails += [(i, n, "%s section: %s" % (k, r)) for i, n, r in
                  check(args.workload, inputs, raw[k], expected_suite)]

    # identical work: the same seed must give the same jobs and tasks
    counts = {"timed": counts_of(sec)}
    for k in extra:
        counts[k] = counts_of(raw[k])
    # keyed by what determines the work: the program and its inputs
    key = hashlib.sha256((open(os.path.join(build.OUT, "classes.stamp")).read() +
                          json.dumps(program_inputs, sort_keys=True)).encode()).hexdigest()
    state = os.path.join(out_dir, "counts-%s-%s.json" % (args.workload, key[:16]))
    if os.path.isfile(state):
        with open(state) as f:
            counts["earlier run"] = json.load(f)
    else:
        with open(state, "w") as f:
            json.dump(counts["timed"], f)
    if len({tuple(v) for v in counts.values()}) > 1:
        sys.exit("perfbench: runs of one seed did different work (jobs, tasks): %s"
                 % json.dumps(counts))

    if args.trace:
        metrics = per_layer(args.workload, raw["traced"], sec, raw["after"])
    else:
        metrics = end_to_end(raw["setup"], sec)
    attempted = len(sec["ops"]) + sum(len(raw[k]["ops"]) for k in extra)
    result = {"correct": not fails, "attempted": attempted, "failed": len(fails),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    repeats = repeat_share(args.workload, inputs)
    artifact = os.path.join(out_dir, "%s-%d-t%d.json" % (args.workload, args.seed, args.trace))
    with open(artifact, "w") as f:
        json.dump(dict(result, failures=[{"op": i, "name": n, "reason": r}
                                         for i, n, r in fails],
                       counts=counts, spans=raw["spans"], repeat_share=repeats), f, indent=1)
    summary = {"workload": args.workload, "ops": len(sec["ops"]),
               "failed_frac": len(fails) / attempted, "repeat_share": round(repeats, 4),
               "failures": ["%s: %s" % (n, r[:120]) for _, n, r in fails[:8]],
               "artifact": os.path.relpath(artifact)}
    print("perfbench " + json.dumps(summary))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
