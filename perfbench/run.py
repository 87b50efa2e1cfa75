#!/usr/bin/env python3
"""Benchmark of the graft engine: one named workload, one seed, one run.

    python3 perfbench/run.py --workload crm_etl --seed 1 --seconds 25 --trace 0

Run from the repository root. Builds the engine and the harness
(perfbench/build.py), starts one JVM on local[<cores>] over the read-only
fixture, runs the workload's warm-up passes (set-up), then timed passes for
`--seconds`, each in an order drawn from `--seed`. Every query's output
is digested and compared with perfbench/golden.json. The last stdout line
is the result object; the line before it is a summary for people
(failed_frac, host noise, per-query failures).

    --trace 1        per-layer metrics instead of end-to-end ones
    --smoke          every workload once at sf0.001, outputs checked
    --record-golden  rewrite the golden digests of a workload (and --sf)
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
import tempfile
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "golden.json")
FIXTURES = "/root/testdata"  # the project's read-only fixtures, see TESTDATA.md
DEFAULT_SF = "sf0.1"
SMOKE_SF = "sf0.001"
# A fixed, pre-touched heap: resizing on GC timing otherwise moves peak
# RSS by a third from run to run, and first-touch page faults of a fixed
# but untouched heap slow the timed passes. The parallel collector has no
# concurrent threads to compete with the executor threads for the cores;
# it also ran crm_etl passes about 10% faster than G1.
JVM_HEAP = "3g"
JVM_GC = "-XX:+UseParallelGC"
# The cold pass (first-toucher drains, artifacts) and one more. JIT keeps
# shortening passes for about eight passes (crm_etl: 14, 4.2, 3.7, 3.5,
# 3.4, 3.0, 2.9, 2.9 s); rather than pay for all of them in set-up, the
# timed window is long enough for its median pass to sit past the steep
# part, and its many samples steady the latency percentiles.
WARM_PASSES = 2
RUN_LIMIT_S = 170  # a run is killed past this, so it exits within 180 s

# Registry name prefixes per workload (resolved to full names in the JVM;
# an unknown or ambiguous prefix fails the run).
WORKLOADS = {
    "crm_etl": "q01 q02 q03 q04 q40 q41 q42 q43 q44 q65",
    "corpus_dedup": "q29 q31 q32 q34 q66",
    "stream_lake": "q36 q37 q74 q76 q554 q558 q559",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {"pass_s": "s", "query_p50_s": "s", "query_p75_s": "s",
              "setup_s": "s", "peak_rss_mb": "MB"}

# counters the harness keys by query phase -> reported name and unit
EXEC_KEYS = ["jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
             "task_gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"]
PER_LAYER = {
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "operators.construct_task_cpu_s": "s",
    "plan.executions": "count", "plan.analysis_s": "s",
    "plan.optimization_s": "s", "plan.planning_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.task_gc_s": "s", "exec.core_busy_frac": "frac",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "sources.output_mb": "MB", "sources.output_rows": "count",
    "streaming.queries": "count", "streaming.batches": "count",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s",
    "streaming.offsets_s": "s", "streaming.commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_commit_s": "s",
    "artifacts.builds": "count", "artifacts.build_s": "s",
    "caches.release_s": "s", "caches.released_mb": "MB",
    "driver.gc_s": "s", "driver.heap_peak_mb": "MB",
    "host.load1": "load", "host.spin_ms": "ms", "host.steal_frac": "frac",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, sf_dir, names, seed, seconds, trace, warm, deadline):
    """One harness JVM in a private, emptied-afterwards directory.
    Returns (records, spawn epoch seconds)."""
    root = os.path.abspath(os.path.join(build.build_dir(), "runs"))
    os.makedirs(root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=root)
    try:
        dirs = {k: os.path.join(run_dir, k)
                for k in ("tmp", "artifacts", "state", "local", "cwd")}
        for d in dirs.values():
            os.makedirs(d)
        out = os.path.join(run_dir, "samples.jsonl")
        log = os.path.join(run_dir, "jvm.log")
        env = {k: v for k, v in os.environ.items()
               if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL_DIRS"))}
        env.update(SPARK_GRAFT_ARTIFACT_ROOT=dirs["artifacts"],
                   SPARK_GRAFT_STATE_ROOT=dirs["state"],
                   SPARK_LOCAL_DIRS=dirs["local"],
                   SPARK_GRAFT_CPUS=str(cores()))
        cmd = (["java"]
               + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", JVM_GC,
                  "-XX:-UsePerfData",  # no hsperfdata file outside the run dir
                  "-Djava.io.tmpdir=" + dirs["tmp"],
                  "-cp", ":".join(os.path.abspath(p) for p in classpath),
                  "org.apache.spark.sql.graftbench.Harness",
                  "--sf", sf_dir, "--queries", ",".join(names),
                  "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", "1" if trace else "0", "--warm", str(warm),
                  "--cpus", str(cores()), "--out", out])
        with open(log, "wb") as lf:
            spawn = time.time()
            proc = subprocess.Popen(cmd, cwd=dirs["cwd"], env=env,
                                    stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(1.0, deadline - time.time()))
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        records = []
        if os.path.exists(out):
            with open(out) as fh:
                records = [json.loads(line) for line in fh if line.strip()]
        if rc != 0 or not records or records[-1]["kind"] != "end":
            with open(log, "rb") as fh:
                tail = fh.read().decode(errors="replace")[-3000:]
            raise SystemExit(f"harness JVM failed (exit {rc}):\n{tail}")
        return records, spawn
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def load_golden():
    with open(GOLDEN) as fh:
        return json.load(fh)


def digest(s):
    return {"rows": s["rows"], "lo": s["lo"], "hi": s["hi"], "schema": s["schema"]}


def check(samples, golden):
    """Failed samples: threw, or digest differs from (or lacks) a golden."""
    bad = []
    for s in samples:
        if s["err"] is not None:
            bad.append((s, s["err"]))
        elif golden.get(s["q"]) != digest(s):
            bad.append((s, "digest mismatch" if s["q"] in golden else "no golden"))
    return bad


def latency(s):
    """A query's latency: construction, the action, and the cache release."""
    return s["construct_s"] + s["action_s"] + s["release_s"]


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a mean of all order
    statistics weighted by the Beta(p(n+1), (1-p)(n+1)) density, so it
    moves smoothly with every sample instead of jumping between the two
    samples next to the cut, as the sample quantile does when latencies
    cluster by query."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    lb = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(x):
        return math.exp(lb + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)) if 0 < x < 1 else 0.0

    # weight of order statistic i: the Beta mass on [i/n, (i+1)/n],
    # by the trapezoid rule on `steps` points per interval
    steps = 200
    h = 1.0 / (n * steps)
    weights, acc, prev = [], 0.0, pdf(0.0)
    for j in range(1, n * steps + 1):
        cur = pdf(j * h)
        acc += (prev + cur) * h / 2
        prev = cur
        if j % steps == 0:
            weights.append(acc)
            acc = 0.0
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def summarize(records, spawn, trace, golden):
    by = {}
    for r in records:
        by.setdefault(r["kind"], []).append(r)
    names = [m for n in by["resolve"][0]["names"] for m in n["matches"]]
    samples = by.get("sample", [])
    timed = [s for s in samples if s["pass"] >= 1]
    warm = [s for s in samples if s["pass"] < 1]
    passes = [p for p in by.get("pass", []) if p["pass"] >= 1]
    if not timed:
        raise SystemExit("no timed pass completed")
    bad = check(timed, golden)
    bad_ids = {id(s) for s, _ in bad}
    warm_bad = check(warm, golden)
    lat = [latency(s) for s in timed if id(s) not in bad_ids]
    plain = [p["wall_s"] for p in passes if not p["traced"]]
    end = by["end"][0]
    # None (JSON null) when every query failed and no latency exists
    e2e = {
        "pass_s": statistics.median(plain) if plain else None,
        "query_p50_s": quantile(lat, 0.5) if lat else None,
        "query_p75_s": quantile(lat, 0.75) if lat else None,
        "setup_s": by["setup_end"][0]["epoch_ms"] / 1e3 - spawn,
        "peak_rss_mb": end["vmhwm_kb"] / 1024.0,
    }
    all_passes = by.get("pass", [])
    info = {
        "warmup_pass_s": [round(p["wall_s"], 3) for p in all_passes if p["pass"] < 1],
        "timed_pass_s": [round(p["wall_s"], 3) for p in passes],
        "queries": len(names), "timed_passes": len(passes),
        "samples": len(timed), "failed_frac": len(bad) / len(timed),
        "failures": sorted({f"{s['q']}: {why}" for s, why in bad}),
        "warmup_failures": sorted({f"{s['q']}: {why}" for s, why in warm_bad}),
        # per query: [cold latency in the first warm-up pass, timed median]
        "per_query_s": {n: [round(latency(s), 3) for s in warm
                            if s["q"] == n and s["pass"] == -1]
                        + [round(statistics.median(latency(s) for s in timed
                                                   if s["q"] == n), 3)]
                        for n in names},
        "host.load1": statistics.median(p["load1"] for p in all_passes),
        "host.spin_ms": statistics.median(p["spin_ms"] for p in all_passes),
        "host.steal_frac": statistics.median(p["steal_frac"] for p in all_passes),
        "end_to_end": {k: v if v is None else round(v, 4) for k, v in e2e.items()},
    }
    if not trace:
        metrics = e2e
    else:
        metrics = layers(samples, passes, info)
        info["per_layer"] = {k: round(v, 4) for k, v in metrics.items()}
    result = {
        "correct": not bad and not warm_bad,
        "attempted": len(timed), "failed": len(bad),
        "metrics": {k: {"value": v, "unit": (END_TO_END if not trace else PER_LAYER)[k]}
                    for k, v in metrics.items()},
    }
    return info, result


def layers(samples, passes, info):
    """Per-layer metrics: means per traced timed pass, except artifacts
    (totals over the run, set-up included) and host (medians)."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    n = len(traced)
    tp = {p["pass"] for p in traced}
    ts = [s for s in samples if s["pass"] in tp]

    def per_pass(key):
        return sum(p["layers"].get(key, 0.0) for p in traced) / n

    m = {
        "operators.construct_s": sum(s["construct_s"] for s in ts) / n,
        "operators.construct_jobs": per_pass("construct.jobs"),
        "operators.construct_task_cpu_s": per_pass("construct.task_cpu_s"),
        "exec.action_s": sum(s["action_s"] for s in ts) / n,
        "caches.release_s": sum(s["release_s"] for s in ts) / n,
    }
    for k in ("plan.executions", "plan.analysis_s", "plan.optimization_s",
              "plan.planning_s", "sources.input_mb", "sources.input_rows",
              "sources.output_mb", "sources.output_rows", "streaming.queries",
              "streaming.batches", "streaming.add_batch_s",
              "streaming.query_planning_s", "streaming.offsets_s",
              "streaming.commit_s", "streaming.state_rows",
              "streaming.state_commit_s", "caches.released_mb", "driver.gc_s"):
        m[k] = per_pass(k)
    m["driver.heap_peak_mb"] = max(p["layers"]["driver.heap_peak_mb"] for p in traced)
    for k in EXEC_KEYS:
        m[f"exec.{k}"] = per_pass(f"exec.{k}")
    run_s = sum(per_pass(f"{ph}.task_run_s") for ph in ("construct", "exec", "release", "between"))
    wall = sum(p["wall_s"] for p in traced) / n
    m["exec.core_busy_frac"] = run_s / (wall * cores())
    m["artifacts.builds"] = float(sum(s["artifact_builds"] for s in samples))
    m["artifacts.build_s"] = sum(s["artifact_build_s"] for s in samples)
    m["host.load1"] = info["host.load1"]
    m["host.spin_ms"] = info["host.spin_ms"]
    m["host.steal_frac"] = info["host.steal_frac"]
    m["trace.pass_s"] = statistics.median(p["wall_s"] for p in traced)
    m["trace.overhead_s"] = (m["trace.pass_s"] - statistics.median(p["wall_s"] for p in plain)
                             if plain else None)
    return {k: m[k] for k in PER_LAYER}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=DEFAULT_SF, help="fixture scale directory name")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-golden", action="store_true")
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    classpath = build.build()  # the first run in a checkout also builds
    if a.smoke:
        return smoke(classpath)
    if not a.workload:
        ap.error("--workload is required")
    sf_dir = os.path.join(FIXTURES, a.sf)
    if not os.path.isdir(sf_dir):
        raise SystemExit(f"fixture directory {sf_dir} is missing")
    names = WORKLOADS[a.workload].split()
    golden = load_golden()
    if a.record_golden:
        records, _ = run_jvm(classpath, sf_dir, names, a.seed, 0, False, 1,
                             time.time() + 3600)
        samples = [r for r in records if r["kind"] == "sample"]
        errs = [s for s in samples if s["err"] is not None]
        if errs:
            raise SystemExit(f"queries failed: {[(s['q'], s['err']) for s in errs]}")
        golden.setdefault(a.sf, {}).update({s["q"]: digest(s) for s in samples})
        with open(GOLDEN, "w") as fh:
            json.dump(golden, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"recorded {len(samples)} digests for {a.workload} at {a.sf}")
        return 0
    records, spawn = run_jvm(classpath, sf_dir, names, a.seed, a.seconds,
                             bool(a.trace), WARM_PASSES, deadline)
    info, result = summarize(records, spawn, bool(a.trace), golden.get(a.sf, {}))
    print(json.dumps({"workload": a.workload, "seed": a.seed, **info}))
    print(json.dumps(result))
    return 0


def smoke(classpath):
    """Every workload resolves and completes one pass at sf0.001 with
    every output equal to its golden digest."""
    golden = load_golden().get(SMOKE_SF, {})
    ok = True
    for w, names in WORKLOADS.items():
        records, _ = run_jvm(classpath, os.path.join(FIXTURES, SMOKE_SF),
                             names.split(), 1, 0, False, 1, time.time() + 900)
        samples = [r for r in records if r["kind"] == "sample"]
        bad = check(samples, golden)
        ok &= not bad
        print(f"{w}: {len(samples)} queries, failed_frac="
              f"{len(bad) / max(1, len(samples)):.3f}"
              + "".join(f"\n  {s['q']}: {why}" for s, why in bad))
    return 0 if ok else 1


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
