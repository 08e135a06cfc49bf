#!/usr/bin/env python3
"""Engine benchmark: seeded, oracle-checked workloads over the public
query registry, with a traced per-layer split.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch-mix --seed 1 --seconds 10 --trace 0

--workload all (the default) runs every workload in turn. The first run
builds the engine and the harness (build.py). Each run generates its
input from the seed (gen.py), computes the expected answers with DuckDB
(oracle.py, cached per input), then starts one JVM that times the
registry calls (Harness.scala). The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; --trace 0
reports the end-to-end metrics, --trace 1 the per-layer ones. The line
before it lists every metric with its sample count, and any failure.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

# Why each workload exists is in README.md. Each entry: queries, and
# the fewest warm passes a run makes. The maintainers' passes are short
# and keep getting faster for longer, so maintain makes more of them.
WORKLOADS = {
    "batch-mix": ("q01 q03 q21 q22 q24 q25 q26 q27 q99 q34 q57", 2),
    "maintain": ("q208 q212", 4),
}

END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
    "query_p50_s": "s", "query_tail_s": "s", "live_heap_mb": "MB",
}
PER_LAYER = {
    "engine.session_build_s": "s",
    "engine.codegen.compiles": "count", "engine.codegen.compile_s": "s",
    "engine.catalyst.analysis_s": "s", "engine.catalyst.optimization_s": "s",
    "engine.catalyst.planning_s": "s", "engine.catalyst.actions": "count",
    "engine.sched.jobs": "count", "engine.sched.stages": "count", "engine.sched.tasks": "count",
    "engine.sched.job_s": "s", "engine.sched.task_wait_s": "s", "engine.sched.driver_s": "s",
    "sources.read_mb": "MB", "sources.rows_read": "count", "sources.files_read": "count",
    "sources.scan_s": "s",
    "engine.shuffle.write_mb": "MB", "engine.shuffle.read_mb": "MB",
    "engine.shuffle.fetch_wait_s": "s", "engine.shuffle.spill_mb": "MB", "engine.shuffle.skew": "ratio",
    "engine.broadcast.mb": "MB", "engine.compute.task_s": "s", "engine.compute.cpu_s": "s",
    "engine.compute.busy_frac": "ratio",
    "engine.cache.put_mb": "MB", "engine.cache.peak_mem_mb": "MB", "engine.cache.sweep_s": "s",
    "engine.jvm.gc_s": "s", "engine.jvm.heap_peak_mb": "MB",
    "streaming.triggers": "count", "streaming.rows_in": "count", "streaming.add_batch_s": "s",
    "streaming.planning_s": "s", "streaming.wal_s": "s", "streaming.offsets_s": "s",
    "streaming.write.files": "count", "streaming.write.mb": "MB",
    "streaming.write.job_commit_s": "s", "streaming.write.task_commit_s": "s",
    "streaming.trigger_p50_s": "s", "streaming.trigger_tail_s": "s",
    "operators.query_s": "s", "analytics.query_s": "s", "pipeline.query_s": "s",
    "streaming.query_s": "s",
    "plans.kernel_nodes": "count",
    "trace.overhead_frac": "ratio",
    "engine.scaling.speedup_1core": "ratio",
}

RUN_LIMIT_S = 175
JVM_HEAP = "3g"
ORACLE_MEMORY = 6 << 30


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); None when that percentile is below p90, that
    is, with fewer than 100 samples."""
    xs = sorted(values)
    if len(xs) < 100:
        return None
    return xs[-11], 100.0 * (len(xs) - 10) / len(xs)


def answers(data_dir, out_dir, sql_file, queries):
    """Runs oracle.py in a child process with bounded memory."""
    code = ("import json, sys; sys.path.insert(0, sys.argv[1]); import oracle; "
            "sql = json.load(open(sys.argv[2])); "
            "oracle.answers(sys.argv[3], sys.argv[4], {q: sql[q] for q in sys.argv[6:]}, int(sys.argv[5]))")
    subprocess.run([sys.executable, "-c", code, HERE, sql_file, data_dir, out_dir,
                    str(len(os.sched_getaffinity(0)))] + queries,
                   check=True, preexec_fn=lambda: resource.setrlimit(resource.RLIMIT_AS, (ORACLE_MEMORY,) * 2))


def run_workload(work, classes, sql_file, name, seed, seconds, trace, deadline):
    queries, min_passes = WORKLOADS[name]
    queries = queries.split()
    data_root = os.path.join(work, "data")
    data_dir = os.path.join(data_root, str(seed))
    if os.path.isdir(data_root):
        for d in os.listdir(data_root):
            if d != str(seed):
                shutil.rmtree(os.path.join(data_root, d))
    t0 = time.monotonic()
    manifest = gen.generate(data_dir, seed)
    t1 = time.monotonic()
    answers_root = os.path.join(work, "answers")
    expect_dir = os.path.join(answers_root, manifest["digest"])
    answers(data_dir, expect_dir, sql_file, queries)
    # keep only the answers of inputs still on disk
    kept = set()
    for d in os.listdir(data_root):
        m = os.path.join(data_root, d, "manifest.json")
        if os.path.exists(m):
            with open(m) as f:
                kept.add(json.load(f)["digest"])
    for d in set(os.listdir(answers_root)) - kept:
        shutil.rmtree(os.path.join(answers_root, d))
    print(f"[{name}] input {t1 - t0:.1f} s, expected answers {time.monotonic() - t1:.1f} s", file=sys.stderr)

    tmp = os.path.join(work, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(tmp, "result.json")
    spans = os.path.join(work, f"spans-{name}-{seed}.json")
    cmd = build.java(classes, JVM_HEAP, [f"-Djava.io.tmpdir={tmp}"]) + [
        "perfbench.Harness", "--data", data_dir, "--expect", expect_dir,
        "--queries", ",".join(queries), "--seconds", str(seconds),
        "--trace", str(trace), "--min-passes", str(min_passes), "--out", out]
    if trace:
        cmd += ["--spans", spans]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    try:
        subprocess.run(cmd, check=True, stdout=sys.stderr, env=env, cwd=tmp,
                       timeout=max(10.0, deadline - time.monotonic()))
        with open(out) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    warm = raw["warm_pass_s"]
    calls = raw["latency_s"]
    found = tail(calls)
    if found:
        p_tail, tail_name = found[0], f"p{found[1]:.1f}"
    else:
        # too few calls for a p90 or higher: the slowest query's median
        # latency over the warm passes (calls are in pass order)
        p_tail = max(statistics.median(calls[i::len(queries)]) for i in range(len(queries)))
        tail_name = "the slowest query's median"
    samples = {
        "setup_s": (statistics.median(raw["setup_s"]), len(raw["setup_s"])),
        "cold_pass_s": (raw["cold_pass_s"], 1),
        # the JIT keeps settling over the first warm passes, which get
        # steadily faster; the fastest pass is the settled cost
        "pass_s": (min(warm), len(warm)),
        "query_p50_s": (statistics.median(calls), len(calls)),
        "query_tail_s": (p_tail, len(calls)),
        "live_heap_mb": (raw["live_heap_mb"], 1),
    }
    units = END_TO_END
    if trace:
        layers = raw["layers"]
        samples = {k: (statistics.median(l.get(k, 0.0) for l in layers), len(layers))
                   for k in PER_LAYER}
        trig = raw["trigger_s"]
        t_tail = (tail(trig) or (max(trig, default=0.0),))[0]
        samples.update({
            "engine.session_build_s": (statistics.median(raw["session_build_s"]), len(raw["session_build_s"])),
            "streaming.trigger_p50_s": (statistics.median(trig) if trig else 0.0, len(trig)),
            "streaming.trigger_tail_s": (t_tail, len(trig)),
            "trace.overhead_frac": (statistics.median(raw["traced_pass_s"]) / statistics.median(warm) - 1,
                                    len(raw["traced_pass_s"])),
            "engine.scaling.speedup_1core": (raw["one_core_pass_s"] / statistics.median(warm), 1),
        })
        units = PER_LAYER
    failures = raw["failures"]
    notes = [f"{k}={v:.6g} {units[k]} (n={n})" for k, (v, n) in samples.items()]
    if not trace:
        notes.append(f"query_tail_s is {tail_name}")
    notes.append(f"failed_frac={len(failures) / raw['attempted']:.6g} ({len(failures)}/{raw['attempted']})")
    notes.append(f"input seed {seed} digest {manifest['digest'][:16]} "
                 + " ".join(f"{t}={v['rows']}r/{v['bytes']}B" for t, v in manifest["tables"].items()))
    print(f"[{name}] " + "; ".join(notes), flush=True)
    for f in failures:
        print(f"[{name}] FAILED {f}", flush=True)
    return {
        "attempted": raw["attempted"], "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, (v, _) in samples.items()},
    }


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="all", choices=["all"] + list(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = p.parse_args()

    root = os.getcwd()
    work = os.path.join(root, ".bench_build", "perfbench")
    classes, sql_file = build.build(root, work)
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    results = {}
    for name in names:
        deadline = time.monotonic() + RUN_LIMIT_S
        results[name] = run_workload(work, classes, sql_file, name, a.seed, a.seconds, a.trace, deadline)
    if len(names) == 1:
        r = results[names[0]]
    else:
        r = {"attempted": sum(x["attempted"] for x in results.values()),
             "failed": sum(x["failed"] for x in results.values()),
             "metrics": {f"{n}/{k}": v for n, x in results.items() for k, v in x["metrics"].items()}}
    print(json.dumps({"correct": r["failed"] == 0, **r}))


if __name__ == "__main__":
    main()
