#!/usr/bin/env python3
"""graft's benchmark: end-to-end latency and throughput per workload,
and per-layer Spark and graft counters from a separate traced region.

Usage (from the root of a checkout):

  python3 perfbench/run.py --workload tpch|iterative|interactive \
      --seed N --seconds S --trace 0|1

One run: build graft and the harness if the sources changed
(build.py), generate the inputs from the seed (datagen.py), start one
JVM that sets up, warms up, runs whole seeded passes of the workload's
entries for about S seconds and executes every entry's output check
(src/perfbench/Harness.scala), compare the outputs (checks.py), then
print each metric by name and unit and, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Workloads, entry lists and the metric map are in workloads.json.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # leave nothing behind in perfbench/

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402

RUN_LIMIT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cores():
    """nproc, capped so a large host does not start dozens of clients."""
    return max(1, min(len(os.sched_getaffinity(0)), 8))


def tail(values):
    """Highest whole percentile with at least 10 samples above it, by
    nearest rank: (value, percentile, samples)."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100, n
    p = (100 * (n - 10)) // n
    return xs[max(0, math.ceil(p * n / 100) - 1)], p, n


def launch(classes, work, plan_file, timeout_s):
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Harness",
              plan_file])
    env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, env=env)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        why = "timed out" if rc is None else f"exited with {rc}"
        raise SystemExit(f"perfbench: harness JVM {why}; log: {log_path}")


def qps(regions):
    done = sum(1 for r in regions for s in r["samples"] if not s[4])
    return done / sum(r["wall_s"] for r in regions)


def per_layer(res):
    """Per-entry means of the traced region, plus run-level ratios."""
    before, traced, after = res["regions"]
    k = traced["counters"]
    n = len(traced["samples"])
    per = lambda key: k[key] / n
    return {
        "query.build_s": (per("build_s"), "s"),
        "query.inner_jobs": (per("inner_jobs"), "count"),
        "catalyst.analysis_s": (per("analysis_s"), "s"),
        "catalyst.optimization_s": (per("optimization_s"), "s"),
        "catalyst.planning_s": (per("planning_s"), "s"),
        "catalyst.queries": (per("queries"), "count"),
        "scheduler.jobs": (per("jobs"), "count"),
        "scheduler.stages": (per("stages"), "count"),
        "scheduler.tasks": (per("tasks"), "count"),
        "scheduler.task_wait_s": (per("task_wait_s"), "s"),
        "exec.run_s": (per("run_s"), "s"),
        "exec.cpu_s": (per("cpu_s"), "s"),
        "exec.gc_s": (per("gc_s"), "s"),
        "exec.deser_s": (per("deser_s"), "s"),
        "exec.busy_ratio": (k["run_s"] / (traced["wall_s"] * res["cores"]),
                            "ratio"),
        "exec.useful_task_ratio": (k["useful_tasks"] / max(1, k["tasks"]),
                                   "ratio"),
        "shuffle.write_bytes": (per("shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (per("shuffle_read_bytes"), "bytes"),
        "shuffle.records": (per("shuffle_records"), "count"),
        "shuffle.fetch_wait_s": (per("fetch_wait_s"), "s"),
        "spill.bytes": (per("spill_bytes"), "bytes"),
        "scan.bytes": (per("scan_bytes"), "bytes"),
        "scan.records": (per("scan_records"), "count"),
        "driver.result_bytes": (per("result_bytes"), "bytes"),
        "reliable.checkpoints": (per("checkpoints"), "count"),
        "setup.session_s": (res["setup_session_s"], "s"),
        "setup.warmup_s": (res["setup_warmup_s"], "s"),
        "trace.overhead_ratio": (qps([traced]) / qps([before, after]),
                                 "ratio"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    with open(os.path.join(BENCH, "workloads.json")) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(spec['workloads'])}")
    wl = spec["workloads"][args.workload]
    entries = wl["entries"]

    t_build = time.monotonic()
    classes = build.ensure_built()
    deadline = time.monotonic() + RUN_LIMIT_S - (t_build - t_start)

    n_cores = cores()
    clients = n_cores if wl["clients"] == "cores" else int(wl["clients"])
    passes = max(1, round(args.seconds / wl["pass_s"]))
    if args.trace:
        # The traced run measures a traced region between two
        # untraced ones; each gets a third of the passes.
        passes = max(1, round(passes / 3))

    # A fresh work dir per run: no Spark local dir, shuffle file or
    # output survives from an earlier run into this one's setup.
    work = os.path.join(build.build_dir(), "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    datagen.generate(data, args.seed, spec["scale"])

    plan_file = os.path.join(work, "plan.properties")
    with open(plan_file, "w") as fh:
        fh.write("\n".join(f"{k}={v}" for k, v in {
            "workload": args.workload, "seed": args.seed,
            "passes": passes, "warm_passes": wl["warm_passes"],
            "traced": args.trace, "data": data,
            "work": work, "cores": n_cores, "clients": clients,
            "entries": ",".join(entries)}.items()) + "\n")
    launch(classes, work, plan_file, deadline - time.monotonic())

    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    bad = checks.verify(data, work, res["checks"])
    plain = res["regions"][0]
    samples = plain["samples"]
    errors = {s[0]: s[4] for s in samples if s[4]}
    failed_runs = sum(1 for s in samples if s[4])
    attempted = len(samples)
    failed = failed_runs + len(bad)
    # A failed entry misses every latency limit.
    lat = [math.inf if s[4] else s[2] for s in samples]
    tail_v, tail_p, tail_n = tail(lat)
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "throughput_qps": (qps([plain]), "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tail_v, "s"),
        "heap_mb": (res["heap_mb"], "MB"),
    }

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"cores={n_cores} clients={clients} passes={passes} "
          f"entries={len(entries)} scale={spec['scale']} "
          f"timed_wall_s={plain['wall_s']:.3f}")
    for name, (v, unit) in e2e.items():
        note = ""
        if name == "setup_s":
            note = (f"  (session {res['setup_session_s']:.3f} s, warm-up "
                    f"{res['setup_warmup_s']:.3f} s)")
        if name == "latency_tail_s":
            note = (f"  (p{tail_p}, n={tail_n})" if tail_n > 10 else
                    f"  (maximum: n={tail_n}, no percentile has 10 "
                    f"samples above it)")
        print(f"  {name:<24} {v:12.4f} {unit}{note}")
    print(f"  {'error_rate':<24} {failed / attempted:12.4f} ratio  "
          f"({failed} of {attempted})")
    for name, err in sorted(errors.items()):
        print(f"  ERROR {name}: {err}")
    n_oracle = sum(1 for c in res["checks"] if c["oracle"])
    print(f"  checks: {len(res['checks']) - len(bad)} of "
          f"{len(res['checks'])} pass ({n_oracle} DuckDB oracle, "
          f"{len(res['checks']) - n_oracle} repeat checksum)")
    for name, why in sorted(bad.items()):
        print(f"  MISMATCH {name}: {why}")

    metrics = e2e
    if args.trace:
        metrics = per_layer(res)
        print(f"  traced region: {len(res['regions'][1]['samples'])} "
              f"entries, spans in {os.path.join(work, 'spans.jsonl')}")
        for name, (v, unit) in metrics.items():
            print(f"  {name:<24} {v:12.4f} {unit}")
    # A latency over failed samples only is infinite; JSON has no such
    # number, so it becomes null (the run is then not correct anyway).
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
