"""Benchmark command: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload pagerank_rmat --seed 1 --seconds 6 --trace 0

One process drives one ``local[nproc]`` Spark session through the
package's public functions, back to back. The run generates its inputs
from ``--seed`` (inputs.py), sets up (session, inputs, warm-up), runs
timed passes until ``--seconds`` have elapsed (at least one; the graph
workloads run exactly one, after a warm-up pass), checks every output,
and prints a detail JSON line followed by the result as the last line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (event log off);
``--trace 1`` turns the Spark event log on and reports the per-layer
metrics instead. ``--overhead`` runs both for one seed and prints the
tracing overhead; ``--baseline`` prints the reverse-adjacency build
next to BASELINE.md (report only); ``--write-manifest`` writes
BENCHMARK.json from the workloads and metrics defined here. The exit
code is 0 only when every output was correct. See README.md in this
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import eventlog
import procstats
from harness import ROOT, start_session, stop_session, work_dir
from workloads import LAYER_METRICS, WORKLOADS, Session

# end-to-end metrics, all lower-is-better: (name, unit, bound), where the
# bound is the share of the parent's median a change may lose. Host
# noise puts the spread of the times at 0.08-0.19 of their median on a
# shared 4-core host, so they take the widest bound allowed.
END_TO_END = [
    ("wall_s", "s", 0.25),
    ("setup_s", "s", 0.25),
    ("cpu_s", "s", 0.25),
    ("peak_rss_mb", "MB", 0.15),
]
# The catalog starts timed passes while less than this has elapsed; on
# a 4-core host one catalog pass, like the one timed pass of each graph
# workload, takes longer.
RUN_SECONDS = 6


def manifest() -> dict:
    """The BENCHMARK.json document: command, workloads and metrics."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values()],
        "end_to_end": [{"name": n, "unit": u, "better": "lower", "bound": b}
                       for n, u, b in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in LAYER_METRICS],
    }


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    sys.path.insert(0, ROOT)
    import bench  # owns the host canary

    wl = WORKLOADS[workload]()
    work = work_dir(f"{workload}-{seed}")
    try:
        canary = {"before": bench.canary_py(reps=1)}
        spark, get_spark_s = start_session(work, trace)
        try:
            s = Session(spark, work, seed)
            t0 = time.perf_counter()
            wl.prepare(s)
            prepare_s = time.perf_counter() - t0
            wl.warm_up(s)
            warm_s = sum(c.wall for c in s.calls if c.pass_no == 0)
            setup_s = get_spark_s + prepare_s + warm_s

            jvm_pid = spark._jvm.ProcessHandle.current().pid()
            walls = []
            with procstats.Region(jvm_pid) as region:
                start = time.perf_counter()
                while not walls or (len(walls) < wl.max_passes
                                    and time.perf_counter() - start < seconds):
                    k = len(walls) + 1
                    wl.run_pass(s, k)
                    walls.append(sum(c.wall for c in s.calls if c.pass_no == k))
            attempted, errors = wl.check(s)
            # context, not set-up: after the timed region, so it neither
            # counts in setup_s nor warms the JVM for the timed pass
            canary["jvm_ms"] = bench.canary_jvm(spark, reps=1)
        finally:
            stop_session(spark)
        canary["after"] = bench.canary_py(reps=1)

        detail = {
            "workload": workload, "seed": seed, "why": wl.why, "trace": int(trace),
            "passes": len(walls), "pass_walls_s": [round(w, 4) for w in walls],
            "setup": {"get_spark_s": round(get_spark_s, 4), "prepare_s": round(prepare_s, 4),
                      "warm_up_s": round(warm_s, 4)},
            "calls": {c.group: round(c.wall, 4) for c in s.calls},
            "canary": canary, "errors": errors[:10],
        }
        if trace:
            (log_name,) = os.listdir(os.path.join(work, "eventlog"))
            log = eventlog.parse_file(os.path.join(work, "eventlog", log_name))
            values = {name: 0.0 for name, _, _ in LAYER_METRICS}
            values.update(wl.layers(s, log))
            values["session.get_spark_s"] = get_spark_s
            values["trace.wall_s"] = statistics.median(walls)
            metrics = {name: {"value": float(values[name]), "unit": unit}
                       for name, unit, _ in LAYER_METRICS}
        else:
            values = {
                "wall_s": statistics.median(walls),
                "setup_s": setup_s,
                "cpu_s": region.cpu_s / len(walls),
                "peak_rss_mb": region.peak_rss_mb,
            }
            metrics = {name: {"value": values[name], "unit": unit}
                       for name, unit, _ in END_TO_END}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(detail), flush=True)
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": min(len(errors), attempted), "metrics": metrics}), flush=True)
    return 0 if not errors else 1


def overhead(workload: str, seed: int, seconds: float) -> int:
    """Run the workload untraced and traced on one seed; print the
    traced-minus-untraced median pass wall."""
    out = {}
    for trace in (0, 1):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
        res = subprocess.run(cmd, capture_output=True, text=True, check=True)
        out[trace] = json.loads(res.stdout.strip().splitlines()[-1])["metrics"]
    wall, traced = out[0]["wall_s"]["value"], out[1]["trace.wall_s"]["value"]
    print(json.dumps({"workload": workload, "seed": seed, "wall_s": wall,
                      "trace.wall_s": traced, "trace_overhead_s": traced - wall,
                      "trace_overhead_frac": (traced - wall) / wall}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--overhead", action="store_true",
                    help="print the tracing overhead of --workload on --seed")
    ap.add_argument("--baseline", action="store_true",
                    help="report-only: reverse adjacency next to BASELINE.md")
    ap.add_argument("--write-manifest", action="store_true",
                    help="write BENCHMARK.json at the repo root from this code")
    args = ap.parse_args(argv)
    if args.write_manifest:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            f.write(json.dumps(manifest(), indent=2) + "\n")
        return 0
    if args.baseline:
        sys.path.insert(0, ROOT)
        import baseline

        return baseline.main(args.seed)
    if not args.workload:
        ap.error("--workload is required")
    if args.overhead:
        return overhead(args.workload, args.seed, args.seconds)
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
