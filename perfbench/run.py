"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the repository root. Every metric is printed by name with its
unit; the last line of standard output is one JSON object
{"correct", "attempted", "failed", "metrics"} carrying the end-to-end
metrics (`--trace 0`) or the per-layer metrics of a traced run
(`--trace 1`), as BENCHMARK.json lists them. A traced run also writes
its spans to `.perfbench_out/trace-<workload>-s<seed>.json`. See
README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "unified_vector_database_spark"
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input size; tiny is for the benchmark's tests")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG!r} not found under {ROOT}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    from perfbench import harness, workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        defs = json.load(f)["per_layer" if args.trace else "end_to_end"]

    rundir = os.path.join(ROOT, ".perfbench_runs",
                          f"{args.workload}-s{args.seed}-p{os.getpid()}")
    harness.isolate(rundir, bool(args.trace))
    run = harness.Run(args.workload, args.seed, args.seconds,
                      bool(args.trace), rundir, args.size)
    try:
        e2e, named = workloads.get(args.workload)(run)
        values = run.finish(e2e)
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            run.write_trace(os.path.join(
                out, f"trace-{args.workload}-s{args.seed}.json"))
    except Exception:
        traceback.print_exc()
        run.shutdown()
        return 1
    finally:
        run.cleanup()

    named["error_rate"] = (run.failed / max(1, run.attempted),
                           f"ratio ({run.failed}/{run.attempted})")
    named["peak_rss_mb"] = (run.peak_rss_mb, "MB (driver + JVM + workers)")
    named["retained_heap_mb"] = (run.heap_mb, "MB (JVM heap after full GC)")
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace}"
          " setup wall_s=" + ",".join(f"{t:.3f}" for t in run.setup_times)
          + " cpu_s=" + ",".join(f"{t:.3f}" for t in run.setup_cpu)
          + "".join(f" {k}_wall_s={v:.3f}" for k, v in run.phase_s.items()))
    for name, (v, unit) in named.items():
        print(f"{name:<28} {v:14.4f} {unit}")
    if args.trace:
        for name in ("trace.overhead_ms", "spark.jobs_per_op",
                     "spark.driver_only_ms_per_op"):
            if name in values:
                print(f"{name:<28} {values[name]:14.4f}")
        print(f"# self time by span (ms): {'span':<48} calls "
              "total_ms self_ms own_jobs")
        for name, calls, total, own, jobs in run.self_times[:20]:
            print(f"#   {name:<70} {calls:5d} {total:10.1f} {own:10.1f} "
                  f"{jobs:5d}")
    result = {}
    for d in defs:
        v = float(values.get(d["name"], 0.0))
        result[d["name"]] = {"value": v if math.isfinite(v) else 0.0,
                             "unit": d["unit"]}
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
