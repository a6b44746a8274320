#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload validate_raw --seed 1 --seconds 10 --trace 0

Workloads: ``validate_raw`` and ``cdc_trickle`` (see perfbench/NOTES.md).
With ``--trace 0`` the run is timed and the end-to-end metrics of
BENCHMARK.json are printed; with ``--trace 1`` a traced run prints the
per-layer metrics and writes its spans to ``.perfbench_work/<workload>-s<seed>-t1/trace.json``. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics`` (each ``{"value", "unit"}``). The exit code is 1 when the
correctness gate failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

import bench_env

WORKLOADS = ("validate_raw", "cdc_trickle")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="toy: a few thousand docs, for the smoke test")
    ap.add_argument("--break-expectation", action="store_true",
                    help="corrupt the expected key sets (the gate must trip)")
    args = ap.parse_args(argv)

    # fail before any work when the package or the spec is absent
    import opengauss_tools_datachecker_performance_spark  # noqa: F401

    with open(os.path.join(bench_env.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    import workloads

    bench_env.adopt_orphans()
    env = bench_env.prepare_env()
    work = os.path.join(bench_env.WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = workloads.Run(args.workload, args.seed, args.seconds, args.size, work)
    traced = bool(args.trace)
    cpu0 = bench_env.cpu_times()
    try:
        if args.workload == "cdc_trickle":
            workloads.cdc(run, env, traced, args.break_expectation)
        else:
            workloads.validate(run, env, traced, args.break_expectation)
    except Exception:
        # an operation that raised is a failed one; report no metrics
        traceback.print_exc()
        run.attempted += 1
        run.errors.append("run: raised")
        run.metrics = {}
    finally:
        # no process of the run may outlive it
        bench_env.end_children()
    missing = [m["name"] for m in wanted if m["name"] not in run.metrics]
    if missing and not run.errors:
        run.errors.append(f"run: metrics not measured: {missing}")

    # host CPU use over the run, to tell a slow host from a slow program
    run.info["host_cpu"] = bench_env.cpu_shares(cpu0, bench_env.cpu_times())
    run.info["errors"] = run.errors
    run.info["metrics"] = run.metrics
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(run.info, f, indent=1, default=str)
    # keep the result and trace files, drop the run's reports and tables
    for entry in os.scandir(work):
        if entry.is_dir():
            shutil.rmtree(entry.path, ignore_errors=True)
    for e in run.errors:
        print(f"[perfbench] FAILED {e}", file=sys.stderr)
    env_line = {k: run.info.get(k) for k in (
        "host", "nproc", "spark_version", "driver_heap", "master", "seed",
        "docs_per_side", "partitions", "source_rows")}
    print("# perfbench env " + json.dumps(env_line))
    result = {
        "correct": not run.errors,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {
            m["name"]: {"value": run.metrics[m["name"]], "unit": m["unit"]}
            for m in wanted if m["name"] in run.metrics
        },
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
