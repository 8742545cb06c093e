"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from the repository root it lives in, checks the
program's outputs, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. A detail record (host context, every metric, and with
``--trace 1`` the spans) is written under ``.perfbench/out/``.
Exits non-zero without a result line when the run cannot complete.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("migrate_rest", "lake_mor", "queries")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "iceberg_catalog_migrator_spark")):
        print(f"perfbench: no iceberg_catalog_migrator_spark package under {ROOT}", file=sys.stderr)
        return 2
    # run as a script, Python puts perfbench/ first on the path, where its
    # module names (trace, queries, spark) would shadow others
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    # the output checks reuse the correctness harness's frame comparison
    sys.path.append(os.path.join(ROOT, "scripts"))
    from perfbench import common

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run = common.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.record_host()
    run.prepare()
    try:
        # imported after prepare(): the package reads its environment at import
        import bench

        run.host["calibration_numpy_s"] = bench._calibrate_numpy()
        t0 = time.perf_counter()
        importlib.import_module(f"perfbench.{args.workload}").run_workload(run)
        run.details["total_s"] = time.perf_counter() - t0
        run.e2e["driver_peak_rss_mb"] = common.peak_rss_mb()
        if run.traced:
            run.trace_overhead()
        line = run.result_line(spec)
        run.write_record(line)
    except Exception:  # noqa: BLE001 - any failure ends the run without a result line
        traceback.print_exc()
        return 1
    finally:
        run.cleanup()
    if run.mismatches:
        common.log("output check failed: " + "; ".join(run.mismatches[:5]))
    print(json.dumps({"host": run.host, "details": run.out + ".json"}), flush=True)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
