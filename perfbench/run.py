"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,dashboard_reads}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from the
seed, drives the engine for about ``--seconds`` of timed work, checks
every output, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``,
named, and with the units, that ``BENCHMARK.json`` lists.
The line before it holds run details (sample counts, the tail
percentile, mismatches). Exits 1 when any output is wrong and 2 when
the engine is not there to run.
"""

from __future__ import annotations

import time

T_START, T_WALL = time.perf_counter(), time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isfile(
        os.path.join(ROOT, "hrfco_data_pipeline_spark", "__init__.py")
    )


def _stop_jvm():
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — last resort: kill and reap
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "dashboard_reads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not _engine_present():
        print(f"perfbench: the engine is not in {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        specs = json.load(f)["per_layer" if args.trace else "end_to_end"]
    sys.path.insert(0, ROOT)
    tmp = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temp file of this process, the JVMs it launches and their
    # workers inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp

    from perfbench.workloads import WORKLOADS, Run

    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), T_START, T_WALL)
    try:
        res = WORKLOADS[args.workload](run)
    finally:
        run.stop()
        _stop_jvm()
        run.write_spans()
        run.cleanup()

    detail = dict(res.detail, mismatches=res.mismatches, e2e=res.e2e)
    values = res.layers if args.trace else res.e2e
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in specs}
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": res.correct, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}))
    return 0 if res.correct else 1


if __name__ == "__main__":
    sys.exit(main())
