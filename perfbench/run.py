#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload daq_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process drives ``local[4]``: it makes
the workload's inputs from ``--seed``, builds the session (timed as
``setup_s``), measures one round of the workload, checks every output, and
prints one JSON object as its last line of standard output.

A round is a fixed amount of work, so that a faster program does not get
more work to do; at the full size it takes longer than ``--seconds`` on
``local[4]``, and a run whose round ends sooner says so on standard error.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run that puts a Spark job group around every span, reads Spark's status
store as each span ends and reports the per-layer metrics; before the JSON
it prints each one with the end-to-end metric and workload it should move
(see ``metrics.py``), and the tracing overhead.

Either way the spans are written to
``.perfbench_work/traces/<workload>-<seed>-trace<0|1>.json`` when the run
ends. ``--size tiny`` shrinks every input for the self-test (``selftest.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("daq_ingest", "registry_mix")


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it every Python worker) to
    exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    import importlib
    try:
        import project_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}",
              file=sys.stderr)
        return 2
    wl = importlib.import_module(args.workload)

    work = harness.prepare_workdir(ROOT)
    spark = None
    try:
        inputs = wl.prepare(work, args.seed, args.size)
        spark, setup = harness.setup_session(wl.WARMUPS, work)
        tracer = harness.Tracer(spark, spark_counters=bool(args.trace))
        t0 = time.perf_counter()
        res = wl.measure(spark, tracer, inputs, bool(args.trace))
        measured = time.perf_counter() - t0
        if args.size == "full" and measured < args.seconds:
            print(f"perfbench: the round took {measured:.1f} s, less than "
                  f"--seconds {args.seconds:g}", file=sys.stderr)
        tracer.dump(os.path.join(
            ROOT, harness.WORK_DIR, "traces",
            f"{args.workload}-{args.seed}-trace{args.trace}.json"))
    except Exception:  # noqa: BLE001 - no result is printed for a broken run
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    for err in res["errors"]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    failed = len(res["errors"])
    if args.trace:
        values = dict(res["layer"])
        values["session.get_spark_s"] = setup["get_spark_s"]
        values["session.warmup_s"] = setup["warmup_s"]
        values["trace.overhead_s"] = tracer.overhead_s
        values["round.op_p50_s"] = res["summary"]["op_p50_s"]
        values["trace.round_s"] = res["summary"]["round_s"]
        out = metrics.layer_report(values, args.workload)
    else:
        values = {"round_s": res["summary"]["round_s"],
                  "setup_s": setup["get_spark_s"] + setup["warmup_s"]}
        out = metrics.e2e_report(values)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
