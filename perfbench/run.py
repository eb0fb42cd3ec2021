"""Benchmark entry point.

    python3 perfbench/run.py --workload webtext_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates the seeded inputs (cached under
``.perfbench_cache``), starts ``local[4]`` sessions, drives one workload
with a single closed-loop client for at least ``--seconds`` seconds and
MIN_OPS operations, checks the outputs and prints
one JSON object as the last line of stdout::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, measured
with tracing off; ``--trace 1`` runs the traced run of ``tracing.py`` and
reports the per-layer metrics. A human-readable summary, including the
output digests that ``pins.json`` records, goes to stderr.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from harness import (  # noqa: E402
    ROOT,
    jvm_pid,
    median,
    peak_rss_mb,
    prepare_environment,
    shutdown,
    start_session,
    timed,
)

N_SETUPS = 5
# untimed steady operations between the cold operation and the window: the
# first three or four passes after the cold one are still on the JIT
# warm-up curve (up to ~40% slower on webtext_batch)
WARMUP_OPS = 3
# timed steady operations a run makes at least, whatever --seconds says
MIN_OPS = 5
APP = "perfbench"


def setup(inp) -> tuple[object, list[float], list[float]]:
    """Start the session and register the inputs N_SETUPS times (stopping
    the previous session each time); the first start also launches the
    JVM. Returns the live session and the per-setup and per-start walls."""
    spark, totals, starts = None, [], []
    for _ in range(N_SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(APP)
        t1 = time.perf_counter()
        inp.register(spark)
        starts.append(t1 - t0)
        totals.append(time.perf_counter() - t0)
    return spark, totals, starts


def measured_run(workload, seconds: float, pins: dict):
    """The cold operation and WARMUP_OPS steady ones, untimed; then timed
    steady operations until ``seconds`` have passed and at least MIN_OPS
    were attempted; then the output checks. Both metrics are medians over the
    window, so an operation slowed by a burst of load from outside the
    run moves neither."""
    failed = attempted = 0

    def attempt(fn):
        nonlocal failed, attempted
        attempted += 1
        try:
            return timed(fn)
        except Exception:
            failed += 1
            traceback.print_exc(file=sys.stderr)
            return None, None

    workload.prime()
    cold_s, _ = attempt(workload.cold)
    for _ in range(WARMUP_OPS):
        attempt(workload.op)
    walls = []
    end = time.perf_counter() + seconds
    for k in itertools.count():
        if time.perf_counter() >= end and k >= MIN_OPS:
            break
        wall, _ = attempt(workload.op)
        if wall is not None:
            walls.append(wall)
    checks, digests = workload.verify(pins)
    attempted += len(checks)
    failed += sum(not ok for _, ok in checks)
    if cold_s is None or not walls:
        raise RuntimeError("no operation completed")
    metrics = {
        "op_p50_s": median(walls),
        "throughput_per_s": median([workload.items_per_op / w for w in walls]),
    }
    print(f"cold op: {cold_s:.3f}; steady ops: {[round(w, 3) for w in walls]}",
          file=sys.stderr)
    return metrics, checks, digests, attempted, failed


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the self-test uses 0.05)")
    args = p.parse_args(argv)

    if not (ROOT / "esmarc_spark" / "__init__.py").is_file():
        print(f"perfbench: no esmarc_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS, Inputs, load_pins

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    prepare_environment()
    cls = WORKLOADS[args.workload]
    inp = Inputs(args.seed, args.scale)
    inp.generate(cls.kinds + (cls.trace_kinds if args.trace else ()))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    section = spec["per_layer" if args.trace else "end_to_end"]

    spark, setups, starts = setup(inp)
    try:
        workload = cls(inp)
        if args.trace:
            from tracing import traced_run

            spark, layer, checks, attempted = traced_run(
                spark, inp, workload, APP, load_pins(), [x["name"] for x in section]
            )
            failed = sum(not ok for _, ok in checks)
            digests = {}
            metrics = {"session.start_s": median(starts), **layer}
        else:
            metrics, checks, digests, attempted, failed = measured_run(
                workload, args.seconds, load_pins()
            )
            metrics["setup_s"] = median(setups)
            metrics["peak_rss_mb"] = peak_rss_mb([os.getpid(), jvm_pid()])
    finally:
        shutdown(spark)

    for name, ok in checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}", file=sys.stderr)
    for key, d in digests.items():
        print(f"digest {json.dumps({key: d}, sort_keys=True)}", file=sys.stderr)
    print(f"setup walls: {[round(s, 3) for s in setups]}", file=sys.stderr)
    missing = [x["name"] for x in section if x["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            x["name"]: {"value": float(metrics[x["name"]]), "unit": x["unit"]}
            for x in section
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
