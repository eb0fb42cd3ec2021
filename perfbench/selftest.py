"""Small-size self-test of the benchmark.

    python3 perfbench/selftest.py

1. One seed regenerates byte-identical inputs, for every input kind.
2. Every workload, untraced and traced, at ``--scale 0.05``: the last
   stdout line is the result object, its checks pass, and it carries every
   metric BENCHMARK.json names for that mode, each with its unit.
3. Negative controls: the checks of every workload, of the
   daily_incremental path and of the query leaves pass against
   ``pins.json``; with one output row corrupted, a check fails.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCALE = 0.05
SEED = 7


def run_workloads(spec: dict) -> None:
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", workload,
                 "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
                 "--scale", str(SCALE)],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            assert proc.returncode == 0, proc.stderr[-3000:]
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
            for metric in spec[section]:
                got = result["metrics"].get(metric["name"])
                assert got is not None, f"{workload}: {metric['name']} missing"
                assert got["unit"] == metric["unit"], (metric, got)
                assert isinstance(got["value"], float), (metric, got)
            print(f"ok  {workload} --trace {trace}: "
                  f"{len(result['metrics'])} metrics, {result['attempted']} attempted")


def negative_controls() -> None:
    sys.path[:0] = [str(HERE), str(ROOT)]
    from harness import corrupt_one_row, prepare_environment, shutdown, start_session
    from workloads import (
        DailyIncremental,
        Inputs,
        MarcRecords,
        QueryLeaves,
        WebtextBatch,
        load_pins,
    )

    prepare_environment()
    pins = load_pins()
    inp = Inputs(SEED, SCALE)
    inp.generate(("webtext", "days", "marc", "sameas", "tables"))
    spark = start_session("perfbench-selftest")
    try:
        inp.register(spark)
        for name, col, cls in (
            ("webtext_batch", "obj", WebtextBatch),
            ("daily_incremental", "obj", DailyIncremental),
            ("marc_records", "value", MarcRecords),
            ("query_suite", "obj", QueryLeaves),
        ):
            w = cls(inp)
            if cls is not QueryLeaves:
                w.prime()
                w.cold()
            checks, _ = w.verify(pins)
            assert all(ok for _, ok in checks), checks
            bad, _ = w.verify(pins, tamper=lambda df: corrupt_one_row(df, col))
            failing = [c for c, ok in bad if not ok]
            assert failing, f"{name}: a corrupted row passed every check"
            print(f"ok  {name}: corrupted row caught by {failing}")
    finally:
        shutdown(spark)


def main() -> int:
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    import gen
    from harness import WORK
    from workloads import scaled_sizes

    sizes = scaled_sizes(SCALE)
    sizes["sameas"] = 0
    assert gen.identical_regeneration(WORK / "regen", SEED, sizes)
    print("ok  inputs regenerate byte-identically")
    run_workloads(json.loads((ROOT / "BENCHMARK.json").read_text()))
    negative_controls()
    return 0


if __name__ == "__main__":
    sys.exit(main())
