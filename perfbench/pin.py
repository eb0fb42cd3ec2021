"""Record the pinned output digests that the benchmark's checks compare
against.

    python3 perfbench/pin.py

Pins every input set ``--seed`` can select (``workloads.INPUT_SETS`` of
them, at full size) plus the self-test's small one. Per input set:

* webtext_batch: the triples of ``run_pipeline`` over the corpus;
* daily_incremental: the per-day triples of ``run_pipeline(day,
  source_index=day)`` — the path ``run_incremental`` appends with, and the
  one its one-job backfill must equal;
* marc_records: the lines ``write_entity_ldj`` writes;
* query_suite: each of the ten ``bench.py`` query leaves.

A later change that alters any of these outputs fails the checks on
purpose; re-pin only for an intentional output change and say so in the
change.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

from harness import digest, prepare_environment, shutdown, start_session  # noqa: E402
from workloads import (  # noqa: E402
    INPUT_SETS,
    PINS,
    DailyIncremental,
    Inputs,
    MarcRecords,
    QueryLeaves,
    WebtextBatch,
)

import gen  # noqa: E402
from selftest import SCALE, SEED  # noqa: E402


def pin_inputs(spark, seed: int, scale: float) -> dict:
    from esmarc_spark.pipeline.canonicalize import canonical_mapping
    from esmarc_spark.pipeline.run import run_pipeline
    from pyspark.sql import functions as F

    inp = Inputs(seed, scale)
    inp.generate(("webtext", "days", "sameas", "marc", "tables"))
    inp.register(spark)
    cmap = canonical_mapping(inp.edges)
    web = WebtextBatch(inp)
    out = {web.key: digest(run_pipeline(inp.webtext, inp.gazetteer, canonical_map=cmap))}
    per_day = {}
    for k in range(gen.N_DAYS):
        day = DailyIncremental.pday(k)
        docs = inp.days.where(F.date_format("warc_ts", "yyyy-MM-dd") == day)
        per_day[day] = digest(run_pipeline(docs, inp.gazetteer, source_index=day))
    out[f"daily_incremental|{inp.seed}|{inp.sizes['days']}"] = per_day

    marc = MarcRecords(inp, out_name="pin_marc")
    marc.op()
    out[marc.key] = digest(spark.read.text(str(marc.out)), cols=("entity", "value"))
    leaves = QueryLeaves(inp)
    out[leaves.key] = leaves.digests()
    return out


def main() -> int:
    prepare_environment()
    pins = {}
    spark = start_session("perfbench-pin")
    try:
        for seed, scale in [(s, 1.0) for s in range(INPUT_SETS)] + [(SEED, SCALE)]:
            pins.update(pin_inputs(spark, seed, scale))
            print(f"pinned input set {seed} at scale {scale}", file=sys.stderr, flush=True)
    finally:
        shutdown(spark)
    PINS.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
