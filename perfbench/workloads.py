"""The benchmark's workloads: one closed-loop client driving the program
through its public functions, one operation at a time.

Each workload has an untimed ``prime`` step, a cold operation (the first
timed one after set-up, which pays plan caches, codegen and JIT warm-up), a
steady operation repeated for the measured window, and output checks that
feed ``failed``/``attempted``. Every check of an output digest compares it
with ``pins.json``; a missing pin fails the check.

* webtext_batch — ``run_pipeline(webtext, gazetteer, canonical_map=...)``
  over the seeded multi-file parquet corpus, sunk to ``noop``. The cold
  operation builds the sameAs canonical map, which the steady passes
  reuse, as ``run_pipeline``'s docstring asks of repeated calls. The
  flagship read path: S2 mentions dominate a steady pass; plan build (with
  its eager gazetteer probe) and the S4 rewrite are a visible share.
* marc_records — MARC21-JSON records through
  ``mapInPandas(mapped_docs_batches)`` into ``write_entity_ldj(compress=
  True)``, the CLI path. Per-record Python behind the Arrow boundary and
  almost no shuffle, so only a mapping-engine or sink change shows here.

Two paths are measured only in a traced run, not as workloads of their
own (see README.md for why):

* ``DailyIncremental`` — ``run_incremental`` into a fresh ``out_root``: one
  backfill job over the first ``BACKFILL_DAYS`` days, then single-day
  appends, each a call whose input exposes one more day. The write path
  and its per-partition fixed cost (plan build, resume anti-join, lineage
  re-count jobs); webtext_batch's traced run measures it.
* ``QueryLeaves`` — the ten ``bench.py`` leaves of
  ``__spark_entry__.queries()`` over seeded tables; marc_records' traced
  run measures them per leaf.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import CACHE, WORK, digest, noop, timed

# full-size inputs; --scale multiplies them (the self-test runs at 0.05)
SIZES = {"webtext": 40_000, "days": 1_000, "marc": 40_000, "tables": 60_000}
# --seed selects one of this many input sets (seed modulo INPUT_SETS), so
# every seed a run can be given has its output digests in pins.json
INPUT_SETS = 16
BACKFILL_DAYS = 4
REGEX_SAMPLE_MOD = 40  # cross-check 1/40 of the corpus against regex mentions
MARC_SAMPLE = 24
# bench.py's ten leaves, in its order
LEAVES = (
    "kg_triples", "kg_entity_counts", "tpch_q1", "tpch_q3", "tpch_q5",
    "events_sessions", "text_stats", "dedup_lsh_pairs", "dedup_simhash",
    "sim_topk",
)

PINS = Path(__file__).resolve().parent / "pins.json"


def load_pins() -> dict:
    return json.loads(PINS.read_text()) if PINS.exists() else {}


def scaled_sizes(scale: float) -> dict[str, int]:
    return {k: max(200, int(v * scale)) for k, v in SIZES.items()}


class Inputs:
    """The seeded input files of every workload and their registration
    (lazy readers) in one session."""

    def __init__(self, seed: int, scale: float):
        self.seed = seed % INPUT_SETS
        self.sizes = scaled_sizes(scale)
        self.paths: dict[str, str] = {}

    def generate(self, kinds: tuple[str, ...]) -> None:
        for kind in kinds:
            size = 0 if kind == "sameas" else self.sizes[kind]
            self.paths[kind] = gen.cached(CACHE, kind, self.seed, size)

    def register(self, spark) -> None:
        from esmarc_spark.pipeline.webtext import gazetteer_df
        from pyspark.sql import functions as F

        self.spark = spark
        self.gazetteer = gazetteer_df(spark)
        if "sameas" in self.paths:
            self.edges = spark.read.parquet(self.paths["sameas"])
        if "webtext" in self.paths:
            self.webtext = spark.read.parquet(self.paths["webtext"])
        if "days" in self.paths:
            self.days = spark.read.parquet(self.paths["days"])
        if "marc" in self.paths:
            # the CLI's record loader: record_id is the 001 control number
            self.records = spark.read.parquet(self.paths["marc"]).select(
                F.get_json_object("marc_json", "$.001").alias("record_id"),
                "marc_json",
            )


def _pin_check(checks: list, pins: dict, key: str, got) -> None:
    checks.append((f"pinned digest {key}", pins.get(key) == got))


class Workload:
    """Defaults of the workload protocol."""

    name = ""
    kinds: tuple[str, ...] = ()
    # inputs only the traced run reads
    trace_kinds: tuple[str, ...] = ()
    # metric-name prefixes of the layers the traced run measures for it
    layers: tuple[str, ...] = ()
    items_per_op = None

    def prime(self) -> None:
        """Untimed work between set-up and the cold operation."""

    def snapshot(self) -> None:
        """Remember the output state, so ``restore`` can replay the same
        operations (the traced run times them untraced, then traced)."""

    def restore(self) -> None:
        pass


class WebtextBatch(Workload):
    name = "webtext_batch"
    kinds = ("webtext", "sameas")
    trace_kinds = ("days",)
    layers = ("scan", "extract", "mentions", "link", "canonicalize",
              "materialize", "run", "layers", "incremental", "checkpoint")

    def __init__(self, inp: Inputs):
        self.inp = inp
        self.key = f"{self.name}|{inp.seed}|{inp.sizes['webtext']}"
        self.cmap_path = WORK / "canonical_map"
        shutil.rmtree(self.cmap_path, ignore_errors=True)

    def prime(self) -> None:
        # a session started after the cold operation reads the stored map
        if self.cmap_path.exists():
            self.cmap = self.inp.spark.read.parquet(str(self.cmap_path))

    def triples(self, webtext=None, **kw):
        from esmarc_spark.pipeline.run import run_pipeline

        inp = self.inp
        if webtext is None:
            return run_pipeline(inp.webtext, inp.gazetteer, canonical_map=self.cmap)
        return run_pipeline(webtext, inp.gazetteer, **kw)

    def cold(self) -> None:
        # the first pass builds the canonical map (the connected-component
        # rounds: ~57 eager jobs, ~4.5 s on 4 cores) and stores it as a dim
        # table that the steady passes reuse. Its output is the one the
        # checks digest; the steady passes sink to noop
        from esmarc_spark.pipeline.canonicalize import canonical_mapping

        canonical_mapping(self.inp.edges).write.parquet(str(self.cmap_path))
        self.prime()
        self.first_digest = digest(self.triples())
        self.items_per_op = self.first_digest["rows"]

    def op(self) -> None:
        noop(self.triples())

    def verify(self, pins: dict, tamper=None) -> tuple[list, dict]:
        got = self.first_digest if tamper is None else digest(tamper(self.triples()))
        checks = [("triples emitted", got["rows"] > 0)]
        _pin_check(checks, pins, self.key, got)
        return checks, {self.key: got}

    def regex_parity(self) -> tuple[str, bool]:
        """Mention-detector parity on a sample, without the sameAs rewrite
        (the pinned digest covers it), so the check pays no CC rounds. The
        traced run makes it: its two pipeline passes would add ~5 s to
        every untraced run."""
        from pyspark.sql import functions as F

        sample = self.inp.webtext.where(
            F.pmod(F.xxhash64("url"), F.lit(REGEX_SAMPLE_MOD)) == 0
        )
        ngram = digest(self.triples(sample))
        regex = digest(self.triples(sample, mentions_mode="regex"))
        return "sample equals regex mentions", ngram == regex


class DailyIncremental(Workload):
    """Not a workload of its own: webtext_batch's traced run drives it."""

    name = "daily_incremental"

    def __init__(self, inp: Inputs, out_name: str = "incremental"):
        self.inp = inp
        self.key = f"{self.name}|{inp.seed}|{inp.sizes['days']}"
        self.out = WORK / out_name
        self.snap = WORK / f"{out_name}.snapshot"
        for d in (self.out, self.snap):
            shutil.rmtree(d, ignore_errors=True)
        self.next_day = BACKFILL_DAYS
        ts = pq.read_table(inp.paths["days"], columns=["warc_ts"])["warc_ts"]
        secs = ts.cast("int64").to_numpy() // 1_000_000
        self.day_docs = np.bincount((secs - gen.DAY0) // 86400, minlength=gen.N_DAYS)

    @staticmethod
    def pday(k: int) -> str:
        return str(np.datetime64(gen.DAY0, "s").astype("datetime64[D]") + k)

    def _run_through(self, n_days: int) -> dict:
        from esmarc_spark.pipeline.run import run_incremental
        from pyspark.sql import functions as F

        inp = self.inp
        cutoff = F.timestamp_seconds(F.lit(gen.DAY0 + n_days * 86400))
        # no sameAs edges: their connected-component rounds would be ~4.5 s
        # of each ~5 s append and hide the per-partition bookkeeping this
        # workload is for; webtext_batch's cold operation times them
        return run_incremental(
            inp.spark,
            inp.days.where(F.col("warc_ts") < cutoff),
            inp.gazetteer,
            str(self.out),
        )

    def cold(self) -> None:
        self._run_through(BACKFILL_DAYS)

    def op(self) -> int:
        self.next_day += 1
        res = self._run_through(self.next_day)
        if res["processed"] != [self.pday(self.next_day - 1)]:
            raise RuntimeError(f"append processed {res['processed']}")
        return int(self.day_docs[self.next_day - 1])

    def snapshot(self) -> None:
        shutil.rmtree(self.snap, ignore_errors=True)
        shutil.copytree(self.out, self.snap)
        self.snap_day = self.next_day

    def restore(self) -> None:
        shutil.rmtree(self.out)
        shutil.copytree(self.snap, self.out)
        self.next_day = self.snap_day

    def verify(self, pins: dict, tamper=None) -> tuple[list, dict]:
        from esmarc_spark.pipeline.checkpoint import CheckpointStore
        from pyspark.sql import functions as F

        tamper = tamper or (lambda df: df)
        spark = self.inp.spark
        days = [self.pday(k) for k in range(self.next_day)]
        written = tamper(
            spark.read.parquet(f"{self.out}/triples")
            .withColumn("pday", F.col("pday").cast("string"))
        )
        per_day = {
            r["pday"]: {"rows": int(r["n"]), "hash": str(r["h"])}
            for r in written.groupBy("pday").agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64("subj", "pred", "obj").cast("decimal(38,0)")).alias("h"),
            ).collect()
        }
        checks = [("every processed day written", sorted(per_day) == days)]
        lineage = CheckpointStore(spark, str(self.out)).lineage().collect()
        checks.append(("one lineage row per day", sorted(r["pday"] for r in lineage) == days))
        lin = {r["pday"]: r for r in lineage}
        checks.append((
            "lineage counts match input and output",
            all(
                lin[d]["n_docs"] == self.day_docs[k]
                and lin[d]["n_triples"] == per_day.get(d, {}).get("rows")
                for k, d in enumerate(days)
                if d in lin
            ),
        ))
        # the pins are per-day run_pipeline digests (pin.py), so this also
        # holds the one-job backfill to the per-day path
        pinned = pins.get(self.key, {})
        checks.append((
            f"pinned digest {self.key}",
            all(pinned.get(d) == per_day.get(d) for d in days),
        ))
        return checks, {self.key: per_day}


class MarcRecords(Workload):
    name = "marc_records"
    kinds = ("marc",)
    trace_kinds = ("tables",)
    layers = ("mapping", "sinks", "query")

    def __init__(self, inp: Inputs, out_name: str = "marc_ldj"):
        self.inp = inp
        self.n = self.items_per_op = inp.sizes["marc"]
        self.key = f"{self.name}|{inp.seed}|{self.n}"
        self.out = WORK / out_name

    def docs(self):
        from esmarc_spark.mapping.engine import DOCS_SCHEMA, mapped_docs_batches

        return self.inp.records.mapInPandas(mapped_docs_batches, schema=DOCS_SCHEMA)

    def cold(self) -> None:
        self.op()

    def op(self) -> None:
        from esmarc_spark.pipeline.sinks import write_entity_ldj

        write_entity_ldj(self.docs(), str(self.out), compress=True)

    def verify(self, pins: dict, tamper=None) -> tuple[list, dict]:
        from esmarc_spark.mapping.engine import map_record
        from pyspark.sql import functions as F

        tamper = tamper or (lambda df: df)
        out = tamper(self.inp.spark.read.text(str(self.out)))
        counts = {
            r["entity"]: r["n"]
            for r in out.groupBy("entity").agg(F.count("*").alias("n")).collect()
        }
        checks = [(
            "per-entity counts",
            counts == gen.expected_entity_counts(self.inp.seed, self.n),
        )]
        got = digest(out, cols=("entity", "value"))
        _pin_check(checks, pins, self.key, got)
        # a sample of valid records, mapped on the driver by map_record,
        # must equal the documents the Spark path wrote
        codes, bad = gen.marc_plan(self.inp.seed, self.n)
        valid = np.flatnonzero(~bad)
        pick = np.random.default_rng([self.inp.seed, 4]).choice(
            valid, min(MARC_SAMPLE, len(valid)), replace=False
        )
        expected = {}
        for i in pick:
            rec = gen.marc_record(int(i), self.inp.seed, gen.MARC_CODES[codes[i]], False)
            entity, doc = map_record(json.loads(json.dumps(rec)))
            expected[rec["001"]] = (
                entity, json.dumps(doc, sort_keys=True, ensure_ascii=False)
            )
        rows = out.where(
            F.get_json_object("value", "$._ppn").isin(list(expected))
        ).collect()
        actual = {
            json.loads(r["value"])["_ppn"]: (r["entity"], r["value"]) for r in rows
        }
        checks.append(("sample equals driver-side map_record", actual == expected))
        return checks, {self.key: got}


def leaf_digest(df) -> dict:
    """``digest`` over every column of a query leaf; floating-point columns
    are hashed as float32, so the last bits of a double sum, which depend
    on the order partial aggregates merge in, cannot change the digest."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.col(f.name).cast("float")
        if isinstance(f.dataType, (DoubleType, FloatType)) else F.col(f.name)
        for f in df.schema.fields
    ]
    return digest(df, cols=cols)


class QueryLeaves:
    """bench.py's ten ``__spark_entry__.queries()`` leaves over the seeded
    tables, after its ``kg_triples`` warm-up. Not a workload of its own (a
    fourth workload does not fit the run budget): marc_records' traced run
    measures them."""

    def __init__(self, inp: Inputs):
        import __spark_entry__

        self.inp = inp
        self.queries = __spark_entry__.queries()
        self.key = f"query_suite|{inp.seed}|{inp.sizes['tables']}"

    def leaf(self, name: str):
        return self.queries[name](self.inp.spark, self.inp.paths["tables"])

    def prime(self) -> None:
        noop(self.leaf("kg_triples"))

    def timed_suite(self) -> dict[str, tuple[float, float]]:
        """One first execution of every leaf through ``noop``, as bench.py
        times them: {leaf: (build_s, exec_s)}."""
        walls = {}
        for name in LEAVES:
            build_s, df = timed(self.leaf, name)
            walls[name] = (build_s, timed(noop, df)[0])
        return walls

    def digests(self) -> dict[str, dict]:
        return {name: leaf_digest(self.leaf(name)) for name in LEAVES}

    def verify(self, pins: dict, tamper=None) -> tuple[list, dict]:
        got = self.digests()
        if tamper is not None:
            got["kg_triples"] = leaf_digest(tamper(self.leaf("kg_triples")))
        pinned = pins.get(self.key, {})
        checks = []
        for name in LEAVES:
            checks.append((f"{name} returns rows", got[name]["rows"] > 0))
            checks.append((f"pinned digest {self.key}|{name}", pinned.get(name) == got[name]))
        return checks, {self.key: got}


WORKLOADS = {w.name: w for w in (WebtextBatch, MarcRecords)}
