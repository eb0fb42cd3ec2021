"""Checkpoint-resumable incremental processing + per-partition lineage.

north_rule requirements re-expressed for batch-incremental Spark
(SURVEY.md §2.7 — the reference is batch ETL; "watermarks" here are
per-partition high-water marks, not Structured Streaming state):

* the input is processed one date-partition (``days(warc_ts)``) at a time;
* a successful partition writes (a) its triples under
  ``out/triples/pday=<d>/`` via dynamic-partition overwrite — idempotent:
  a re-run replaces, never duplicates — and (b) one lineage row;
* resume = anti-join pending partitions against the checkpoint table, so a
  killed run re-does only unfinished partitions and the final output is
  byte-identical to a single uninterrupted run (tested).

The checkpoint table is plain parquet (append-only; latest status per
partition wins by run_ts). On Iceberg this would be a MERGE — parquet
append + last-wins keeps the sandbox dependency-free while preserving the
exact resume semantics.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from esmarc_spark.pipeline import fsio

CHECKPOINT_SCHEMA = (
    "pday string, status string, watermark_ts timestamp, run_id string, "
    "run_ts double, n_docs long, n_mentions long, n_triples long, wall_sec double"
)


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str):
        # URI-safe join (root may be a file:// or object-store URI —
        # every write here is a parquet append via Spark, so the lineage
        # table needs no posix mechanics at all)
        self.spark = spark
        self.root = root
        self.path = root.rstrip("/") + "/checkpoints"

    def read(self) -> DataFrame:
        """The lineage table; empty before the first append. Only absence
        reads as empty (a directory holding just ``_temporary`` has no
        data files, so it reads empty too): an unreadable table raises,
        instead of silently re-running every day."""
        if not fsio.exists(self.path):
            return self.spark.createDataFrame([], CHECKPOINT_SCHEMA)
        return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)

    def completed_partitions(self) -> DataFrame:
        """Latest status per partition, filtered to done."""
        w = Window.partitionBy("pday").orderBy(F.col("run_ts").desc())
        return (
            self.read()
            .withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") == 1) & (F.col("status") == "done"))
            .select("pday")
        )

    def record(self, rows: list[dict]) -> None:
        if not rows:
            return
        df = self.spark.createDataFrame(
            [
                (
                    r["pday"],
                    r["status"],
                    r.get("watermark_ts"),
                    r["run_id"],
                    time.time(),
                    r.get("n_docs", 0),
                    r.get("n_mentions", 0),
                    r.get("n_triples", 0),
                    r.get("wall_sec", 0.0),
                )
                for r in rows
            ],
            CHECKPOINT_SCHEMA,
        )
        df.write.mode("append").parquet(self.path)

    def lineage(self) -> DataFrame:
        """Full per-partition lineage/metrics history."""
        return self.read().orderBy("pday", "run_ts")
