"""S3 — entity linking: mention surface forms ⋈ broadcast gazetteer.

Reference analogue: getentity / getsameAs / gnd2uri re-expressed as a
DataFrame join (/root/reference/esmarc/marc.py:117-127, sameAs.py:7-32,
id.py:7-37): surface form -> (entity_type, authority id, canonical URI).

Skew note (north_rule: "partitioning / shuffle / skew handled explicitly"):
the gazetteer side is always broadcast, so the join itself never shuffles
the Zipf-skewed fact side at all — broadcast-hash join is the salting-free
fix for skewed *joins*. Skew re-enters at the first aggregation over
entity ids; ``count_mentions_salted`` shows the two-phase salted pattern
used for that (partial per-salt counts, then final merge), which AQE's
skew handling complements at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def link_mentions(mentions: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """mention rows ⋈ gazetteer on surface_form (broadcast hash join).

    Ambiguous surface forms (several candidate authority ids) fan out into
    one linked row per candidate — downstream consumers decide policy.
    """
    return mentions.join(F.broadcast(gazetteer), "surface_form", "inner").selectExpr(
        "url",
        "surface_form",
        "position",
        "lang",
        "entity_type",
        "authority_id",
        "canonical_url",
    )


def count_mentions_salted(linked: DataFrame, n_salts: int = 16) -> DataFrame:
    """Mentions per canonical entity, two-phase with explicit salting.

    Phase 1 shards the Zipf head key over ``n_salts`` reducers (partial
    counts per (entity, salt)); phase 2 merges the shards. Identical result
    to a direct groupBy, but the widest shuffle carries at most
    ``n_salts``-way fan-in per hot key instead of a single hot partition.
    """
    salted = linked.withColumn(
        "_salt", F.pmod(F.xxhash64("url", "position"), F.lit(n_salts))
    )
    partial = salted.groupBy("canonical_url", "entity_type", "_salt").agg(
        F.count("*").alias("_partial")
    )
    return (
        partial.groupBy("canonical_url", "entity_type")
        .agg(F.sum("_partial").alias("n_mentions"))
    )
