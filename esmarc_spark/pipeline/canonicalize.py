"""S4 — canonicalization: connected components over sameAs edges.

Generalizes the reference's cross-authority sameAs chains (GND ↔ K10Plus ↔
wikidata …, /root/reference/esmarc/sameAs.py + enrichment bots) into a
dataset-level dedup: every clique of sameAs-linked URIs collapses to one
canonical id, defined as the lexicographic min URI of the component
(FIXTURES.md §4).

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SOCC'14) expressed purely as DataFrame
joins/aggregations — O(log n) rounds, each round a groupBy + join, no
driver-side state beyond a convergence checksum. This is the standard
shuffle-friendly CC for graphs too large for GraphX/GraphFrames pregel
state, and it inherits AQE skew splitting for the giant-component hub.

Iteration state is checkpointed via localCheckpoint every few rounds to cut
the growing lineage (otherwise each round re-plans the whole history).

Measured non-win (round 1): a variant that hashed node URIs to int64 before
iterating (narrower shuffles; lexicographic-min canonical recovered by one
final aggregation) was ~35% SLOWER at 1M edges/300k nodes — the extra
dim-build + pre/post joins cost more than the narrower rows saved. Revisit
only with realistically long URIs (>50 bytes) at >>10^7 edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esmarc_spark.pipeline.sqltext import sql_ident


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's min neighborhood."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
    mins = mins.withColumn("_m", F.least(F.col("src"), F.col("_mn"))).drop("_mn")
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large->small, then connect each node's smaller
    neighborhood (and itself) to the neighborhood min."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("_m"))
    nbrs = oriented.join(mins, "src").select(
        F.col("dst").alias("node"), F.col("_m")
    )
    selfs = mins.select(F.col("src").alias("node"), F.col("_m"))
    return (
        nbrs.union(selfs)
        .where(F.col("node") != F.col("_m"))
        .select(F.col("node").alias("src"), F.col("_m").alias("dst"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # decimal(38,0) sum: ANSI-safe (no long overflow) and order-independent
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return row["n"], str(row["h"])


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """(src, dst) string edges -> (node, component) with component = min uri.

    Deterministic, idempotent; converges in O(log n) alternating rounds.

    Action cadence (measured at 1M edges/16 cores, BENCH/BASELINE.md):
    each star scans its input relation TWICE (the symmetrized/oriented set
    feeds both the per-node min aggregate and the join), so un-checkpointed
    lineage recomputes ~2^(2k) subtrees after k lazy rounds — checkpointing
    every 3rd round measured 82s, every 2nd 16s, EVERY round 7.4s, so every
    round checkpoints. The eager localCheckpoint materializes the round
    once, and the convergence checksum then scans cached partitions instead
    of re-running shuffles.
    (On a real cluster swap localCheckpoint for a reliable checkpoint dir
    if executor loss during the iteration must be survivable.)
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    prev = cur = None
    rounds = 0
    for i in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        rounds = i + 1
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    if stats is not None:
        # observability for the traced benchmark run: rounds actually run
        # and the converged edge count (cur is (n_edges, checksum))
        stats["cc_rounds"] = rounds
        stats["cc_edges"] = cur[0] if cur is not None else 0
    # after convergence every edge points node -> component min
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return members.union(roots).distinct()


def canonical_mapping(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """(uri -> canonical_uri) dim, identity rows included for roots."""
    cc = connected_components(edges, stats=stats)
    return cc.select(F.col("node").alias("uri"), F.col("component").alias("canonical_uri"))


def rewrite_through_canonical(
    df: DataFrame, mapping: DataFrame, column: str
) -> DataFrame:
    """Rewrite a URI column through the canonical dim (left join + coalesce;
    identity when the uri is in no component).

    No forced broadcast: the uri->canonical dim grows with the number of
    linked entities, so at scale it can exceed any broadcast threshold. AQE
    picks broadcast when the dim is actually small at runtime and falls back
    to a shuffle join (with skew splitting) when it isn't."""
    m = mapping.withColumnRenamed("uri", column)
    q = sql_ident(column)
    return (
        df.join(m, column, "left")
        .withColumn(column, F.expr(f"coalesce(canonical_uri, {q})"))
        .drop("canonical_uri")
    )
