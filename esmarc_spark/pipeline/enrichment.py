"""Enrichment as dataset-level joins.

The reference's enrichment bots make one HTTP round-trip per record
(wikidata.py:62, entityfacts.py:..., geonames.py:53 — the scalability
anti-pattern SURVEY.md §3.3 calls out). Here each bot becomes one join
against a locally-loaded authority dataset:

* ``enrich_same_as``    ≈ entityfacts/wikidata bots: equi-join record sameAs
                          uris against an authority mapping table, with the
                          bots' "skip already-enriched" must_not prefilter
                          as a real anti-join.
* ``spatial_enrich``    ≈ geonames bot: geo_distance <= r km + name
                          containment. Spark has no spatial join; the
                          shuffle-friendly plan is grid-cell bucketing: both
                          sides key by a cell of size ~r, the probe side
                          fans out to its 3x3 neighborhood, the equi-join on
                          cell bounds candidates, and the exact haversine +
                          name predicate filters afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_same_as(
    entities: DataFrame,
    authority: DataFrame,
    entity_uri_col: str = "canonical_url",
    provider_prefix: str = "https://www.wikidata.org/entity/",
) -> DataFrame:
    """Add provider sameAs edges: entities ⋈ authority(uri -> provider_id).

    authority schema: (uri string, provider_id string). Entities already
    carrying a provider uri are skipped via left-anti (the bots'
    must_not-prefix prefilter, /root/reference/enrichment/wikidata.py:129-134
    semantics, as a join instead of a query)."""
    already = entities.where(
        F.col(entity_uri_col).startswith(provider_prefix)
    ).select(entity_uri_col)
    candidates = entities.join(already, entity_uri_col, "left_anti")
    joined = candidates.join(
        F.broadcast(authority.withColumnRenamed("uri", entity_uri_col)),
        entity_uri_col,
        "inner",
    )
    return joined.withColumn(
        "enriched_same_as", F.concat(F.lit(provider_prefix), F.col("provider_id"))
    ).drop("provider_id")


# ---------------------------------------------------------------------------
# spatial range join (grid-cell bucketing + exact haversine)
# ---------------------------------------------------------------------------

EARTH_KM = 6371.0088


def _haversine_km(lat_a, lon_a, lat_b, lon_b) -> F.Column:
    la, lb = F.radians(lat_a), F.radians(lat_b)
    dlat = F.radians(lat_b - lat_a) / 2
    dlon = F.radians(lon_b - lon_a) / 2
    h = F.sin(dlat) ** 2 + F.cos(la) * F.cos(lb) * F.sin(dlon) ** 2
    return F.lit(2 * EARTH_KM) * F.asin(F.sqrt(h))


def _cell(lat, lon, cell_deg: float):
    return F.struct(
        F.floor(lat / cell_deg).cast("long").alias("cy"),
        F.floor(lon / cell_deg).cast("long").alias("cx"),
    )


def spatial_enrich(
    entities: DataFrame,
    gazetteer: DataFrame,
    radius_km: float = 0.1,
) -> DataFrame:
    """entities(name, lat, lon, ...) ⋈ gazetteer(geo_name, geo_lat, geo_lon,
    geo_id) within radius_km whose geo_name contains the entity name
    (case-insensitive substring).

    Cell size = radius in degrees of LATITUDE. One degree of longitude spans
    fewer km away from the equator (shrinks by cos(lat)), so r km can cross
    up to ceil(1/cos(lat)) longitude cells — the probe side therefore fans
    out dynamically to (2*kx+1) x 3 neighbor cells where
    kx = ceil(1/cos(|lat| + cell)) (clamped at 85° latitude). The grid itself
    stays global and latitude-independent so join keys are stable; only the
    probe fan-out widens (3x3 at the equator, ~7x3 at 60°, bounded ~25x3 at
    the 85° clamp). Gazetteer side keys once per row; ordinary shuffle join.
    """
    cell_deg = radius_km / 111.0  # 1 degree latitude ~ 111 km
    gaz = gazetteer.withColumn("_cell", _cell(F.col("geo_lat"), F.col("geo_lon"), cell_deg))
    # per-row longitude fan-out: worst-case cos over the probe's possible
    # match band (|lat| + one cell of latitude slack), clamped to 85°
    lat_band = F.least(F.abs(F.col("lat")) + F.lit(cell_deg), F.lit(85.0))
    kx = F.ceil(F.lit(1.0) / F.cos(F.radians(lat_band))).cast("int")
    dys = F.sequence(F.lit(-1), F.lit(1))
    shifts = F.flatten(
        F.transform(
            dys,
            lambda dy: F.transform(
                F.sequence(-kx, kx),
                lambda dx: F.struct(dy.alias("dy"), dx.alias("dx")),
            ),
        )
    )
    probes = (
        entities.withColumn("_base", _cell(F.col("lat"), F.col("lon"), cell_deg))
        .withColumn("_shift", F.explode(shifts))
        .withColumn(
            "_cell",
            F.struct(
                (F.col("_base.cy") + F.col("_shift.dy")).alias("cy"),
                (F.col("_base.cx") + F.col("_shift.dx")).alias("cx"),
            ),
        )
        .drop("_base", "_shift")
    )
    joined = probes.join(gaz, "_cell", "inner").drop("_cell")
    dist = _haversine_km(F.col("lat"), F.col("lon"), F.col("geo_lat"), F.col("geo_lon"))
    out = joined.withColumn("distance_km", F.round(dist, 6)).where(
        (F.col("distance_km") <= radius_km)
        & (F.instr(F.lower(F.col("geo_name")), F.lower(F.col("name"))) > 0)
    )
    return out.dropDuplicates(["name", "lat", "lon", "geo_id"])
