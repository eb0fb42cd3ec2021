"""Enrichment joins (sameAs + spatial grid-cell) and the Structured
Streaming AvailableNow catch-up runs of the pipeline."""

import math

import pytest
from pyspark.sql import functions as F

from esmarc_spark.pipeline.enrichment import enrich_same_as, spatial_enrich
from esmarc_spark.pipeline.streaming import (
    read_page_triples,
    run_page_triples_foreach_batch,
)
from esmarc_spark.pipeline.webtext import gazetteer_df, synth_webtext


def test_enrich_same_as(spark):
    entities = spark.createDataFrame(
        [
            ("https://d-nb.info/gnd/1", "e1"),
            ("https://d-nb.info/gnd/2", "e2"),
            ("https://www.wikidata.org/entity/Q5", "e3"),  # already enriched
        ],
        "canonical_url string, name string",
    )
    authority = spark.createDataFrame(
        [("https://d-nb.info/gnd/1", "Q101"), ("https://www.wikidata.org/entity/Q5", "Q5")],
        "uri string, provider_id string",
    )
    out = enrich_same_as(entities, authority)
    rows = {(r.name, r.enriched_same_as) for r in out.collect()}
    assert rows == {("e1", "https://www.wikidata.org/entity/Q101")}


def test_spatial_enrich_grid_join(spark):
    # Dresden vs a point 50m away (match) and 5km away (no match)
    entities = spark.createDataFrame(
        [
            ("Dresden", 51.0504, 13.7373),
            ("Leipzig", 51.3397, 12.3731),
        ],
        "name string, lat double, lon double",
    )
    gaz = spark.createDataFrame(
        [
            ("Dresden Altstadt", 51.0508, 13.7372, "g1"),   # ~45m from Dresden
            ("Dresden Neustadt", 51.09, 13.74, "g2"),        # ~4.4km away
            ("Leipzig Zentrum", 51.33969, 12.37305, "g3"),   # ~5m from Leipzig
            ("Chemnitz", 50.83, 12.92, "g4"),
        ],
        "geo_name string, geo_lat double, geo_lon double, geo_id string",
    )
    out = spatial_enrich(entities, gaz, radius_km=0.1)
    rows = {(r.name, r.geo_id) for r in out.collect()}
    assert rows == {("Dresden", "g1"), ("Leipzig", "g3")}
    # wider radius picks up Neustadt too (but name predicate still applies)
    wide = spatial_enrich(entities, gaz, radius_km=5.0)
    rows = {(r.name, r.geo_id) for r in wide.collect()}
    assert ("Dresden", "g2") in rows
    assert not any(g == "g4" for _, g in rows)


def test_spatial_enrich_east_west_near_radius(spark):
    # regression (ADVICE r1): an east-west pair near the radius at lat 51.
    # 5 km of longitude at lat 51 spans 5/(111*cos(51)) ~ 0.0716 deg —
    # ~1.6 equatorial-sized cells, so a fixed 3x3 fan-out missed it.
    lat = 51.0
    dlon = 4.9 / (111.0 * math.cos(math.radians(lat)))  # ~4.9 km east
    entities = spark.createDataFrame(
        [("Xstadt", lat, 13.0)], "name string, lat double, lon double"
    )
    gaz = spark.createDataFrame(
        [("Xstadt Ost", lat, 13.0 + dlon, "g1")],
        "geo_name string, geo_lat double, geo_lon double, geo_id string",
    )
    [row] = spatial_enrich(entities, gaz, radius_km=5.0).collect()
    assert row.geo_id == "g1"
    assert math.isclose(row.distance_km, 4.9, abs_tol=0.05)
    # and a pair just OUTSIDE the radius still filters out
    far = spark.createDataFrame(
        [("Xstadt Fern", lat, 13.0 + dlon * 1.1, "g2")],
        "geo_name string, geo_lat double, geo_lon double, geo_id string",
    )
    assert spatial_enrich(entities, far, radius_km=5.0).count() == 0


def test_spatial_enrich_high_latitude(spark):
    # at lat 78 (Svalbard) 1/cos ~ 4.8 -> kx=5; east-west 4.5 km must match
    lat = 78.0
    dlon = 4.5 / (111.0 * math.cos(math.radians(lat)))
    entities = spark.createDataFrame(
        [("Pyramiden", lat, 16.0)], "name string, lat double, lon double"
    )
    gaz = spark.createDataFrame(
        [("Pyramiden havn", lat, 16.0 + dlon, "g1")],
        "geo_name string, geo_lat double, geo_lon double, geo_id string",
    )
    [row] = spatial_enrich(entities, gaz, radius_km=5.0).collect()
    assert row.geo_id == "g1"


def test_spatial_enrich_distance_exact(spark):
    entities = spark.createDataFrame(
        [("X", 51.0, 13.0)], "name string, lat double, lon double"
    )
    gaz = spark.createDataFrame(
        [("X point", 51.0, 13.001, "g")],
        "geo_name string, geo_lat double, geo_lon double, geo_id string",
    )
    [row] = spatial_enrich(entities, gaz, radius_km=1.0).collect()
    # 0.001 deg lon at lat 51 ~ 70m
    assert math.isclose(row.distance_km, 0.07, abs_tol=0.005)


def test_streaming_available_now(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    gaz = gazetteer_df(spark)

    def catch_up():
        run_page_triples_foreach_batch(spark, in_dir, gaz, out_dir, ckpt)
        return read_page_triples(spark, out_dir).count()

    batch1 = synth_webtext(spark, n_docs=80, partitions=2, dup_fraction=0)
    batch1.write.mode("append").parquet(in_dir)
    first = catch_up()
    assert first > 0

    # new files arrive; a second AvailableNow run processes ONLY them
    batch2 = synth_webtext(spark, n_docs=160, partitions=2, dup_fraction=0).where(
        F.xxhash64("url") % 2 == 0
    )
    batch2.write.mode("append").parquet(in_dir)
    second = catch_up()
    assert second > first

    # third run with nothing new: no growth (exactly-once via checkpoint)
    assert catch_up() == second
