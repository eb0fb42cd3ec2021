"""map_record / triple-flattening engine tests, incl. the Spark
mapInPandas path over all 17 reference fixture records."""

import json
from pathlib import Path

from esmarc_spark.mapping.engine import (
    map_record,
    mapped_docs_batches,
    record_to_triples,
    scrub,
    DOCS_SCHEMA,
    TRIPLES_SCHEMA,
)
from tests.conftest import REFERENCE_IDS, load_fixture_record, needs_reference


def test_scrub():
    assert scrub({"a": None, "b": [], "c": {"d": None}, "e": "x"}) == {"e": "x"}
    assert scrub({"a": ["x", None, ""]}) == {"a": ["x"]}


@needs_reference("tests/in")
def test_map_record_resources():
    record = load_fixture_record("1131213920")
    entity, doc = map_record(record)
    assert entity == "resources"
    assert doc["@id"] == "https://data.slub-dresden.de/resources/1131213920"
    assert doc["@type"] == "http://schema.org/CreativeWork"
    assert isinstance(doc["mentions"], list)
    assert doc["isBasedOn"] == "https://data.slub-dresden.de/source/source/1131213920"
    # multi-card property is always a list
    assert isinstance(doc["sameAs"], list)
    # none/empty scrubbed
    assert all(v not in (None, [], {}, "") for v in doc.values())


@needs_reference("tests/in")
def test_same_as_provenance_backfill():
    record = load_fixture_record("1131213920")
    _, doc = map_record(record, index="slub-lod")
    for node in doc["sameAs"]:
        assert node["isBasedOn"]["@id"] == doc["isBasedOn"]
        if node.get("publisher", {}).get("abbr") == "BSZ":
            assert node["@id"].startswith("https://swb.bsz-bw.de/")


@needs_reference("tests/in")
def test_record_to_triples():
    record = load_fixture_record("1131213920")
    triples = list(record_to_triples(record))
    assert triples
    subj = "https://data.slub-dresden.de/resources/1131213920"
    assert all(t[1] == subj for t in triples)
    preds = {t[2] for t in triples}
    assert {"@type", "mentions", "sameAs"} <= preds


@needs_reference("tests/in")
def test_all_fixture_records_map():
    mapped = [map_record(load_fixture_record(rid)) for rid in REFERENCE_IDS]
    assert all(m is not None for m in mapped)
    entities = {e for e, _ in mapped}
    assert "resources" in entities


@needs_reference("tests/in")
def test_spark_map_in_pandas(spark):
    rows = [(rid, json.dumps(load_fixture_record(rid))) for rid in REFERENCE_IDS]
    df = spark.createDataFrame(rows, "record_id string, marc_json string")
    docs = df.mapInPandas(mapped_docs_batches, schema=DOCS_SCHEMA)
    out = {r["record_id"]: json.loads(r["doc"]) for r in docs.collect()}
    assert len(out) == len(REFERENCE_IDS)
    # spark result identical to local result
    for rid in REFERENCE_IDS:
        _, local_doc = map_record(load_fixture_record(rid))
        assert out[rid] == json.loads(json.dumps(local_doc, sort_keys=True))


def test_batch_stages_quarantine_bad_records():
    """Hypothesis fuzz over MARC-shaped junk through the BATCH stages:
    map_record itself keeps crash-parity with the reference on malformed
    occurrences (e.g. a repeated 245 $a list hits the same += TypeError
    as namings.py:147), but the Arrow batch stages must quarantine such
    records into the __error__ entity (docs) or skip them (triples) —
    never abort the task. Shapes: wrong-typed field values, garbage 079
    dispatch, half-formed occurrence maps, unicode keys."""
    import json

    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from esmarc_spark.mapping.engine import (
        ERROR_ENTITY,
        mapped_docs_batches,
        triples_batches,
    )

    leader = st.one_of(
        st.none(), st.text(max_size=6), st.integers(),
        st.lists(st.text(max_size=3), max_size=2),
    )
    subcell = st.dictionaries(
        st.sampled_from(["a", "b", "0", "4", "9", "i", "\u00fc"]),
        st.one_of(st.none(), st.text(max_size=8), st.integers(),
                  st.lists(st.text(max_size=5), max_size=3)),
        max_size=3,
    )
    occurrence = st.one_of(
        st.none(), st.text(max_size=5), st.integers(),
        st.dictionaries(st.sampled_from(["__", "0_", "17", "*", ""]),
                        st.one_of(st.lists(subcell, max_size=3), subcell,
                                  st.text(max_size=4)),
                        max_size=2),
    )
    record = st.dictionaries(
        st.sampled_from(["001", "079", "100", "245", "548", "650", "junk", ""]),
        st.one_of(leader, st.lists(occurrence, max_size=3), occurrence),
        max_size=5,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(record, min_size=1, max_size=5))
    def check(recs):
        pdf = pd.DataFrame(
            {
                "record_id": [str(i) for i in range(len(recs))],
                "marc_json": [json.dumps(r, ensure_ascii=False) for r in recs],
            }
        )
        docs = pd.concat(list(mapped_docs_batches(iter([pdf]))))
        assert len(docs) <= len(recs)
        for _, row in docs.iterrows():
            assert isinstance(json.loads(row["doc"]), dict)
            if row["entity"] == ERROR_ENTITY:
                assert "error" in json.loads(row["doc"])
        triples = pd.concat(list(triples_batches(iter([pdf]))))
        assert set(triples.columns) == {"entity", "subj", "pred", "obj"}
        # every record that produced doc output has consistent triples
        ok_ids = set(docs[docs["entity"] != ERROR_ENTITY]["record_id"])
        err_ids = set(docs[docs["entity"] == ERROR_ENTITY]["record_id"])
        assert ok_ids.isdisjoint(err_ids)

    check()
