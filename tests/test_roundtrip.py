"""Doc ⇄ triples round-trip (SURVEY §1.3): flatten to (subj,pred,obj) then
unflatten; equality up to scalar ≡ singleton-list and key order."""

import json

from esmarc_spark.mapping.engine import (
    TRIPLES_SCHEMA,
    docs_from_triples,
    map_record,
    triples_batches,
)
from tests.conftest import REFERENCE_IDS, load_fixture_record, needs_reference


def _normalize(value):
    """scalar ≡ [scalar]; recursively sorted for comparison."""
    if isinstance(value, list):
        # the triple form is a SET of (s,p,o): duplicates collapse, order drops
        norm = sorted(
            (_normalize(v) for v in value), key=lambda x: json.dumps(x, sort_keys=True)
        )
        deduped = [v for i, v in enumerate(norm) if i == 0 or v != norm[i - 1]]
        if len(deduped) == 1:
            return deduped[0]
        return deduped
    if isinstance(value, dict):
        return {k: _normalize(v) for k, v in value.items()}
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        # triple form carries scalars as strings; numeric identity is by text
        return str(value)
    return value


@needs_reference("tests/in")
def test_roundtrip_fixture_docs(spark):
    rows = [(rid, json.dumps(load_fixture_record(rid))) for rid in REFERENCE_IDS]
    df = spark.createDataFrame(rows, "record_id string, marc_json string")
    triples = df.mapInPandas(triples_batches, schema=TRIPLES_SCHEMA)
    rebuilt = {r.subj: json.loads(r.doc) for r in docs_from_triples(triples).collect()}

    for rid in REFERENCE_IDS:
        entity, original = map_record(load_fixture_record(rid))
        subj = original["@id"]
        got = rebuilt[subj]
        for pred, value in original.items():
            assert _normalize(got[pred]) == _normalize(value), (rid, pred)
        assert set(got) == set(original)


def test_roundtrip_enriched_docs(spark):
    """Bot-enriched documents (nested category maps, multilingual name
    dicts, litter-merged sameAs lists) survive doc->triples->doc up to the
    documented scalar/[scalar] and set equivalences."""
    import json

    from esmarc_spark.mapping.engine import doc_to_triples, docs_from_triples, parse_obj

    enriched = {
        "@id": "https://data.slub-dresden.de/geo/42",
        "preferredName": "Dresden",
        "name": {"de": ["Dresden"], "en": ["Dresden", "Dresdan"]},
        "category": {
            "de": [
                {"@id": "https://de.wikipedia.org/wiki/?curid=1",
                 "sameAs": "https://de.wikipedia.org/wiki/Kategorie:Stadt",
                 "name": "Stadt"},
            ]
        },
        "sameAs": [
            {"@id": "https://d-nb.info/gnd/1", "publisher": {"abbr": "DNB"},
             "isBasedOn": {"@type": "Dataset", "@id": "http://s/1"}},
            {"@id": "http://viaf.org/viaf/2",
             "publisher": {"abbr": "VIAF", "preferredName": "VIAF"},
             "isBasedOn": {"@type": "Dataset",
                           "@id": "http://hub.culturegraph.org/entityfacts/1"}},
        ],
    }
    triples = list(doc_to_triples("geo", enriched))
    tdf = spark.createDataFrame(triples, "subj string, pred string, obj string")
    [row] = docs_from_triples(tdf).collect()
    back = json.loads(row.doc)
    assert back["@id"] == enriched["@id"]
    assert back["preferredName"] == "Dresden"
    assert parse_obj(json.dumps(back["name"])) if isinstance(back["name"], str) else True
    name = back["name"] if isinstance(back["name"], dict) else json.loads(back["name"])
    assert name["en"] == ["Dresden", "Dresdan"]
    cat = back["category"] if isinstance(back["category"], dict) else json.loads(back["category"])
    assert cat["de"][0]["name"] == "Stadt"
    got_sameas = back["sameAs"]
    if isinstance(got_sameas, dict):
        got_sameas = [got_sameas]
    ids = {s["@id"] if isinstance(s, dict) else json.loads(s)["@id"] for s in got_sameas}
    assert ids == {"https://d-nb.info/gnd/1", "http://viaf.org/viaf/2"}
