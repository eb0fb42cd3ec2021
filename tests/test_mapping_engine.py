"""map_record / triple-flattening engine tests, incl. the Spark
mapInPandas path over all 17 reference fixture records."""

import copy
import json

from esmarc_spark.mapping.engine import (
    PLANS,
    _compile,
    map_record,
    mapped_docs_batches,
    record_to_triples,
    scrub,
    DOCS_SCHEMA,
    TRIPLES_SCHEMA,
)
from esmarc_spark.marc.records import ENTITY_DISPATCH
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


# ---------------------------------------------------------------------------
# compiled plans: guarded cells skip exactly what map_record would drop
# ---------------------------------------------------------------------------

_ENTITY_CODE = {"resources": None}
for _code, _entity in sorted(ENTITY_DISPATCH.items()):
    _ENTITY_CODE.setdefault(_entity, _code)

_GUARD_TAGS = sorted(
    set().union(*(g for plan, _ in PLANS.values() for _, _, g in plan if g))
    - {"001", "003", "005", "008"}
)
_INDICATORS = ["__", "1_", "_1", "10", "2_", "7_", "8_", "31", "80", "00", "08", "0_", "04"]
_CODES = list("abcdefghilpqstuvxyz0249")
_VALUES = [
    "(DE-588)4013966-9", "(DE-588)118540238", "(OCoLC)123456789",
    "(DE-627)1131213920", "datl", "datb", "dats", "datv", "datw", "ortg",
    "orts", "orta", "adel", "akad", "obin", "geoa", "1749-1832", "1900-",
    "12.03.1901", "ger", "eng", "1", "2", "Leipzig", "Verlag", "gnd", "rvk",
    "XA-DE", "E 008 30 00", "300 S.", "",
]


def _unguarded_plans() -> dict:
    return {
        entity: (tuple((prop, evaluate, None) for prop, evaluate, _ in plan), card)
        for entity, (plan, card) in PLANS.items()
    }


def _outcome(record: dict):
    """map_record's result as canonical JSON; an exception counts as an
    output, by its type."""
    try:
        return json.dumps(map_record(copy.deepcopy(record)), sort_keys=True, ensure_ascii=False)
    except Exception as e:  # noqa: BLE001 - compared, not swallowed
        return type(e)


def test_guarded_plans_equal_unguarded_plans():
    """Property: for records of every entity built from the tags the guards
    name (random indicators, subfields, GND/OCLC ids, $4 codes and the odd
    malformed cell), the compiled plans map each record exactly as the same
    plans with every guard stripped — results and exception types alike."""
    from unittest import mock

    from hypothesis import given, settings
    from hypothesis import strategies as st

    value = st.one_of(
        st.sampled_from(_VALUES),
        st.text(max_size=6),
        st.lists(st.sampled_from(_VALUES), min_size=2, max_size=3),
    )
    cell = st.dictionaries(st.sampled_from(_CODES), value, min_size=1, max_size=1)
    subfields = st.lists(
        st.one_of(cell, cell, cell, st.just("junk-cell")), min_size=1, max_size=5
    )
    occurrence = st.dictionaries(st.sampled_from(_INDICATORS), subfields, min_size=1, max_size=1)
    field = st.lists(occurrence, min_size=1, max_size=2)
    fixed = st.builds(
        lambda ppn, d008: {"001": ppn, "003": "DE-627", "005": "20240101123000.0", "008": d008},
        st.from_regex(r"[0-9]{8}[0-9X]", fullmatch=True),
        st.sampled_from(["840101n19501990xx", "991231s1999    gw", "", "x"]),
    )

    @st.composite
    def records(draw):
        entity = draw(st.sampled_from(sorted(PLANS)))
        record = draw(fixed)
        if _ENTITY_CODE[entity] is not None:
            record["079"] = [{"__": [{"b": _ENTITY_CODE[entity]}]}]
        for tag in draw(st.sets(st.sampled_from(_GUARD_TAGS), max_size=8)):
            record[tag] = draw(field)
        return record

    unguarded = _unguarded_plans()

    @settings(max_examples=400, deadline=None)
    @given(records())
    def check(record):
        compiled = _outcome(record)
        with mock.patch.dict(PLANS, unguarded):
            assert _outcome(record) == compiled

    check()


def test_guard_needs_lookups_only_and_an_empty_result():
    """A cell is guarded by the tags it looks up only when lookups are all
    it does and it yields nothing on the empty probe record."""
    from unittest import mock

    from esmarc_spark.mapping.spec import EXTRACTORS

    fns = {
        "looks_up": lambda record, key, entity: record.get(key),
        "contains": lambda record, key, entity: key in record and "x",
        "indexes": lambda record, key, entity: record[key] if key in record else None,
        "items": lambda record, key, entity: [k for k, _ in record.items() if k == key],
        "len": lambda record, key, entity: len(record) > 99,
        "iter": lambda record, key, entity: [k for k in record if k == key],
        "raises": lambda record, key, entity: record[key],
        "truthy": lambda record, key, entity: record.get(key) or ["default"],
    }
    cells = {f"multi:{name}": {"fn": name, "key": "100"} for name in fns}
    cells["single:literal"] = "http://schema.org/Thing"
    with mock.patch.dict(EXTRACTORS, fns):
        plan, cardinality = _compile("persons", cells)
    guards = {prop: guard for prop, _, guard in plan}
    assert guards == {
        "looks_up": frozenset({"100"}),
        "contains": frozenset({"100"}),
        "indexes": frozenset({"100"}),
        "items": None,
        "len": None,
        "iter": None,
        "raises": None,
        "truthy": None,
        "literal": None,
    }
    assert cardinality["looks_up"] == "multi" and cardinality["literal"] == "single"


# one record per 079..b code, a title record without 079, and one malformed
# record whose 548 carries a bare string where a subfield map belongs
_WORKER_RECORDS = [
    {"001": "P1", "079": [{"__": [{"b": "p"}]}],
     "100": [{"1_": [{"a": "Goethe, Johann Wolfgang von"}, {"d": "1749-1832"}]}],
     "375": [{"__": [{"a": "1"}]}],
     "548": [{"__": [{"a": "1749-1832"}, {"4": "datl"}]}],
     "551": [{"__": [{"a": "Frankfurt am Main"}, {"0": "(DE-588)4018118-2"}, {"4": "ortg"}]}]},
    {"001": "N1", "079": [{"__": [{"b": "n"}]}], "100": [{"0_": [{"a": "Müller, Anna"}]}]},
    {"001": "S1", "079": [{"__": [{"b": "s"}]}], "150": [{"__": [{"a": "Optik"}]}],
     "450": [{"__": [{"a": "Lichtlehre"}, {"x": "Theorie"}]}]},
    {"001": "B1", "079": [{"__": [{"b": "b"}]}],
     "110": [{"2_": [{"a": "Sächsische Landesbibliothek"}, {"b": "Dresden"}]}],
     "548": [{"__": [{"a": "1556-"}, {"4": "datb"}]}]},
    {"001": "G1", "079": [{"__": [{"b": "g"}]}], "151": [{"__": [{"a": "Leipzig"}]}],
     "034": [{"__": [{"d": "E 012 22 00"}, {"f": "N 051 20 00"}]}]},
    {"001": "U1", "079": [{"__": [{"b": "u"}]}], "130": [{"__": [{"a": "Faust"}]}],
     "500": [{"1_": [{"a": "Goethe"}, {"0": "(DE-588)118540238"}, {"4": "aut1"}]}]},
    {"001": "F1", "079": [{"__": [{"b": "f"}]}],
     "111": [{"2_": [{"a": "Konzil von Trient"}, {"d": "1545-1563"}]}],
     "548": [{"__": [{"a": "1545-1563"}, {"4": "datv"}]}]},
    {"001": "R1", "003": "DE-627", "005": "20240101123000.0",
     "035": [{"__": [{"a": "(OCoLC)123456789"}]}],
     "245": [{"10": [{"a": "Faust"}, {"b": "eine Tragödie"}]}],
     "264": [{"_1": [{"a": "Leipzig"}, {"b": "Insel"}, {"c": "1908"}]}]},
    {"001": "X1", "079": [{"__": [{"b": "g"}]}], "548": [{"__": ["junk-cell"]}]},
]


def test_spark_worker_maps_like_the_driver(spark):
    """mapInPandas(mapped_docs_batches) runs the plans compiled at import
    inside the Python worker: every row equals the driver-side map_record
    document, and the malformed record lands in __error__."""
    from esmarc_spark.mapping.engine import ERROR_ENTITY

    rows = [(r["001"], json.dumps(r, ensure_ascii=False)) for r in _WORKER_RECORDS]
    df = spark.createDataFrame(rows, "record_id string, marc_json string").repartition(2)
    out = {
        r["record_id"]: (r["entity"], r["doc"])
        for r in df.mapInPandas(mapped_docs_batches, schema=DOCS_SCHEMA).collect()
    }
    assert len(out) == len(_WORKER_RECORDS)
    entity, doc = out.pop("X1")
    assert entity == ERROR_ENTITY
    assert json.loads(doc)["error"].startswith("AttributeError")
    expected = {}
    for record in _WORKER_RECORDS[:-1]:
        entity, doc = map_record(copy.deepcopy(record))
        expected[record["001"]] = (entity, json.dumps(doc, sort_keys=True, ensure_ascii=False))
    assert out == expected
    assert {e for e, _ in out.values()} == set(PLANS)
