"""Golden-fixture parity vs the reference's own pytest corpus.

Mirrors /root/reference/tests/test_mapping_functions.py:60-77: same record
ids, same golden outputs, canonicalized with json.dumps(sort_keys=True).
The final test computes triple-level precision/recall >= 0.95 across all
golden families (the BASELINE.json correctness gate).
"""

import json

import pytest

from esmarc_spark.mapping.extractors import (
    build_cartographic_data,
    build_mentions,
    build_original_publisher,
    build_publish_locations,
    build_publisher,
)
from tests.conftest import load_fixture_record, load_golden, needs_reference

# every case reads its record from tests/in and its golden from tests/out
pytestmark = needs_reference("tests/in", "tests/out")

MENTION_KEYS = ["600", "610", "611", "630", "648", "650", "651", "653", "655", "689"]

CASES = {
    "mentions": (build_mentions, MENTION_KEYS, ["1131213920", "1503793168", "024629014", "218401159"]),
    "publisher": (build_publisher, ["533", "264"], ["1405783028", "1384819908", "1191100251"]),
    "originalPublisher": (build_original_publisher, ["533", "264"], ["1405783028", "1384819908"]),
    "location": (build_publish_locations, "751", ["1405783028", "1384819908", "1191100251"]),
    "cartographicData": (build_cartographic_data, "255", ["71691803X"]),
}


def canon(value) -> str:
    return json.dumps(value, sort_keys=True)


@pytest.mark.parametrize(
    "field,record_id",
    [(f, rid) for f, (_, _, ids) in CASES.items() for rid in ids],
)
def test_golden_parity(field, record_id):
    fn, keys, _ = CASES[field]
    record = load_fixture_record(record_id)
    produced = {field: fn(record, keys, "resources")}
    expected = load_golden(field, record_id)
    assert canon(produced) == canon(expected)


def _triples(field, record_id, value) -> set:
    """Flatten one golden/produced property value into canonical triples."""
    subj = record_id
    items = value if isinstance(value, list) else [value]
    return {
        (subj, field, json.dumps(i, sort_keys=True))
        for i in items
        if i is not None
    }


def test_triple_precision_recall_gate():
    produced_all, expected_all = set(), set()
    for field, (fn, keys, ids) in CASES.items():
        for record_id in ids:
            record = load_fixture_record(record_id)
            produced_all |= _triples(field, record_id, fn(record, keys, "resources"))
            expected_all |= _triples(field, record_id, load_golden(field, record_id)[field])
    tp = len(produced_all & expected_all)
    precision = tp / len(produced_all) if produced_all else 0.0
    recall = tp / len(expected_all) if expected_all else 0.0
    assert precision >= 0.95, f"precision {precision:.3f} < 0.95"
    assert recall >= 0.95, f"recall {recall:.3f} < 0.95"
