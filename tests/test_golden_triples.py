"""The vendored golden triple file (the marc_fixture_triples driver oracle)
must stay in lock-step with the engine: any mapping change that alters the
emitted triples fails here and demands a deliberate golden regeneration
(scripts/regen_golden_triples.py) justified by the reference-parity suite."""

import json
from pathlib import Path

from esmarc_spark.mapping.engine import record_to_triples
from tests.conftest import REFERENCE_TESTS, needs_reference

GOLDEN = Path(__file__).parent / "golden" / "marc_fixture_triples.ldj"
FIXTURES = REFERENCE_TESTS / "in"


# only the output triples are vendored; the 17 input records are not
@needs_reference("tests/in")
def test_engine_matches_vendored_golden():
    current = []
    for p in sorted(FIXTURES.iterdir()):
        current.extend(record_to_triples(json.loads(p.read_text())))
    golden = [
        (d["entity"], d["subj"], d["pred"], d["obj"])
        for d in map(json.loads, GOLDEN.read_text().splitlines())
    ]
    assert sorted(current) == golden
