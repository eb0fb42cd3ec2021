import json
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

REFERENCE = Path("/root/reference")
REFERENCE_TESTS = REFERENCE / "tests"
TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))

# The 17 esmarc fixture record ids; empty where the reference corpus is absent,
# so every test that loops over them must also carry needs_reference("tests/in").
REFERENCE_IDS = (
    sorted(p.name for p in (REFERENCE_TESTS / "in").iterdir())
    if (REFERENCE_TESTS / "in").is_dir()
    else []
)


def needs_reference(*paths: str):
    """Skip mark for a test that reads these paths under the reference
    checkout (esmarc's own tests/in, tests/out, esmarc/, enrichment/...).
    It skips only where one of them is missing, naming that path, and runs
    unchanged wherever the reference is present."""
    missing = [str(REFERENCE / p) for p in paths if not (REFERENCE / p).exists()]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference path missing: {', '.join(missing)}"
    )


def load_fixture_record(record_id: str) -> dict:
    with open(REFERENCE_TESTS / "in" / record_id) as fh:
        return json.load(fh)


def load_golden(field: str, record_id: str):
    with open(REFERENCE_TESTS / "out" / field / record_id) as fh:
        return json.load(fh)


@pytest.fixture(scope="session")
def spark():
    from esmarc_spark.session import get_spark

    spark = get_spark("esmarc-spark-tests", cpus=4, shuffle_partitions=8)
    yield spark
    spark.stop()
