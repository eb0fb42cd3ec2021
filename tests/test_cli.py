"""CLI surface (reference entry points A and B on Spark sources/sinks)."""

import glob
import json

import pytest

from esmarc_spark.cli import main
from tests.conftest import REFERENCE_IDS, REFERENCE_TESTS, needs_reference

FIXTURES = REFERENCE_TESTS / "in"


@pytest.fixture()
def records_ldj(tmp_path):
    p = tmp_path / "records.ldj"
    lines = [f.read_text().strip() for f in sorted(FIXTURES.iterdir())]
    p.write_text("\n".join(lines) + "\n")
    return str(p)


@needs_reference("tests/in")
def test_cli_batch_run_writes_per_entity_ldj(spark, records_ldj, tmp_path, capsys):
    out = str(tmp_path / "out")
    assert main(["-in", records_ldj, "-prefix", out, "-z", "-w", "4"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["per_entity"].get("resources") == 17
    parts = glob.glob(f"{out}/entity=resources/part-*.txt.gz")
    assert parts
    docs = [json.loads(r.doc) for r in
            __import__("esmarc_spark.pipeline.sinks", fromlist=["read_entity_ldj"])
            .read_entity_ldj(spark, out, "resources", typed=False).collect()]
    assert len(docs) == 17 and all("@id" in d for d in docs)


@needs_reference("tests/in")
def test_cli_debug_single_record(spark, records_ldj, capsys):
    rid = REFERENCE_IDS[0]
    assert main(["-in", records_ldj, "-id", rid, "-debug"]) == 0
    out_lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert len(out_lines) == 1
    doc = json.loads(out_lines[0])
    assert doc["_ppn"] == rid


@needs_reference("tests/in")
def test_cli_idfile_semi_join(spark, records_ldj, tmp_path, capsys):
    ids = REFERENCE_IDS[:3]
    idfile = tmp_path / "ids.txt"
    idfile.write_text("\n".join(ids) + "\n")
    out = str(tmp_path / "out")
    assert main(["-in", records_ldj, "-idfile", str(idfile), "-prefix", out]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(summary["per_entity"].values()) == 3


def test_cli_rejects_foreign_target_id(tmp_path):
    # the guard fires before any session is built or input read, so an empty
    # records file suffices
    records = tmp_path / "records.ldj"
    records.write_text("")
    with pytest.raises(SystemExit, match="compile-time constants"):
        main(["-in", str(records), "-target_id", "https://other.example.org/"])
