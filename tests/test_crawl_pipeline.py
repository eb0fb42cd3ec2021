"""Composed realistic-crawl pipeline (round 5 — VERDICT r4 #5): raw
WARC bytes -> canonical dedup -> charset-aware main-content S1 -> lang
gate -> triples, verified cell-for-cell against the DuckDB oracle over
the generator-vendored expected parse."""

import duckdb
import pytest

from esmarc_spark.ops.crawl import crawl_pipeline, crawl_pipeline_sql

WARC = "/root/repo/tests/golden/realcrawl.warc.gz"
EXPECTED = "/root/repo/tests/golden/realcrawl_expected.ldj"


@pytest.fixture(scope="module")
def triples(spark):
    return [tuple(r) for r in crawl_pipeline(spark, WARC).collect()]


def test_matches_duckdb_oracle(triples):
    duck = [tuple(r) for r in duckdb.sql(crawl_pipeline_sql(EXPECTED)).fetchall()]
    assert triples == duck
    assert len(triples) > 20


def test_composition_features(triples):
    subjects = {s for s, _, _ in triples}
    # canonical dedup: the two article crawls collapsed to ONE canonical
    # url, and the SURVIVOR is the later crawl (its content mentions
    # "stream"/"merge"/"hash" — the early draft does not)
    assert "https://example.com/articles/1" in subjects
    assert not any("utm_source" in s or "Example.COM" in s for s in subjects)
    arts = {
        o for s, p, o in triples
        if s == "https://example.com/articles/1" and p == "mentions"
    }
    assert any("/4300002-5" in o for o in arts)  # "stream" — v2 only

    # http decode: gzip + chunked pages made it through to triples
    assert "https://example.com/gzip" in subjects
    assert "https://example.com/chunked" in subjects

    # charset: the Latin-1 and CP1252 pages survived the lang gate and
    # mention detection (replacement-mangled text would still tokenize,
    # but the oracle compares the exact decoded text through md5-free
    # equality — covered by test_matches_duckdb_oracle; here we pin the
    # pages' presence)
    assert "https://example.com/latin1" in subjects
    assert "https://example.com/cp1252" in subjects

    # language gate: German page kept, junk dropped
    assert "https://example.de/artikel/2" in subjects
    assert "https://example.com/junk" not in subjects
    # curation gate: under-length page dropped
    assert "https://example.com/short" not in subjects
    # status filter: non-200 dropped; quarantine frames excluded
    assert "https://example.com/gone" not in subjects
    assert "https://example.com/moved" not in subjects
    assert "__warc_error__" not in subjects


def test_generator_roundtrip(spark, tmp_path):
    """Regenerating the fixture produces byte-identical vendored files
    (determinism of the generator — gzip mtime pinned)."""
    import importlib.util
    import shutil
    import sys
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "gen_realcrawl_fixture", "/root/repo/scripts/gen_realcrawl_fixture.py"
    )
    mod = importlib.util.module_from_spec(spec)
    golden = Path("/root/repo/tests/golden")
    want_warc = (golden / "realcrawl.warc.gz").read_bytes()
    want_ldj = (golden / "realcrawl_expected.ldj").read_bytes()
    try:
        mod.GOLDEN = tmp_path  # redirect output before main() runs
        spec.loader.exec_module(mod)
        mod.GOLDEN = tmp_path
        mod.main()
    finally:
        sys.modules.pop("gen_realcrawl_fixture", None)
    assert (tmp_path / "realcrawl.warc.gz").read_bytes() == want_warc
    assert (tmp_path / "realcrawl_expected.ldj").read_bytes() == want_ldj


def test_oracle_text_pinned():
    """The DuckDB oracle text is checked by hash elsewhere; a refactor of
    the Spark side must not move it by a byte."""
    import hashlib

    from esmarc_spark.ops.kg_documents import DOC_TRIPLES_SQL

    def sha(text):
        return hashlib.sha256(text.encode()).hexdigest()

    assert sha(DOC_TRIPLES_SQL) == (
        "7b7d06ff94ab4a6b3e98583991deb380b08b3dac379ab4d468b00ce99f6bc217"
    )
    assert sha(crawl_pipeline_sql(EXPECTED)) == (
        "11b7185b9840fcac2ec9021a350d6d2c4e10544296c6e3f75f9a1849f2851fbe"
    )
