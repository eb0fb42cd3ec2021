"""Bad-words gate + host-level quality rollup: semantics + oracle parity."""

import duckdb
import pytest

from esmarc_spark.ops.badwords import (
    badword_pattern,
    badword_stats,
    badword_stats_sql,
)
from esmarc_spark.ops.host_rollup import (
    gate_hosts_by_quality,
    host_quality_rollup,
    host_quality_rollup_sql,
)


def test_badwords_word_boundary_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "win the JACKPOT now"),  # case-insensitive hit
            (2, "the casino! opened"),  # punctuation boundary hit
            (3, "cassino is a town in italy"),  # superstring: NOT a hit
            (4, "clean text entirely"),
            (5, None),
            (6, "porn porn porn"),  # counted per occurrence
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.badword_count, r.keep)
        for r in badword_stats(docs).collect()
    }
    assert got[1] == (1, False)
    assert got[2] == (1, False)
    assert got[3] == (0, True)
    assert got[4] == (0, True)
    assert got[5] == (0, True)
    assert got[6] == (3, False)


def test_badwords_pattern_rejects_regex_metachars():
    with pytest.raises(ValueError):
        badword_pattern(["a.b"])


def test_badwords_oracle_parity(spark, tmp_path):
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "jackpot casino xxx"), (2, "fine text"), (3, None)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(p)
    got = (
        badword_stats(spark.read.parquet(p))
        .select("doc_id", "badword_count", "keep")
        .orderBy("doc_id")
        .collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    want = con.sql(
        "SELECT doc_id, badword_count, keep FROM ("
        + badword_stats_sql("SELECT * FROM documents")
        + ") ORDER BY doc_id"
    ).fetchall()
    assert [tuple(r) for r in got] == [tuple(w) for w in want]


def _hosted(spark):
    rows = [
        # host A: long diverse sentences with stopwords -> high quality
        (i, "a", "the quick brown fox jumps over the lazy dog number "
         + " ".join(f"t{i}x{j}" for j in range(10)))
        for i in range(4)
    ] + [
        # host B: short low-diversity junk -> low quality
        (10 + i, "b", "spam spam spam") for i in range(4)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_host_rollup_gates_low_quality_host(spark):
    roll = {
        r.host: (r.n_docs, r.keep)
        for r in host_quality_rollup(_hosted(spark)).collect()
    }
    assert roll["a"] == (4, True)
    assert roll["b"] == (4, False)
    kept = gate_hosts_by_quality(_hosted(spark))
    assert {r.source for r in kept.collect()} == {"a"}
    assert kept.count() == 4


def test_host_rollup_oracle_parity(spark, tmp_path):
    p = str(tmp_path / "docs.parquet")
    _hosted(spark).write.mode("overwrite").parquet(p)
    got = (
        host_quality_rollup(spark.read.parquet(p))
        .orderBy("host")
        .collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    want = con.sql(
        host_quality_rollup_sql("SELECT * FROM documents") + " ORDER BY host"
    ).fetchall()
    assert [tuple(r) for r in got] == [tuple(w) for w in want]


def test_prepare_docs_badwords_and_span_knobs(spark):
    import datetime as dt

    from esmarc_spark.pipeline.run import prepare_docs

    t0 = dt.datetime(2024, 5, 1)
    span = " ".join(f"s{i}" for i in range(13))
    rows = [
        ("https://a.example/1", t0,
         f"<p>unique alpha {span} tail-a</p>".encode(), None, "en"),
        ("https://a.example/2", t0,
         f"<p>unique beta {span} tail-b</p>".encode(), None, "en"),
        ("https://a.example/3", t0,
         b"<p>win the casino jackpot tonight</p>", None, "en"),
        ("https://a.example/4", t0,
         b"<p>perfectly clean page body</p>", None, "en"),
    ]
    wt = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    docs = {
        r.url: r.text
        for r in prepare_docs(
            wt, dedup_spans_k=13, badword_list=True
        ).collect()
    }
    assert "https://a.example/3" not in docs  # badword page dropped
    assert "https://a.example/4" in docs
    # the shared 13-token run is cut from both survivors
    assert span not in docs["https://a.example/1"]
    assert "unique alpha" in docs["https://a.example/1"]
    assert span not in docs["https://a.example/2"]


def test_prepare_docs_mojibake_repair_knob(spark):
    import datetime as dt

    from esmarc_spark.pipeline.run import prepare_docs

    t0 = dt.datetime(2024, 5, 1)
    rows = [
        # html carries the corrupted bytes (already UTF-8 of the mojibake
        # chars — the damage is baked into the source, S1 can't help)
        ("https://a.example/1", t0,
         "<p>visit the cafÃ© â€” naÃ¯ve quote â€œhiâ€\x9d</p>".encode(),
         None, "en"),
        ("https://a.example/2", t0, b"<p>plain ascii page</p>", None, "en"),
    ]
    wt = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    off = {r.url: r.text for r in prepare_docs(wt).collect()}
    on = {r.url: r.text for r in prepare_docs(wt, mojibake_repair=True).collect()}
    assert "cafÃ©" in off["https://a.example/1"]  # default keeps bytes as-is
    assert "café — naïve quote “hi”" in on["https://a.example/1"]
    assert on["https://a.example/2"] == off["https://a.example/2"]  # untouched


def test_prepare_docs_mojibake_repair_passes(spark):
    """mojibake_repair=2 (round 7) peels DOUBLY-encoded damage; one pass
    only reaches the single-encoded layer."""
    import datetime as dt

    from esmarc_spark.ops.mojibake import double_mojibake
    from esmarc_spark.pipeline.run import prepare_docs

    dbl = double_mojibake("é")
    rows = [
        ("https://a.example/1", dt.datetime(2024, 5, 1),
         f"<p>caf{dbl} deep</p>".encode(), None, "en"),
    ]
    wt = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    one = prepare_docs(wt, mojibake_repair=True).collect()[0].text
    two = prepare_docs(wt, mojibake_repair=2).collect()[0].text
    assert "cafÃ©" in one and "café" in two
    assert prepare_docs(wt, mojibake_repair=2).columns == prepare_docs(wt).columns


def test_community_quality_rollup_drops_link_ring(spark):
    from esmarc_spark.ops.host_rollup import (
        community_quality_rollup,
        community_quality_rollup_sql,
    )
    from esmarc_spark.ops.linkgraph import label_propagation

    # ring: r1..r4 densely interlinked; good: g1..g2 linked to each other
    edges = [(f"r{i}", f"r{j}") for i in range(1, 5) for j in range(1, 5) if i != j]
    edges += [("g1", "g2")]
    comm = label_propagation(
        spark.createDataFrame(edges, "src string, dst string"), 4
    )
    junk = "x " * 3  # short, low-quality text
    good = ("The quick brown fox jumps over the lazy dog near the river "
            "bank, and the study of language models continues. ") * 3
    docs = spark.createDataFrame(
        [(f"r{i}", junk) for i in range(1, 5)]
        + [("g1", good), ("g2", good), ("lonely", good)],
        "host string, text string",
    )
    out = {r.community: r for r in community_quality_rollup(docs, comm).collect()}
    ring = out["r1"]  # min-label community of the ring
    assert ring.n_hosts == 4 and not ring.keep
    assert out["g1"].n_hosts == 2 and out["g1"].keep
    assert out["lonely"].n_hosts == 1 and out["lonely"].keep  # singleton

    # oracle parity over the same relations
    import duckdb

    ev = ", ".join(f"('{s}', '{d}')" for s, d in edges)
    dv = ", ".join(
        f"('{r.host}', '{r.text}')" for r in docs.collect()
    )
    from esmarc_spark.ops.linkgraph import label_propagation_sql

    sql = community_quality_rollup_sql(
        f"SELECT * FROM (VALUES {dv}) AS d(host, text)",
        label_propagation_sql(f"SELECT * FROM (VALUES {ev}) AS e(src, dst)", 4),
    )
    want = sorted(map(tuple, duckdb.sql(sql).fetchall()))
    got = sorted(tuple(r) for r in community_quality_rollup(docs, comm).collect())
    assert got == want


def test_host_language_mix(spark):
    # round 7: language-count + dominant-share rollup — exact permyriad,
    # deterministic min-lang tie-break, null langs excluded
    import duckdb

    from esmarc_spark.ops.host_rollup import (
        host_language_mix,
        host_language_mix_sql,
    )

    rows = (
        [("farm.example", "en")] * 2
        + [("farm.example", "de")] * 2      # tie with en -> 'de' wins (min)
        + [("farm.example", "fr")]
        + [("mono.example", "en")] * 4
        + [("mono.example", None)]          # excluded from counts
        + [("dual.example", "en")] * 3
        + [("dual.example", "zh")]
    )
    df = spark.createDataFrame(rows, "source string, lang string").repartition(7)
    got = {
        r.host: (r.n_docs, r.n_langs, r.top_lang, r.top_share_permyriad)
        for r in host_language_mix(df).collect()
    }
    assert got["farm.example"] == (5, 3, "de", 4000)
    assert got["mono.example"] == (4, 1, "en", 10000)
    assert got["dual.example"] == (4, 2, "en", 7500)
    vals = ", ".join(
        "('{}', {})".format(s, "NULL" if l is None else f"'{l}'")
        for s, l in rows
    )
    want = {
        r[0]: tuple(r[1:])
        for r in duckdb.sql(
            host_language_mix_sql(
                f"SELECT * FROM (VALUES {vals}) AS t(source, lang)"
            )
        ).fetchall()
    }
    assert got == want
