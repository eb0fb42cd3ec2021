"""End-to-end tests for the webtext KG pipeline (S0-S5)."""

import pytest
from pyspark.sql import functions as F

from esmarc_spark.pipeline.extract_text import dedup_by_url, with_extracted_text
from esmarc_spark.pipeline.link import count_mentions_salted, link_mentions
from esmarc_spark.pipeline.materialize import linked_to_triples
from esmarc_spark.pipeline.mentions import detect_mentions, detect_mentions_tokenized
from esmarc_spark.pipeline.run import run_pipeline
from esmarc_spark.pipeline.sqltext import sql_lit
from esmarc_spark.pipeline.webtext import GAZETTEER_ROWS, gazetteer_df, synth_webtext

N_DOCS = 300


@pytest.fixture(scope="module")
def webtext(spark):
    return synth_webtext(spark, n_docs=N_DOCS, partitions=4).cache()


@pytest.fixture(scope="module")
def gazetteer(spark):
    return gazetteer_df(spark).cache()


def test_webtext_shape_and_modes(webtext):
    rows = webtext.collect()
    assert len(rows) > N_DOCS  # duplicates present
    html_only = [r for r in rows if r.html is not None and r.text is None]
    text_only = [r for r in rows if r.html is None and r.text is not None]
    both = [r for r in rows if r.html is not None and r.text is not None]
    assert html_only and text_only and both


def test_extract_text_byte_identity(webtext):
    """For rows carrying both html and text, extraction of the html must
    reproduce the text byte-identically (both implementations)."""
    from esmarc_spark.pipeline.extract_text import extract_text_expr, extract_text_udf

    both = webtext.where(F.col("html").isNotNull() & F.col("text").isNotNull())
    for extracted in (extract_text_expr("html"), extract_text_udf(F.col("html"))):
        checked = both.select("url", "text", extracted.alias("extracted"))
        mismatches = checked.where(F.col("text") != F.col("extracted")).collect()
        assert mismatches == []


def test_extract_paths_byte_identical(spark):
    """JVM expression path == Python reference path, byte for byte, incl.
    unicode whitespace, entities, nested tags, script/style/head blocks."""
    from esmarc_spark.pipeline.extract_text import extract_text_expr, extract_text_udf

    cases = [
        "<html><head><title>t</title></head><body><p>Hello &amp; welcome</p></body></html>",
        "<body>umläut &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;end</body>",
        "<div>unicode space wide</div>",
        "<script>var x = '<p>no</p>';</script><p>yes</p><style>.a{}</style>",
        "<p>line1</p>\n\n<p>line2</p>\t<br/>tail",
        "plain text no tags",
        "<SCRIPT>UPPER</SCRIPT><P>kept</P>",
        "",
    ]
    df = spark.createDataFrame(
        [(c.encode("utf-8"),) for c in cases], "html binary"
    )
    out = df.select(
        extract_text_expr("html").alias("jvm"),
        extract_text_udf(F.col("html")).alias("py"),
    ).collect()
    for row, case in zip(out, cases):
        assert row.jvm == row.py, (case, row.jvm, row.py)


def test_extract_non_utf8_lossy(spark):
    """Real crawls carry Latin-1/Shift-JIS/binary payloads; S1 must not
    abort under ANSI mode (round-3 decode() did) and the JVM path's
    U+FFFD replacement must equal Python's errors="replace", byte for
    byte — truncated multi-byte sequences included."""
    from esmarc_spark.pipeline.extract_text import extract_text_expr, extract_text_udf

    cases = [
        b"<p>caf\xe9 r\xe9sum\xe9</p>",          # Latin-1
        b"\x89PNG\r\n\x1a\n\x00\xff\xfe",          # binary payload
        b"<p>a\xc3</p>",                           # truncated 2-byte seq
        b"<p>b\xe2\x82</p>",                       # truncated 3-byte seq
        b"<p>\xf0\x28\x8c\x28</p>",                # overlong-ish garbage
        "<p>ok é漢</p>".encode(),         # valid multibyte
    ]
    df = spark.createDataFrame([(c,) for c in cases], "html binary")
    out = df.select(
        extract_text_expr("html").alias("jvm"),
        extract_text_udf(F.col("html")).alias("py"),
    ).collect()
    for row, case in zip(out, cases):
        assert row.jvm == row.py, (case, row.jvm, row.py)


def test_extract_fills_html_only_rows(webtext):
    docs = with_extracted_text(webtext)
    assert docs.where(F.col("text").isNull()).count() == 0
    assert docs.where(F.col("text_extracted")).count() > 0


def test_dedup_by_url_deterministic(webtext):
    docs = dedup_by_url(with_extracted_text(webtext))
    assert docs.count() == N_DOCS
    assert docs.groupBy("url").count().where(F.col("count") > 1).count() == 0
    # determinism: same survivors on a different partitioning
    docs2 = dedup_by_url(with_extracted_text(webtext.repartition(13)))
    a = {(r.url, r.text) for r in docs.collect()}
    b = {(r.url, r.text) for r in docs2.collect()}
    assert a == b


def test_detect_mentions_exact(spark):
    df = spark.createDataFrame(
        [
            ("u1", "archive Frankfurt am Main record Dresden.", "de"),
            ("u2", "nothing here", "en"),
            ("u3", None, "en"),
            ("u4", "GermanyX is not Germany", "en"),  # word-boundary check
        ],
        "url string, text string, lang string",
    )
    out = detect_mentions(df, [s for s, _, _, _ in GAZETTEER_ROWS])
    rows = {(r.url, r.surface_form, r.position) for r in out.collect()}
    assert ("u1", "Frankfurt am Main", 8) in rows
    assert ("u1", "Dresden", 33) in rows
    assert ("u4", "Germany", 16) in rows  # only the standalone one
    assert not any(u == "u2" or u == "u3" for u, _, _ in rows)
    # longest-match-first: no bare "Frankfurt" hit inside the longer form
    assert not any(s == "Frankfurt" for _, s, _ in rows)


def test_tokenized_path_agrees_on_single_token_forms(webtext, gazetteer):
    docs = dedup_by_url(with_extracted_text(webtext))
    single = [s for s, _, _, _ in GAZETTEER_ROWS if " " not in s]
    regex_based = detect_mentions(docs, single)
    token_based = detect_mentions_tokenized(
        docs, gazetteer.where(~F.col("surface_form").contains(" "))
    )
    a = {(r.url, r.surface_form) for r in regex_based.collect()}
    b = {(r.url, r.surface_form) for r in token_based.collect()}
    assert a == b
    assert len(a) > 0


def test_link_and_salted_counts(webtext, gazetteer):
    docs = dedup_by_url(with_extracted_text(webtext))
    mentions = detect_mentions(docs, [s for s, _, _, _ in GAZETTEER_ROWS])
    linked = link_mentions(mentions, gazetteer)
    direct = {
        (r.canonical_url, r.n_mentions)
        for r in linked.groupBy("canonical_url", "entity_type")
        .agg(F.count("*").alias("n_mentions"))
        .collect()
    }
    salted = {
        (r.canonical_url, r.n_mentions)
        for r in count_mentions_salted(linked, n_salts=8).collect()
    }
    assert direct == salted
    # ambiguity fan-out: "Georgia" links to two authority ids
    georgia = linked.where(F.col("surface_form") == "Georgia")
    if georgia.count():
        assert georgia.select("authority_id").distinct().count() == 2


def test_triples_shapes(webtext, gazetteer):
    triples = run_pipeline(webtext, gazetteer)
    rows = triples.collect()
    preds = {r.pred for r in rows}
    assert {"@type", "mentions", "sameAs", "preferredName", "isBasedOn"} <= preds
    # every mentions object is a minted entity id with a sameAs edge
    minted = {r.subj for r in rows if r.pred == "sameAs"}
    mentioned = {r.obj for r in rows if r.pred == "mentions"}
    assert mentioned <= minted
    # determinism across runs
    rows2 = run_pipeline(webtext, gazetteer).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    # an unknown detector name is refused, not run as the regex scan
    with pytest.raises(ValueError, match="mentions_mode"):
        run_pipeline(webtext, gazetteer, mentions_mode="token")


def test_keyed_emission_matches_per_day(spark):
    """One emission keyed by pday == the union over days of the per-day
    emission, and every entity type (resources included) gets the
    reference's schema.org @type."""
    from esmarc_spark.mapping.spec import ENTITY_MAPPING

    days = ("2024-01-01", "2024-01-02", "2024-01-03")
    cols = "pday string, url string, surface_form string, entity_type string, " \
        "authority_id string, canonical_url string"
    rows = []
    for i, day in enumerate(days):
        for j, etype in enumerate(ENTITY_MAPPING):
            auth = f"{j}-{i % 2}"
            canon = f"https://d-nb.info/gnd/{auth}"
            for k in range(2):
                # two pages a day; the surface differs by page so the
                # preferredName min is a per-day aggregate
                rows.append((day, f"https://ex.org/{day}/{k}", f"s{k}{i}{etype}",
                             etype, auth, canon))
    linked = spark.createDataFrame(rows, cols)

    keyed = linked_to_triples(linked, "pday", keys=("pday",))
    assert keyed.columns == ["pday", "subj", "pred", "obj"]
    got = sorted(map(tuple, keyed.collect()))
    want = sorted(
        (day, *r)
        for day in days
        for r in linked_to_triples(
            linked.where(F.col("pday") == day).drop("pday"),
            source_index=sql_lit(day),
        ).collect()
    )
    assert got == want
    assert len(set(got)) == len(got)  # no global distinct, no duplicates

    types = {(s, o) for _, s, p, o in got if p == "@type"}
    res = "https://data.slub-dresden.de/resources/"
    assert any(s.startswith(res) and o == "http://schema.org/CreativeWork"
               for s, o in types)
    # every entity type gets a class (a missing map key would emit null)
    assert all(o is not None for _, o in types)
    assert {o for _, o in types} == {
        m["single:@type"] for m in ENTITY_MAPPING.values()
    }


def test_zipf_head_present(webtext, gazetteer):
    """~30% of docs mention Germany — the skew the salted agg handles."""
    docs = dedup_by_url(with_extracted_text(webtext))
    mentions = detect_mentions(docs, ["Germany"])
    n = mentions.select("url").distinct().count()
    assert n >= N_DOCS * 0.2


def test_sink_triples_partition_overwrite_idempotent(spark, tmp_path):
    """The parquet rendering of the Iceberg overwritePartitions contract:
    re-running a partition replaces it exactly (no duplicates)."""
    from esmarc_spark.pipeline.materialize import sink_triples

    out = str(tmp_path / "triples")
    t1 = spark.createDataFrame(
        [("s1", "p", "o", "2024-01-01"), ("s2", "p", "o", "2024-01-02")],
        "subj string, pred string, obj string, pday string",
    )
    sink_triples(t1, out, mode="overwrite_partitions")
    # re-run day 1 with a changed row: day 1 replaced, day 2 untouched
    t2 = spark.createDataFrame(
        [("s1b", "p", "o", "2024-01-01")],
        "subj string, pred string, obj string, pday string",
    )
    sink_triples(t2, out, mode="overwrite_partitions")
    # partition values come back type-inferred (DATE) — compare as strings
    rows = {(r.subj, str(r.pday)) for r in spark.read.parquet(out).collect()}
    assert rows == {("s1b", "2024-01-01"), ("s2", "2024-01-02")}


def test_run_pipeline_curation_flags(spark, gazetteer):
    """Round 5: the crawl-curation knobs are first-class on run_pipeline —
    canonical-url dedup collapses tracking variants before S1, and
    main_content/charset_aware forward to extraction; defaults stay the
    byte-identical contract."""
    import datetime as dt

    t0 = dt.datetime(2024, 5, 1)
    nav = "<div><a href='/'>Home</a> <a href='/x'>More</a> <a href='/y'>Nav</a></div>"
    body = "<p>The Dresden mention appears in a long enough paragraph right here.</p>"
    rows = [
        # two crawls of one logical page (tracking param; later wins)
        ("https://A.example/p/", t0, (nav + body).encode(), None, "en"),
        ("https://a.example/p?utm_source=x", t0 + dt.timedelta(days=1),
         (nav + body).encode(), None, "en"),
        # latin-1 page with meta charset carrying a mention
        ("https://a.example/q", t0,
         ('<meta charset="ISO-8859-1">' + nav +
          "<p>The café in Leipzig is also a long enough paragraph to keep.</p>"
          ).encode("latin-1"), None, "en"),
    ]
    wt = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    triples = run_pipeline(
        wt, gazetteer,
        canonical_url_dedup=True, main_content=True, charset_aware=True,
    ).collect()
    subjects = {r.subj for r in triples}
    # canonical dedup: one subject for the /p variants, under the canonical url
    assert "https://a.example/p" in subjects
    assert not any("utm_source" in s or "A.example" in s for s in subjects)
    assert "https://a.example/q" in subjects
    # main_content: nav links do not appear in any preferredName/obj text
    assert not any("Home" in r.obj for r in triples)

    # defaults unchanged: flags off -> raw urls survive as subjects
    base = run_pipeline(wt, gazetteer).collect()
    base_subjects = {r.subj for r in base}
    assert "https://A.example/p/" in base_subjects
