"""Unit tests for detect_mentions_ngram (batch join path).

Round-2 regression coverage: the batch path must keep the plan free of
gazetteer literals (membership via broadcast join), return an empty frame
for an empty gazetteer instead of raising (ADVICE r1), and preserve the
strict leftmost-longest overlap semantics of the regex reference detector.
"""

from pyspark.sql import functions as F

from esmarc_spark.pipeline.mentions import (
    detect_mentions,
    detect_mentions_ngram,
    detect_mentions_tokenized,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "url string, text string, lang string")


def _gaz(spark, surfaces):
    return spark.createDataFrame(
        [(s,) for s in surfaces], "surface_form string"
    )


def test_ngram_empty_gazetteer_returns_empty(spark):
    docs = _docs(spark, [("u1", "some text here", "en")])
    out = detect_mentions_ngram(docs, _gaz(spark, []))
    assert out.columns == ["url", "surface_form", "position", "lang"]
    assert out.count() == 0
    # extra passthrough columns keep their input types
    docs_ts = docs.withColumn("warc_ts", F.current_timestamp())
    out2 = detect_mentions_ngram(docs_ts, _gaz(spark, []), extra_cols=("warc_ts",))
    assert out2.columns == ["url", "surface_form", "position", "lang", "warc_ts"]
    assert dict(out2.dtypes)["warc_ts"] == "timestamp"
    assert out2.count() == 0


def test_ngram_leftmost_longest(spark):
    # "Main" at token 2 is consumed by the longer match at 0; token 5 kept
    docs = _docs(spark, [("u1", "Frankfurt am Main liegt am Main", "de")])
    out = detect_mentions_ngram(docs, _gaz(spark, ["Frankfurt am Main", "Main"]))
    rows = {(r.surface_form, r.position) for r in out.collect()}
    assert rows == {("Frankfurt am Main", 0), ("Main", 5)}


def test_ngram_later_start_overlap_dropped(spark):
    # "am Main" starts inside the kept "Frankfurt am Main" -> dropped
    docs = _docs(spark, [("u1", "Frankfurt am Main", "de")])
    out = detect_mentions_ngram(
        docs, _gaz(spark, ["Frankfurt am Main", "am Main"])
    )
    rows = {(r.surface_form, r.position) for r in out.collect()}
    assert rows == {("Frankfurt am Main", 0)}


def test_ngram_matches_tokenized_on_single_tokens(spark):
    docs = _docs(
        spark,
        [
            ("u1", "Dresden und Leipzig sind in Sachsen.", "de"),
            ("u2", "Leipzig, dann Dresden", "de"),
            ("u3", None, "de"),
        ],
    )
    gaz = _gaz(spark, ["Dresden", "Leipzig"])
    a = {
        (r.url, r.surface_form, r.position)
        for r in detect_mentions_ngram(docs, gaz).collect()
    }
    b = {
        (r.url, r.surface_form, r.position)
        for r in detect_mentions_tokenized(docs, gaz).collect()
    }
    assert a == b and len(a) == 4


def test_ngram_matches_regex_surfaces(spark):
    # multi-word parity with the pandas-UDF regex detector on (url, surface),
    # on both physical paths. The inline path embeds every surface form in
    # SQL text, so the inputs carry the characters a Spark SQL literal must
    # escape or could misread (quote, backslash, both together), LIKE and
    # format metacharacters, and non-ASCII letters
    docs = _docs(
        spark,
        [
            ("u1", "Die Deutsche Nationalbibliothek in Frankfurt am Main", "de"),
            ("u2", "Frankfurt ist nicht Frankfurt am Main", "de"),
            ("u3", "O'Brien traf Rock$tar bei 50%Rabatt in Zürich-Ost", "de"),
            ("u4", "Pfad C:\\Temp und Back\\'slash, dann l'Île de France", "fr"),
            ("u5", "fmt{0}x und 100% und Ærø Straße, nicht O'Brie", "de"),
        ],
    )
    surfaces = [
        "Deutsche Nationalbibliothek", "Frankfurt am Main", "Frankfurt",
        "O'Brien", "Rock$tar", "50%Rabatt", "Zürich-Ost", "C:\\Temp",
        "Back\\'slash", "l'Île de France", "fmt{0}x", "Ærø Straße",
    ]
    # 4,097 extra surfaces push the gazetteer past max_inline_surfaces
    fillers = [f"zzfill{i} qq" for i in range(4097)]
    for extra, join_path in (([], False), (fillers, True)):
        found = detect_mentions_ngram(docs, _gaz(spark, surfaces + extra))
        plan = found._jdf.queryExecution().optimizedPlan().toString()
        assert ("_anchor_bloom" in plan) == join_path
        a = {(r.url, r.surface_form) for r in found.collect()}
        b = {
            (r.url, r.surface_form)
            for r in detect_mentions(docs, surfaces + extra).collect()
        }
        assert a == b
        assert {s for _, s in a} >= {"O'Brien", "C:\\Temp", "Back\\'slash", "fmt{0}x"}


def test_ngram_plan_has_no_gazetteer_literals(spark):
    # the whole point of the join path (forced via max_inline_surfaces=0):
    # gazetteer values never enter the plan
    docs = _docs(spark, [("u1", "Zzyzxvalue elsewhere", "en")])
    out = detect_mentions_ngram(
        docs, _gaz(spark, ["Zzyzxvalue", "Qqmarker token"]), max_inline_surfaces=0
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Zzyzxvalue" not in plan
    assert "Qqmarker" not in plan


def test_ngram_inline_and_join_paths_agree(spark):
    docs = _docs(
        spark,
        [
            ("u1", "Die Deutsche Nationalbibliothek in Frankfurt am Main", "de"),
            ("u2", "Frankfurt am Main liegt am Main; Frankfurt auch", "de"),
            ("u3", "nichts hier", "de"),
        ],
    )
    gaz = _gaz(spark, ["Deutsche Nationalbibliothek", "Frankfurt am Main",
                       "Frankfurt", "Main"])
    inline = detect_mentions_ngram(docs, gaz)  # 4 surfaces -> inline path
    join = detect_mentions_ngram(docs, gaz, max_inline_surfaces=0)
    a = {tuple(r) for r in inline.collect()}
    b = {tuple(r) for r in join.collect()}
    assert a == b and a


def test_ngram_randomized_against_python_reference(spark):
    """200 random docs x random multi-word gazetteer, both physical paths
    vs an independent pure-Python leftmost-longest scanner."""
    import random

    rng = random.Random(20240816)
    vocab = [f"w{i}" for i in range(12)]
    surfaces = set()
    while len(surfaces) < 9:
        n = rng.choice([1, 1, 2, 3])
        surfaces.add(" ".join(rng.choice(vocab) for _ in range(n)))
    surfaces = sorted(surfaces)

    docs = []
    for d in range(200):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
        docs.append((f"u{d}", " ".join(toks), "en"))

    def py_scan(text):
        toks = text.split(" ") if text else []
        # clean exactly like the operator: strip edge punctuation (none here)
        out = []
        consumed = -1
        i = 0
        lengths = sorted({len(s.split(" ")) for s in surfaces}, reverse=True)
        while i < len(toks):
            if i < consumed:
                i += 1
                continue
            hit = None
            for L in lengths:  # longest first at this position
                if i + L <= len(toks):
                    gram = " ".join(toks[i : i + L])
                    if gram in surfaces:
                        hit = (gram, i, L)
                        break
            if hit:
                out.append((hit[0], hit[1]))
                consumed = hit[1] + hit[2]
                i = consumed
            else:
                i += 1
        return out

    expected = set()
    for url, text, _ in docs:
        if text == "":
            # operator tokenizes "" to [""] -> no surface match
            continue
        for surface, pos in py_scan(text):
            expected.add((url, surface, pos))

    df = _docs(spark, docs)
    gaz = _gaz(spark, surfaces)
    inline = {
        (r.url, r.surface_form, r.position)
        for r in detect_mentions_ngram(df, gaz).collect()
    }
    join = {
        (r.url, r.surface_form, r.position)
        for r in detect_mentions_ngram(df, gaz, max_inline_surfaces=0).collect()
    }
    assert inline == expected
    assert join == expected


def test_ngram_empty_gazetteer_streaming_stays_streaming(spark, tmp_path):
    # ADVICE r2: the empty-gazetteer early-return must hand a STREAMING
    # caller a streaming frame (derived from the input), not a batch
    # createDataFrame that breaks the downstream writeStream
    src = str(tmp_path / "src")
    _docs(spark, [("u1", "some text", "en")]).write.parquet(src)
    stream = (
        spark.readStream.schema("url string, text string, lang string")
        .parquet(src)
    )
    out = detect_mentions_ngram(stream, _gaz(spark, []))
    assert out.isStreaming
    assert out.columns == ["url", "surface_form", "position", "lang"]
    assert dict(out.dtypes)["position"] == "bigint"


def test_anchor_bloom_no_false_negatives(spark):
    # the prefilter is allowed false positives (the exact broadcast join
    # removes them) but NEVER false negatives — and its fp rate must stay
    # near the designed ~4%
    from esmarc_spark.pipeline.mentions import _bloom_build, _bloom_test

    surf = _gaz(spark, [f"tok{i} rest" for i in range(3000)])
    bloom_df, m = _bloom_build(surf.select("surface_form").distinct(), 3000)
    probes = spark.createDataFrame(
        [(f"tok{i}",) for i in range(3000)] + [(f"zz{i}",) for i in range(3000)],
        "t string",
    )
    rows = (
        probes.crossJoin(F.broadcast(bloom_df))
        .select(
            F.col("t").startswith("tok").alias("member"),
            F.expr(_bloom_test(m, "t")).alias("hit"),
        )
        .groupBy("member")
        .agg(F.sum(F.col("hit").cast("int")).alias("n_hit"), F.count("*").alias("n"))
        .collect()
    )
    d = {r.member: (r.n_hit, r.n) for r in rows}
    assert d[True] == (3000, 3000)
    assert d[False][0] <= 0.15 * d[False][1]


def test_join_path_plan_has_bloom_prefilter(spark):
    # the broadcast-attached bitmap must appear in the plan (the cross
    # join) and gram construction must sit behind the position filter
    docs = _docs(spark, [("u1", "alpha beta gamma", "en")])
    gaz = _gaz(spark, ["alpha", "beta delta"])
    out = detect_mentions_ngram(docs, gaz, max_inline_surfaces=0)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "_anchor_bloom" in plan
    assert "BroadcastNestedLoopJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_regex_path_broadcast_gazetteer_at_scale(spark):
    # VERDICT r2 #9: a 10^5-surface gazetteer must ride a broadcast
    # variable, not the task closure; results stay correct and the
    # pattern compiles once per worker (not per task)
    surfaces = [f"entity{i} name" for i in range(100_000)] + ["Dresden"]
    docs = _docs(
        spark,
        [("u1", "entity42 name liegt bei Dresden", "de"),
         ("u2", "nichts", "de")],
    )
    out = {
        (r.url, r.surface_form, r.position)
        for r in detect_mentions(docs, surfaces).collect()
    }
    assert out == {("u1", "entity42 name", 0), ("u1", "Dresden", 24)}


def test_ngram_adversarial_text(spark):
    # punctuation-only, unicode, and whitespace-weird docs must not break
    # either physical path, and both must agree
    docs = _docs(
        spark,
        [
            ("u1", "!!! ??? ...", "en"),
            ("u2", "Dresden, (Dresden) »Dresden«", "de"),
            ("u3", "   ", "de"),
            ("u4", "ünïcödé Dresden ünïcödé", "de"),
            ("u5", "", "de"),
        ],
    )
    gaz = _gaz(spark, ["Dresden", "ünïcödé"])
    a = {tuple(r) for r in detect_mentions_ngram(docs, gaz).collect()}
    b = {
        tuple(r)
        for r in detect_mentions_ngram(docs, gaz, max_inline_surfaces=0).collect()
    }
    assert a == b
    assert ("u2", "Dresden", 0, "de") in a  # edge punctuation stripped
    assert ("u4", "ünïcödé", 0, "de") in a


def test_bloom_build_matches_per_bit_reference(spark):
    """Round-4 JVM-side word assembly (groupBy + bit_or) must produce the
    exact bitmap of the round-3 per-set-bit driver fold, for assorted
    gazetteer shapes incl. unicode and hash-colliding densities."""
    import random

    from pyspark.sql import functions as F

    from esmarc_spark.pipeline.mentions import _BLOOM_WORD_BITS, _bloom_build

    rng = random.Random(7)
    vocab = (
        [f"tok{i}" for i in range(500)]
        + ["Österreich", "Köln am Rhein", "東京 都", "a", ""]
        + [f"{rng.randint(0, 99)}x y" for _ in range(100)]
    )
    for n in (1, 17, 300, len(vocab)):
        surfaces = vocab[:n]
        surf = spark.createDataFrame(
            [(s,) for s in surfaces], "surface_form string"
        ).distinct()
        bloom_df, m_bits = _bloom_build(surf, n)
        got = bloom_df.collect()[0][0]
        # reference: per-set-bit collect + driver fold (the r3 builder)
        bits = (
            surf.select(
                F.xxhash64(F.split("surface_form", " ")[0])
                .bitwiseAND(F.lit(m_bits - 1))
                .alias("b")
            )
            .distinct()
            .collect()
        )
        want = [0] * ((m_bits + _BLOOM_WORD_BITS - 1) // _BLOOM_WORD_BITS)
        for r in bits:
            want[r["b"] // _BLOOM_WORD_BITS] |= 1 << (r["b"] % _BLOOM_WORD_BITS)
        assert got == want, n
