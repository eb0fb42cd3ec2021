"""Kill/rerun resumability: an interrupted incremental run, resumed, must
produce byte-identical output to one uninterrupted run — no duplicates —
and per-partition lineage rows must exist (north_rule). Every day
run_incremental writes must equal run_pipeline over that day alone."""

import pytest
from pyspark.sql import functions as F

from esmarc_spark.pipeline.checkpoint import CheckpointStore
from esmarc_spark.pipeline.run import run_incremental, run_pipeline
from esmarc_spark.pipeline.webtext import gazetteer_df, synth_webtext


@pytest.fixture()
def inputs(spark):
    # 3 distinct warc_ts days
    wt = synth_webtext(spark, n_docs=120, partitions=4, dup_fraction=0).withColumn(
        "warc_ts",
        F.timestamp_seconds(
            F.lit(1700000000) + F.pmod(F.xxhash64("url"), F.lit(3)) * 86400
        ),
    )
    return wt.cache(), gazetteer_df(spark)


def _read_triples(spark, root):
    return {
        (r.subj, r.pred, r.obj, str(r.pday))
        for r in spark.read.parquet(f"{root}/triples").collect()
    }


def _pday():
    return F.date_format("warc_ts", "yyyy-MM-dd")


def _days(webtext):
    return sorted(r.d for r in webtext.select(_pday().alias("d")).distinct().collect())


def _lineage_counts(spark, root):
    return {
        r.pday: (r.n_docs, r.n_mentions, r.n_triples)
        for r in CheckpointStore(spark, root).lineage().collect()
    }


def _per_day_reference(webtext, gaz, **curation):
    """run_pipeline over each day's rows alone: the triples (keyed by day
    like the partitioned output) and the (n_docs, n_mentions, n_triples)
    lineage each day must record."""
    triples, counts = set(), {}
    for day in _days(webtext):
        rows = webtext.where(_pday() == day)
        out = run_pipeline(rows, gaz, source_index=day, **curation).collect()
        triples |= {(r.subj, r.pred, r.obj, day) for r in out}
        counts[day] = (
            rows.count(),
            sum(r.pred == "mentions" for r in out),
            len(out),
        )
    return triples, counts


def _append_daily(spark, webtext, gaz, root, **kw):
    """Successive run_incremental calls, each exposing one more day (the
    daily-append shape); every call must process exactly its new day."""
    for day in _days(webtext):
        res = run_incremental(
            spark, webtext.where(_pday() <= day), gaz, root, **kw
        )
        assert res["processed"] == [day]
    return _read_triples(spark, root)


def test_kill_and_resume(spark, tmp_path, inputs):
    webtext, gaz = inputs
    golden_root = str(tmp_path / "golden")
    run_incremental(spark, webtext, gaz, golden_root)
    golden = _read_triples(spark, golden_root)

    resumed_root = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_incremental(spark, webtext, gaz, resumed_root, fail_after_partitions=1)
    # resume: must skip the completed partition and finish the rest
    summary = run_incremental(spark, webtext, gaz, resumed_root)
    assert summary["skipped_done"], "resume did not skip completed partitions"
    assert _read_triples(spark, resumed_root) == golden

    # idempotency: a third run processes nothing and changes nothing
    summary3 = run_incremental(spark, webtext, gaz, resumed_root)
    assert summary3["processed"] == []
    assert _read_triples(spark, resumed_root) == golden


def test_backfill_one_job_matches_loop(spark, tmp_path, inputs):
    """Round 5 (VERDICT r4 #3): the single-job backfill must be byte-
    identical, day by day, to run_pipeline over each day — same triples
    under the same pday partitions, lineage counts equal to the input's
    and the reference's — while recording all pending days from one write
    job. Successive one-day appends equal the one backfill."""
    webtext, gaz = inputs
    ref, ref_counts = _per_day_reference(webtext, gaz)
    batch_root = str(tmp_path / "batch")
    summary = run_incremental(spark, webtext, gaz, batch_root)
    assert len(summary["processed"]) == 3
    assert _read_triples(spark, batch_root) == ref
    assert _lineage_counts(spark, batch_root) == ref_counts
    # one write job: every batch lineage row carries the same wall stamp
    walls = {r.wall_sec for r in CheckpointStore(spark, batch_root).lineage().collect()}
    assert len(walls) == 1

    daily_root = str(tmp_path / "daily")
    assert _append_daily(spark, webtext, gaz, daily_root) == ref
    assert _lineage_counts(spark, daily_root) == ref_counts

    # idempotent tail: nothing pending, nothing changes
    again = run_incremental(spark, webtext, gaz, batch_root)
    assert again["processed"] == []
    assert _read_triples(spark, batch_root) == ref


def test_zero_triple_day_records_lineage(spark, tmp_path):
    """A fresh out_root whose only pending day mentions no surface form:
    nothing is ever written under triples/, yet the day is recorded done
    with zero counts (the read-back must not fail on the empty path)."""
    wt = (
        synth_webtext(spark, n_docs=6, partitions=2, dup_fraction=0)
        .withColumn("html", F.lit(None).cast("binary"))
        .withColumn("text", F.lit("qwzx vbnm plkj nothing to link here."))
        .withColumn("warc_ts", F.timestamp_seconds(F.lit(1700000000)))
    )
    gaz = gazetteer_df(spark)
    root = str(tmp_path / "empty_day")
    res = run_incremental(spark, wt, gaz, root)
    assert res["processed"] == _days(wt)
    (row,) = CheckpointStore(spark, root).lineage().collect()
    assert row.status == "done"
    assert (row.n_docs, row.n_mentions, row.n_triples) == (6, 0, 0)
    # resume: the empty day is complete, nothing is re-run
    assert run_incremental(spark, wt, gaz, root)["processed"] == []


def test_lineage_metrics(spark, tmp_path, inputs):
    webtext, gaz = inputs
    root = str(tmp_path / "lineage")
    run_incremental(spark, webtext, gaz, root)
    lineage = CheckpointStore(spark, root).lineage().collect()
    assert len(lineage) == 3  # one row per day partition
    for row in lineage:
        assert row.status == "done"
        assert row.n_docs > 0 and row.n_triples > 0 and row.n_mentions > 0
        assert row.n_mentions < row.n_triples
        assert row.watermark_ts is not None and row.wall_sec > 0


def test_run_incremental_uri_out_root(spark, tmp_path, inputs):
    """The orchestration layer accepts a file:// out_root end-to-end
    (triples write, lineage append, resume read — all URI paths), and
    produces the same triples as a posix root."""
    webtext, gaz = inputs
    posix_root = str(tmp_path / "posix")
    uri_root = f"file://{tmp_path}/uri"
    run_incremental(spark, webtext, gaz, posix_root)
    summary = run_incremental(spark, webtext, gaz, uri_root)
    assert len(summary["processed"]) == 3
    assert _read_triples(spark, uri_root) == _read_triples(spark, posix_root)
    # resume through the URI checkpoint store: nothing pending
    again = run_incremental(spark, webtext, gaz, uri_root)
    assert again["processed"] == []


def test_backfill_corrupt_readback_raises_not_done(spark, tmp_path, inputs):
    """ADVICE r5: a real failure reading back the written triples (e.g.
    corrupt footer) must propagate — NOT be recorded as status='done'
    with n_triples=0, which would corrupt lineage while marking the
    partitions complete. Only the nothing-written-yet empty-path shape
    maps to zero counts."""
    import pathlib

    webtext, gaz = inputs
    root = str(tmp_path / "corrupt")
    # first run writes triples; then corrupt every footer and force a
    # backfill of a "new" day so the read-back executes again
    run_incremental(spark, webtext, gaz, root)
    for f in pathlib.Path(root, "triples").rglob("*.parquet"):
        f.write_bytes(b"not a parquet file")
    more = webtext.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 10 DAYS")
    )
    with pytest.raises(Exception):
        run_incremental(spark, more, gaz, root)
    # the lineage store must NOT have recorded the new days as done
    done = sorted(
        r.pday
        for r in CheckpointStore(spark, root).completed_partitions().collect()
    )
    assert len(done) == 3, done  # only the original run's days


def test_backfill_matches_loop_with_curation(spark, tmp_path):
    """Round 6/7: the single-job backfill must stay byte-identical to
    per-day run_pipeline with the curation gates ON — the write path
    re-groups canonical dedup per (pday,), runs blocklist AND the
    host-authority gate pre-fold (ADVICE r6 #1: the gate on a folded url
    silently no-ops), and scopes line/span dedup frequencies per pday
    (ADVICE r6 #2: a line shared only ACROSS days must survive in the
    backfill exactly as it does in a one-day run)."""
    from esmarc_spark.pipeline.run import GOPHER_REPETITION_THRESHOLDS

    base = synth_webtext(spark, n_docs=150, partitions=4, dup_fraction=0).withColumn(
        "_i", F.regexp_extract("url", r"([0-9]+)$", 1).cast("int")
    )
    i = F.col("_i")
    rep = F.concat_ws("\n", *([F.col("text")] + [F.lit("repeat me please now")] * 20))
    # a line occurring in 3 docs TOTAL (i%50==7): its per-day count is
    # 1-2, so the loop keeps it — a naive whole-backfill count of 3
    # would strip it (min_docs=2); likewise a 15-token span in 3 docs
    cross_day_line = F.lit("\nshared across days boilerplate banner line")
    cross_day_span = F.lit(
        " alpha beta gamma delta epsilon zeta eta theta iota kappa"
        " lambda mu nu xi omicron"
    )
    wt = (
        base.withColumn(
            "url",
            F.when(
                i % 10 == 0,
                F.concat(F.lit("https://sub.spam.example/page/"), i.cast("string")),
            )
            .when(
                i % 10 == 5,
                F.concat(F.lit("https://lowrank.example/page/"), i.cast("string")),
            )
            .when(
                # canonical-dup variants: tracking param + explicit :443
                i % 9 == 1,
                F.concat(F.col("url"), F.lit("?utm_source=feed")),
            )
            .otherwise(F.col("url")),
        )
        .withColumn(
            "text",
            F.when((i % 7 == 3) & F.col("text").isNotNull(), rep).otherwise(
                F.col("text")
            ),
        )
        .withColumn(
            "text",
            F.when(
                (i % 5 == 1) & F.col("text").isNotNull(),
                F.concat(F.col("text"), F.lit(" mail bob@example.com")),
            ).otherwise(F.col("text")),
        )
        .withColumn(
            "text",
            F.when(
                (i % 50 == 7) & F.col("text").isNotNull(),
                F.concat(F.col("text"), cross_day_line),
            ).otherwise(F.col("text")),
        )
        .withColumn(
            "text",
            F.when(
                (i % 50 == 11) & F.col("text").isNotNull(),
                F.concat(F.col("text"), cross_day_span),
            ).otherwise(F.col("text")),
        )
        .withColumn(
            "warc_ts",
            F.timestamp_seconds(
                F.lit(1700000000) + F.pmod(F.xxhash64("url"), F.lit(3)) * 86400
            ),
        )
        # meta-robots noindex pages on a distinctive host (html rows only
        # — the directive lives in the html)
        .withColumn(
            "url",
            F.when(
                (i % 25 == 2) & F.col("html").isNotNull(),
                F.concat(
                    F.lit("https://noindexed.example/page/"), i.cast("string")
                ),
            ).otherwise(F.col("url")),
        )
        .withColumn(
            "html",
            F.when(
                (i % 25 == 2) & F.col("html").isNotNull(),
                F.concat(
                    F.encode(
                        F.lit('<meta name="robots" content="noindex">'),
                        "UTF-8",
                    ),
                    F.col("html"),
                ),
            ).otherwise(F.col("html")),
        )
        # robots-governed host: odd residues take a disallowed path,
        # even residues an allowed one (round 7: stage-1a gate)
        .withColumn(
            "url",
            F.when(
                i % 25 == 12,
                F.concat(
                    F.lit("https://robotic.example"),
                    F.when(i % 2 == 0, F.lit("/private/page/")).otherwise(
                        F.lit("/open/page/")
                    ),
                    i.cast("string"),
                ),
            ).otherwise(F.col("url")),
        )
    )
    # print-view duplicates: same day, 1s older, declaring the original
    # as rel=canonical (skip utm rows — their original's url is
    # rewritten by canonical-url dedup, so the declared key would miss)
    printed = (
        wt.where(
            (F.col("_i") % 30 == 4)
            & (F.col("_i") % 9 != 1)
            & F.col("html").isNotNull()
        )
        .withColumn(
            "html",
            F.concat(
                F.encode(
                    F.concat(
                        F.lit('<link rel="canonical" href="'),
                        F.col("url"),
                        F.lit('">'),
                    ),
                    "UTF-8",
                ),
                F.col("html"),
            ),
        )
        .withColumn("url", F.concat(F.col("url"), F.lit("/print")))
        .withColumn("warc_ts", F.col("warc_ts") - F.expr("INTERVAL 1 SECOND"))
    )
    wt = wt.unionByName(printed).drop("_i").cache()
    gaz = gazetteer_df(spark)
    blocked = spark.createDataFrame([("spam.example",)], "host string")
    ranks = spark.createDataFrame(
        [("lowrank.example", 10), ("example.org", 5000)],
        "host string, rank_scaled long",
    )
    robots = spark.createDataFrame(
        [("robotic.example", "User-agent: *\nDisallow: /private")],
        "host string, robots_txt string",
    )
    curation = dict(
        canonical_url_dedup=True,
        drop_noindex=True,
        rel_canonical_dedup=True,
        host_blocklist=blocked,
        robots=robots,
        host_ranks=ranks,
        min_rank_scaled=100,
        repetition_thresholds=GOPHER_REPETITION_THRESHOLDS,
        dedup_lines_min_docs=2,
        dedup_spans_k=13,
        pii_scrub=True,
    )

    ref, ref_counts = _per_day_reference(wt, gaz, **curation)
    batch_root = str(tmp_path / "batch")
    run_incremental(spark, wt, gaz, batch_root, curation=curation)
    triples = _read_triples(spark, batch_root)
    assert triples == ref
    assert _lineage_counts(spark, batch_root) == ref_counts
    assert triples and not any(
        "spam.example" in subj for subj, _, _, _ in triples
    )
    # the host-authority gate actually fired
    assert not any("lowrank.example" in subj for subj, _, _, _ in triples)
    # round 7: noindex pages dropped; print views collapsed onto their
    # declared canonical (the 1s-younger original wins max_by)
    assert not any("noindexed.example" in subj for subj, _, _, _ in triples)
    assert not any("/print" in subj for subj, _, _, _ in triples)
    # round 7: robots stage 1a fired — disallowed paths gone, the
    # allowed path on the same host untouched
    assert not any(
        "robotic.example/private" in subj for subj, _, _, _ in triples
    )
    assert any(
        "robotic.example/open" in subj for subj, _, _, _ in triples
    )


def _corpus_dedup_inputs(spark):
    """3 days of webtext where day 1 re-ingests copies of day 0's pages
    under '-copy' urls (recrawl/syndication) — the corpus-dedup hook
    must drop every copy while day 0's originals keep their triples."""
    base = synth_webtext(spark, n_docs=90, partitions=3, dup_fraction=0).withColumn(
        "_i", F.regexp_extract("url", r"([0-9]+)$", 1).cast("int")
    )
    # text-carrying rows only, each with a 12-token unique tail: the
    # synthetic filler pool is small enough that ORGANIC cross-day
    # near-dups appear otherwise — the hook would (correctly) drop them
    # and break the daily==plain-originals equality this test pins
    tail = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(12)),
            lambda j: F.concat(F.lit("u"), F.col("_i"), F.lit("x"), j),
        ),
    )
    wt = (
        base.where(F.col("text").isNotNull())
        .withColumn("text", F.concat(F.col("text"), F.lit(" "), tail))
        .withColumn(
            "warc_ts",
            F.timestamp_seconds(
                F.lit(1700000000) + F.pmod(F.col("_i"), F.lit(3)) * 86400
            ),
        )
    )
    copies = (
        wt.where(F.col("_i") % 3 == 0)
        .withColumn("url", F.concat(F.col("url"), F.lit("-copy")))
        .withColumn("warc_ts", F.timestamp_seconds(F.lit(1700000000 + 86400)))
    )
    return wt.unionByName(copies).drop("_i").cache()


def test_run_incremental_corpus_dedup(spark, tmp_path):
    """Round 6 (VERDICT r5 #2 hook): run_incremental(corpus_dedup=...)
    dedups each new day against the persisted signature state; daily
    appends (one dump per day) and one backfill (one dump) stay
    identical; a crash+resume changes nothing."""
    wt = _corpus_dedup_inputs(spark)
    gaz = gazetteer_df(spark)

    def run(root, state, **kw):
        run_incremental(
            spark, wt, gaz, root,
            corpus_dedup={"state_root": state}, **kw,
        )
        return _read_triples(spark, root)

    daily = _append_daily(
        spark, wt, gaz, str(tmp_path / "daily"),
        corpus_dedup={"state_root": str(tmp_path / "s_daily")},
    )
    batch = run(str(tmp_path / "batch"), str(tmp_path / "s_batch"))
    assert daily == batch

    # every '-copy' page is a near-dup of an already-ingested original:
    # no copy may emit triples (without the hook they all do)
    assert daily and not any("-copy" in s for s, _, _, _ in daily)
    plain_root = str(tmp_path / "plain")
    run_incremental(spark, wt, gaz, plain_root)
    assert any("-copy" in s for s, _, _, _ in _read_triples(spark, plain_root))
    # ingesting duplicates with the hook ≡ never ingesting them: the
    # deduped run equals a run over an input that never had the copies
    # (subj triples AND the per-day entity triples they alone supported)
    nocopy_root = str(tmp_path / "nocopy")
    run_incremental(
        spark, wt.where(~F.col("url").contains("-copy")), gaz, nocopy_root,
    )
    assert daily == _read_triples(spark, nocopy_root)

    # crash after day 0, resume: committed dump replays read-only,
    # result identical to the uninterrupted run
    crash_root = str(tmp_path / "crash")
    crash_state = str(tmp_path / "s_crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_incremental(
            spark, wt, gaz, crash_root, fail_after_partitions=1,
            corpus_dedup={"state_root": crash_state},
        )
    resumed = run(crash_root, crash_state)
    assert resumed == daily


def test_corrupt_lineage_table_raises(spark, tmp_path, inputs):
    """An unreadable lineage table is an error, not "nothing done yet":
    a garbage part file under checkpoints/ must fail the run instead of
    silently re-running every day."""
    import pathlib

    webtext, gaz = inputs
    root = tmp_path / "corrupt_lineage"
    (root / "checkpoints").mkdir(parents=True)
    (root / "checkpoints" / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        run_incremental(spark, webtext, gaz, str(root))
    assert not pathlib.Path(root, "triples").exists()


def test_lineage_with_only_temporary_resumes_empty(spark, tmp_path, inputs):
    """A checkpoints/ dir left holding only an aborted append's
    _temporary reads as an empty table: every day runs, once."""
    webtext, gaz = inputs
    root = tmp_path / "temporary_only"
    (root / "checkpoints" / "_temporary" / "0").mkdir(parents=True)
    assert CheckpointStore(spark, str(root)).read().count() == 0
    res = run_incremental(spark, webtext, gaz, str(root))
    assert res["processed"] == _days(webtext)
    assert run_incremental(spark, webtext, gaz, str(root))["processed"] == []
