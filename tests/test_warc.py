"""WARC ingest connector: byte-exact framing (Content-Length over raw
bytes), gzip member handling, skip of non-response records, fault
isolation on malformed records, and end-to-end into the KG pipeline."""

from __future__ import annotations

import gzip

import pytest

from esmarc_spark.pipeline.warc import (
    QUARANTINE_URL,
    read_warc,
    write_warc_fixture,
)

RECORDS = [
    (
        "https://example.org/a",
        "2024-05-01T10:00:00Z",
        "<html><body>Die Stadt Dresden liegt an der Elbe.</body></html>",
    ),
    (
        "https://example.org/b",
        "2024-05-01T11:30:00Z",
        "<html><body>Leipzig und Dresden sind in Sachsen.\r\n\r\nZweiter Absatz.</body></html>",
    ),
    ("https://example.org/empty", "2024-05-01T12:00:00Z", ""),
]


@pytest.mark.parametrize("suffix", ["warc", "warc.gz"])
def test_read_warc_parses_response_records(spark, tmp_path, suffix):
    p = str(tmp_path / f"fixture.{suffix}")
    write_warc_fixture(p, RECORDS)
    rows = {r.url: r for r in read_warc(spark, p).collect()}
    # the request record is skipped; all responses (even empty) survive
    assert set(rows) == {u for u, _, _ in RECORDS}
    a = rows["https://example.org/a"]
    assert a.warc_ts.isoformat().startswith("2024-05-01T10:00:00")
    assert bytes(a.html).decode() == RECORDS[0][2]
    assert a.text is None and a.lang is None
    # body-internal blank lines must NOT truncate the payload
    b = bytes(rows["https://example.org/b"].html).decode()
    assert "Zweiter Absatz" in b
    assert bytes(rows["https://example.org/empty"].html) == b""


# --- byte fidelity (VERDICT r3 #1): the crawled bytes, exactly ---------

ADVERSARIAL = [
    # Latin-1 body: 0xE9 is é in Latin-1 and INVALID UTF-8 — a text
    # decode would mangle it to U+FFFD
    ("https://example.org/latin1", "2024-05-02T00:00:00Z", b"caf\xe9 r\xe9sum\xe9"),
    # binary body (PNG magic + raw bytes incl. NUL and 0xFF)
    (
        "https://example.org/binary",
        "2024-05-02T01:00:00Z",
        b"\x89PNG\r\n\x1a\n\x00\x00\xff\xfe" + bytes(range(256)),
    ),
    # body that CONTAINS a WARC version line and a fake header block —
    # Content-Length framing must keep it one record
    (
        "https://example.org/warcbody",
        "2024-05-02T02:00:00Z",
        b"about WARC:\r\nWARC/1.0\r\nWARC-Type: response\r\n\r\nnot a record",
    ),
    # body whose trailing CRLFs are PART of the body (Content-Length
    # says so) — the old blank-line splitter stripped them
    ("https://example.org/trailcrlf", "2024-05-02T03:00:00Z", b"ends with\r\n\r\n"),
    # WARC/1.1 record — must not be dropped
    ("https://example.org/v11", "2024-05-02T04:00:00Z", b"version 1.1 body", "1.1"),
]


@pytest.mark.parametrize("suffix", ["warc", "warc.gz"])
def test_read_warc_byte_exact(spark, tmp_path, suffix):
    p = str(tmp_path / f"adv.{suffix}")
    write_warc_fixture(p, ADVERSARIAL)
    rows = {r.url: bytes(r.html) for r in read_warc(spark, p).collect()}
    assert set(rows) == {r[0] for r in ADVERSARIAL}
    for rec in ADVERSARIAL:
        assert rows[rec[0]] == rec[2], rec[0]


def _raw_record(url, body, version="1.0", extra_headers=b"", length=None):
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    n = len(http) if length is None else length
    return (
        f"WARC/{version}\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: 2024-05-03T00:00:00Z\r\n".encode()
        + extra_headers
        + f"Content-Length: {n}\r\n\r\n".encode()
        + http
        + b"\r\n\r\n"
    )


def test_malformed_records_do_not_abort(spark, tmp_path):
    """One bad record in the member must not kill the job (ADVICE r3
    high): truncated record without blank-line separator, garbage
    Content-Length, malformed WARC-Date — good neighbours all survive."""
    good1 = _raw_record("https://ok.example/1", b"first good body")
    # record whose payload has NO http blank line (truncated response)
    nosep = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://bad.example/nosep\r\n"
        b"WARC-Date: 2024-05-03T00:00:00Z\r\n"
        b"Content-Length: 12\r\n\r\nHTTP/1.1 200\r\n\r\n"
    )
    # garbage Content-Length -> resync to the next version line
    badlen = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://bad.example/len\r\n"
        b"Content-Length: banana\r\n\r\nwhatever\r\n\r\n"
    )
    # malformed WARC-Date -> record kept, warc_ts null (try-semantics)
    baddate = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://ok.example/baddate\r\n"
        b"WARC-Date: not-a-date\r\n"
        b"Content-Length: 24\r\n\r\nHTTP/1.1 200\r\n\r\nts body!\r\n\r\n"
    )
    good2 = _raw_record("https://ok.example/2", b"second good body")
    p = tmp_path / "mixed.warc"
    p.write_bytes(good1 + nosep + badlen + baddate + good2)

    rows = {r.url: r for r in read_warc(spark, str(p)).collect()}
    assert "https://ok.example/1" in rows
    assert "https://ok.example/2" in rows
    assert bytes(rows["https://ok.example/2"].html) == b"second good body"
    bd = rows["https://ok.example/baddate"]
    assert bd.warc_ts is None and bytes(bd.html) == b"ts body!"
    assert "https://bad.example/nosep" not in rows  # skipped, not fatal

    quarantined = [
        r
        for r in read_warc(spark, str(p), errors="quarantine").collect()
        if r.url == QUARANTINE_URL
    ]
    reasons = {r.text for r in quarantined}
    assert any("Content-Length" in t for t in reasons)
    assert any("blank line" in t for t in reasons)


def test_truncated_tail_keeps_earlier_records(spark, tmp_path):
    full = _raw_record("https://ok.example/head", b"head body")
    cut = _raw_record("https://cut.example/tail", b"x" * 1000)[:-600]
    p = tmp_path / "trunc.warc"
    p.write_bytes(full + cut)
    rows = {r.url for r in read_warc(spark, str(p)).collect()}
    assert rows == {"https://ok.example/head"}


def test_multi_member_gzip(spark, tmp_path):
    """Common Crawl writes one gzip member PER RECORD, concatenated —
    the reader must see all of them."""
    p = tmp_path / "cc-style.warc.gz"
    members = []
    for url, body in [
        ("https://m.example/1", b"member one"),
        ("https://m.example/2", b"member two"),
    ]:
        members.append(gzip.compress(_raw_record(url, body)))
    p.write_bytes(b"".join(members))
    rows = {r.url: bytes(r.html) for r in read_warc(spark, str(p)).collect()}
    assert rows == {
        "https://m.example/1": b"member one",
        "https://m.example/2": b"member two",
    }


def test_warc_to_pipeline_end_to_end(spark, tmp_path):
    # WARC -> webtext shape -> S1-S5: the full ingest path produces
    # mention triples from the html payloads
    from esmarc_spark.pipeline.run import run_pipeline
    from esmarc_spark.pipeline.webtext import gazetteer_df

    p = str(tmp_path / "cc.warc.gz")
    write_warc_fixture(p, RECORDS)
    webtext = read_warc(spark, p)
    triples = run_pipeline(webtext, gazetteer_df(spark)).collect()
    mentions = {
        (r.subj, r.obj)
        for r in triples
        if r.pred == "mentions"
    }
    assert any("example.org/a" in s for s, _ in mentions)
    assert any("4012995-0" in o for _, o in mentions)  # Dresden's gazetteer id


def test_single_crlf_record_separator(spark, tmp_path):
    """Off-spec members that separate records with ONE CRLF (or none)
    must still frame correctly — the stray bytes are pushed back and
    merged with the next version line."""
    r1 = _raw_record("https://sep.example/1", b"body one")[:-2]  # one CRLF
    r2 = _raw_record("https://sep.example/2", b"body two")[:-4]  # none
    r3 = _raw_record("https://sep.example/3", b"body three")
    p = tmp_path / "sep.warc"
    p.write_bytes(r1 + r2 + r3)
    rows = {r.url: bytes(r.html) for r in read_warc(spark, str(p)).collect()}
    assert rows == {
        "https://sep.example/1": b"body one",
        "https://sep.example/2": b"body two",
        "https://sep.example/3": b"body three",
    }


def test_decode_http_encodings(spark, tmp_path):
    """Real crawls store the raw wire bytes: gzip/deflate content
    encoding and chunked transfer encoding. decode_http=True undoes
    them; the default keeps byte fidelity."""
    import zlib

    page = b"<html><body>Dresden im gzip.</body></html>"
    gz_body = zlib.compress(page, 9, wbits=31) if hasattr(zlib, "compressobj") else page
    gz_http = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + gz_body
    )
    chunked = b"7\r\n<html>c\r\n8\r\nhunked!\x21\r\n0\r\n\r\n"
    ch_http = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + chunked
    )

    def rec(url, http):
        return (
            f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: 2024-05-04T00:00:00Z\r\n"
            f"Content-Length: {len(http)}\r\n\r\n".encode()
            + http
            + b"\r\n\r\n"
        )

    p = tmp_path / "enc.warc"
    p.write_bytes(rec("https://enc.example/gz", gz_http) + rec("https://enc.example/ch", ch_http))

    raw = {r.url: bytes(r.html) for r in read_warc(spark, str(p)).collect()}
    assert raw["https://enc.example/gz"] == gz_body  # byte-exact default

    dec = {
        r.url: bytes(r.html)
        for r in read_warc(spark, str(p), decode_http=True).collect()
    }
    assert dec["https://enc.example/gz"] == page
    assert dec["https://enc.example/ch"] == b"<html>chunked!!"


def test_warc_incremental_checkpoint_resume(spark, tmp_path):
    """The full Common-Crawl flow: .warc.gz members -> byte-exact S0 ->
    incremental run partitioned by days(warc_ts), crash-resumable. A
    second invocation after new members arrive processes ONLY the new
    day partitions, and the final triples equal a from-scratch run."""
    from pyspark.sql import functions as F

    from esmarc_spark.pipeline.run import run_incremental
    from esmarc_spark.pipeline.webtext import gazetteer_df

    warc_dir = tmp_path / "crawl"
    warc_dir.mkdir()
    day1 = [
        ("https://cc.example/a", "2024-06-01T08:00:00Z", "Dresden liegt an der Elbe."),
        ("https://cc.example/b", "2024-06-01T09:00:00Z", "Leipzig in Sachsen."),
    ]
    day2 = [
        ("https://cc.example/c", "2024-06-02T10:00:00Z", "Berlin und Dresden."),
    ]
    write_warc_fixture(str(warc_dir / "d1.warc.gz"), day1)
    gaz = gazetteer_df(spark)
    out = str(tmp_path / "out")

    res1 = run_incremental(spark, read_warc(spark, str(warc_dir)), gaz, out)
    assert res1["processed"] == ["2024-06-01"]

    # new member lands; rerun processes only the new day
    write_warc_fixture(str(warc_dir / "d2.warc.gz"), day2)
    res2 = run_incremental(spark, read_warc(spark, str(warc_dir)), gaz, out)
    assert res2["processed"] == ["2024-06-02"]

    got = sorted(
        map(tuple, spark.read.parquet(f"{out}/triples").select("subj", "pred", "obj").collect())
    )
    # from-scratch reference over the same members
    fresh = str(tmp_path / "fresh")
    run_incremental(spark, read_warc(spark, str(warc_dir)), gaz, fresh)
    want = sorted(
        map(tuple, spark.read.parquet(f"{fresh}/triples").select("subj", "pred", "obj").collect())
    )
    assert got == want and len(got) > 0
    # lineage records both partitions with doc counts
    from esmarc_spark.pipeline.checkpoint import CheckpointStore

    log = CheckpointStore(spark, out).read()
    lineage = {
        r.pday: r.n_docs
        for r in log.where(F.col("status") == "done").collect()
    }
    assert lineage == {"2024-06-01": 2, "2024-06-02": 1}


def test_warc_streaming_source_exactly_once(spark, tmp_path):
    """S0 as a Structured Streaming source: a crawl drop-box of .warc.gz
    members streams into page triples via the foreachBatch join path;
    members arriving between catch-up runs are processed exactly once
    (file offsets live in the checkpoint), and the final triples equal
    the batch pipeline over all members."""
    from esmarc_spark.pipeline.run import run_pipeline
    from esmarc_spark.pipeline.streaming import (
        read_page_triples,
        run_page_triples_foreach_batch,
    )
    from esmarc_spark.pipeline.warc import read_warc_stream
    from esmarc_spark.pipeline.webtext import gazetteer_df

    drop = tmp_path / "dropbox"
    drop.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    gaz = gazetteer_df(spark)
    write_warc_fixture(
        str(drop / "m1.warc.gz"),
        [("https://st.example/1", "2024-06-01T00:00:00Z", "Dresden an der Elbe.")],
    )

    def catch_up():
        run_page_triples_foreach_batch(
            spark, None, gaz, out, ckpt,
            stream=read_warc_stream(spark, str(drop), max_files_per_trigger=1),
        )

    catch_up()
    first = set(map(tuple, read_page_triples(spark, out).collect()))
    assert any(p == "mentions" for _, p, _ in first)

    write_warc_fixture(
        str(drop / "m2.warc.gz"),
        [("https://st.example/2", "2024-06-02T00:00:00Z", "Leipzig in Sachsen.")],
    )
    catch_up()
    catch_up()  # idempotent: nothing new on the third run

    got = sorted(map(tuple, read_page_triples(spark, out).collect()))
    want = sorted(
        map(
            tuple,
            run_pipeline(
                read_warc(spark, str(drop)), gaz, source_index="webtext-stream"
            ).collect(),
        )
    )
    assert got == want and len(got) > len(first)


def test_keep_status_filter(spark, tmp_path):
    """Real crawls carry redirects and errors; keep_status=(200,) keeps
    only fetched pages, the default keeps everything."""
    def rec(url, status_line, body):
        http = status_line + b"\r\nContent-Type: text/html\r\n\r\n" + body
        return (
            f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: 2024-05-05T00:00:00Z\r\n"
            f"Content-Length: {len(http)}\r\n\r\n".encode()
            + http
            + b"\r\n\r\n"
        )

    p = tmp_path / "status.warc"
    p.write_bytes(
        rec("https://s.example/ok", b"HTTP/1.1 200 OK", b"page body")
        + rec("https://s.example/moved", b"HTTP/1.1 301 Moved Permanently", b"")
        + rec("https://s.example/gone", b"HTTP/1.1 404 Not Found", b"nope")
        + rec("https://s.example/nostatus", b"NOTHTTP junk", b"raw")
    )
    all_rows = {r.url for r in read_warc(spark, str(p)).collect()}
    assert all_rows == {
        "https://s.example/ok",
        "https://s.example/moved",
        "https://s.example/gone",
        "https://s.example/nostatus",
    }
    ok = {r.url for r in read_warc(spark, str(p), keep_status=(200,)).collect()}
    assert ok == {"https://s.example/ok"}


def test_stream_with_charset_column(spark, tmp_path):
    """with_charset rides the STREAMING reader too: the extra column
    reaches a foreachBatch sink with the header's charset token."""
    from esmarc_spark.pipeline.warc import read_warc_stream, write_warc_fixture

    drop = tmp_path / "drop"
    drop.mkdir()
    write_warc_fixture(
        str(drop / "m.warc.gz"),
        [
            ("https://cs.example/a", "2024-06-01T00:00:00Z",
             "<p>caf\xe9</p>".encode("latin-1"), "1.0",
             "text/html; charset=ISO-8859-1"),
            ("https://cs.example/b", "2024-06-01T00:00:00Z", "<p>x</p>"),
        ],
    )
    seen = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            seen[r["url"]] = r["charset"]

    stream = read_warc_stream(spark, str(drop), with_charset=True)
    assert stream.schema.names[-1] == "charset"
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)
    assert seen == {"https://cs.example/a": "iso-8859-1", "https://cs.example/b": None}
