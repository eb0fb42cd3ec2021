"""S0 ingest connector: WARC (Web ARChive, ISO 28500) -> the webtext
table shape (url, warc_ts, html, text, lang).

Common-Crawl publishes its corpus as .warc.gz files; the pipeline's
input_hint assumes the pages already sit in a table, and this connector
is the standard way they get there.

Byte-exact framing (round 4 — replaces the round-3 lineSep/text parse,
which decoded whole records as UTF-8 and so mangled non-UTF-8 payloads,
mis-split on body-embedded version lines, and ignored Content-Length):

* file discovery via ``format("binaryFile")`` with the content column
  pruned away — only paths reach the parser;
* one Arrow-batched ``mapInArrow`` stage opens each member and streams
  it record by record: header block up to the first CRLFCRLF, payload
  framed by ``Content-Length`` exactly as ISO 28500 mandates. Payload
  bytes are NEVER round-tripped through a string, so Latin-1/Shift-JIS/
  gzip-encoded/binary bodies arrive verbatim, and a body containing the
  literal "WARC/1.0" cannot mis-frame the stream;
* ``WARC/0.17``..``WARC/1.1`` version lines are all accepted;
* malformed records (bad version line, missing/garbled Content-Length,
  truncated payload, response payload with no HTTP blank line) never
  abort the job: the parser resyncs to the next version line and either
  drops them (default) or routes them to quarantine rows
  (``errors="quarantine"``), mirroring the mapping engine's
  ``__error__`` channel (mapping/engine.py).

Round 5: object-store paths stream too. Listing goes through the
pyarrow FileSystem API driver-side (paths only — no binaryFile content
rows), and each task opens its member with ``open_input_stream`` /
``FileSystem.from_uri``, so a remote ~1 GB gzip member flows through the
same bounded-memory parser as a local one. An explicit ``filesystem=``
(any picklable pyarrow FileSystem) exercises the identical code path in
tests via SubTreeFileSystem.

Scale notes: a gzip member is not splittable, so one .warc.gz = one
input partition — exactly how Common Crawl is laid out (tens of
thousands of ~1 GB files per crawl; parallelism comes from the file
count, as it does for every WARC consumer, incl. warcio/FastWARC).
The per-file Python cost is byte framing (memchr-level scans), which is
inherently procedural and cannot be expressed as Catalyst expressions
without a lossy text decode; records flow out in bounded Arrow batches,
so a 1 GB member never materializes in memory. Common Crawl's
record-per-gzip-member concatenation is handled transparently by the
multi-member gzip reader.
"""

from __future__ import annotations

import io
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

_VERSION_PREFIX = b"WARC/"
_CRLF2 = b"\r\n\r\n"
# records per emitted Arrow batch — bounds parser memory per task
_BATCH_RECORDS = 1024
# a header block larger than this is garbage, not a header — resync
_MAX_HEADER_BYTES = 1 << 20
# hard cap on a single readline: a newline-free garbage member (e.g. a
# mis-named binary matched by the glob) must never be buffered whole by
# one readline — an over-long "line" comes back chopped and fails the
# version-line check like any other malformed frame (bounded memory
# beats best-effort resync through mid-line version markers)
_MAX_LINE_BYTES = 1 << 20

WEBTEXT_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

# quarantine rows carry the reason in `text` and the offending header
# bytes in `html`, under this sentinel url (analogue of the mapping
# engine's entity="__error__" channel)
QUARANTINE_URL = "__warc_error__"


class _PushbackStream:
    """readline/read over a raw stream with a pushback buffer — the
    resync path re-presents a consumed version line through it. Owns the
    underlying file handle(s)."""

    def __init__(self, raw, owned=()):
        self._raw = raw
        self._owned = owned
        self._pb = b""

    def readline(self) -> bytes:
        if self._pb:
            line, self._pb = self._pb, b""
            if not line.endswith(b"\n") and len(line) < _MAX_LINE_BYTES:
                # partial pushback (e.g. 2 stray separator bytes) — merge
                # with the rest of its line so framing sees whole lines
                line += self._raw.readline(_MAX_LINE_BYTES)
            return line
        return self._raw.readline(_MAX_LINE_BYTES)

    def read(self, n: int) -> bytes:
        if self._pb:
            out, self._pb = self._pb[:n], self._pb[n:]
            if len(out) < n:
                out += self._raw.read(n - len(out))
            return out
        return self._raw.read(n)

    def pushback(self, data: bytes) -> None:
        self._pb = data + self._pb

    def close(self) -> None:
        for f in (self._raw, *self._owned):
            try:
                f.close()
            except Exception:
                pass


def _is_remote(path: str) -> bool:
    return "://" in path and not path.startswith("file:")


# Hadoop spells object-store schemes its own way (s3a:// from
# spark.read/readStream listings, legacy s3n://); pyarrow's from_uri
# only knows the canonical forms. Alias before resolving so a path that
# came out of a Spark listing opens through the same connector.
_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3"}


def _pa_from_uri(path: str):
    import pyarrow.fs as pafs

    scheme, sep, rest = path.partition("://")
    if sep and scheme in _SCHEME_ALIASES:
        path = f"{_SCHEME_ALIASES[scheme]}://{rest}"
    return pafs.FileSystem.from_uri(path)


def _open_member(
    path: str, content: bytes | None = None, filesystem=None
) -> _PushbackStream:
    """Byte stream for one WARC member — STREAMING in every mode, a
    member is never materialized whole:

    * explicit pyarrow ``filesystem`` (shipped through the parser
      closure — picklable, e.g. S3FileSystem/SubTreeFileSystem): paths
      are fs-relative, opened via ``open_input_stream``;
    * remote URI (``s3://``/``gs://``/``hdfs://``...): resolved per
      member with ``pyarrow.fs.FileSystem.from_uri`` — one client
      construction per ~1 GB member, negligible against the parse;
    * local path / ``file:`` URI: plain ``open``;
    * ``content`` bytes: BytesIO (test/fuzz harness entry).

    gzip detection is pushback-based (no seek — remote streams are
    forward-only); ``compression=None`` keeps pyarrow from transparently
    gunzipping by extension, because Common Crawl members are MULTI-
    member gzip and our own layer handles that concatenation exactly.
    """
    if content is not None:
        raw: io.IOBase = io.BytesIO(bytes(content))
    elif filesystem is not None:
        raw = io.BufferedReader(
            filesystem.open_input_stream(path, compression=None)
        )
    elif _is_remote(path):
        fs, rel = _pa_from_uri(path)
        raw = io.BufferedReader(fs.open_input_stream(rel, compression=None))
    else:
        local = path
        if local.startswith("file:"):
            # binaryFile yields file:/abs or file:///abs URIs
            local = local[5:]
            while local.startswith("//"):
                local = local[1:]
        raw = open(local, "rb")
    inner = _PushbackStream(raw)
    head = inner.read(2)
    inner.pushback(head)
    if head == b"\x1f\x8b":
        import gzip

        return _PushbackStream(
            gzip.GzipFile(fileobj=inner), owned=(inner, raw)
        )
    return inner


def _read_until_blank(stream) -> tuple[bytes | None, str | None]:
    """(header block bytes without the terminating CRLFCRLF, None), or
    (partial bytes, error name) when the stream ends before a blank line
    ("truncated header block") or the block exceeds the sanity bound
    ("oversized header block" — the caller resyncs past the garbage
    instead of dropping the rest of the member)."""
    chunks = []
    size = 0
    while True:
        line = stream.readline()
        if not line:
            return b"".join(chunks), "truncated header block"
        if line in (b"\r\n", b"\n"):
            return b"".join(chunks), None
        chunks.append(line)
        size += len(line)
        if size > _MAX_HEADER_BYTES:
            return chunks[-1], "oversized header block"


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        k, sep, v = line.partition(b":")
        if sep:
            # header names/values are ASCII per spec; latin-1 is the
            # byte-preserving decode for the off-spec rest
            headers[k.strip().decode("latin-1").lower()] = v.strip().decode(
                "latin-1"
            )
    return headers


def _parse_warc_date(raw: str | None):
    if not raw:
        return None
    from datetime import datetime

    try:
        return datetime.fromisoformat(raw.replace("Z", "+00:00")).replace(
            tzinfo=None
        )
    except ValueError:
        return None


def _resync(stream: _PushbackStream) -> bool:
    """Scan forward to the next WARC version line; True if one was found.
    The line is pushed back so the caller's next readline re-reads it."""
    while True:
        line = stream.readline()
        if not line:
            return False
        if line.startswith(_VERSION_PREFIX):
            stream.pushback(line)
            return True


def _iter_records(
    stream: _PushbackStream,
) -> Iterator[tuple[dict[str, str] | None, bytes, str]]:
    """(headers, payload, error) per record; headers is None for a
    malformed frame, with `error` naming the defect and `payload`
    carrying the offending header bytes (bounded)."""
    while True:
        version = stream.readline()
        if not version:
            return
        if version in (b"\r\n", b"\n"):
            continue  # stray separator noise between records
        if not version.startswith(_VERSION_PREFIX):
            # quarantine the bad frame whether or not resync finds a next
            # record — a garbage tail at EOF must not vanish silently
            ok = _resync(stream)
            yield None, version[:4096], "bad version line"
            if not ok:
                return
            continue
        block, block_err = _read_until_blank(stream)
        if block_err == "truncated header block":
            yield None, version[:4096], block_err
            return
        if block_err == "oversized header block":
            # one unterminated/garbage header must not drop the rest of
            # the member: skip forward to the next version line
            ok = _resync(stream)
            yield None, (block or version)[:4096], block_err
            if not ok:
                return
            continue
        headers = _parse_headers(block)
        try:
            length = int(headers["content-length"])
            if length < 0:
                raise ValueError
        except (KeyError, ValueError):
            ok = _resync(stream)
            yield None, block[:4096], "missing/invalid Content-Length"
            if not ok:
                return
            continue
        payload = stream.read(length)
        if len(payload) < length:
            yield None, block[:4096], "truncated payload"
            return
        # consume the record separator; tolerate a missing/short one by
        # pushing the bytes back (the version-line check re-anchors)
        sep = stream.read(2)
        if sep not in (b"", b"\r\n", b"\n"):
            stream.pushback(sep)
        elif sep == b"\r\n":
            sep2 = stream.read(2)
            if sep2 not in (b"", b"\r\n"):
                stream.pushback(sep2)
        yield headers, payload, ""


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer encoding; raises ValueError on a
    malformed chunk frame."""
    out = []
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("chunk size line missing")
        size = int(body[pos:eol].split(b";")[0], 16)  # ignore extensions
        pos = eol + 2
        if size == 0:
            return b"".join(out)
        out.append(body[pos : pos + size])
        pos += size + 2  # chunk data + trailing CRLF


def _http_decode(http_headers: bytes, body: bytes) -> bytes:
    """Undo transfer/content encodings per the HTTP header block; on any
    decode failure the raw bytes are returned (never abort the record)."""
    import zlib

    h = _parse_headers(http_headers)
    try:
        if "chunked" in h.get("transfer-encoding", "").lower():
            body = _dechunk(body)
        enc = h.get("content-encoding", "").lower().strip()
        if enc == "gzip":
            body = zlib.decompress(body, wbits=31)
        elif enc == "deflate":
            try:
                body = zlib.decompress(body)
            except zlib.error:
                body = zlib.decompress(body, wbits=-15)  # raw-deflate servers
        elif enc == "br":
            try:  # optional backend, like the Pillow/ffmpeg media codecs
                import brotli  # type: ignore[import-not-found]

                body = brotli.decompress(body)
            except Exception:
                pass  # no decoder available — keep raw bytes
        elif enc == "zstd":
            try:
                import zstandard  # type: ignore[import-not-found]

                body = zstandard.ZstdDecompressor().decompress(body)
            except Exception:
                pass
    except (ValueError, zlib.error):
        pass
    return body


def _http_status(payload: bytes, idx: int) -> int | None:
    """Status code from the HTTP status line ("HTTP/1.1 200 OK"), or
    None when the payload does not start with one."""
    line = payload[: min(idx, 64)]
    if not line.startswith(b"HTTP/"):
        return None
    parts = line.split(None, 2)
    try:
        return int(parts[1])
    except (IndexError, ValueError):
        return None


def _header_charset(http_headers: bytes) -> str | None:
    """charset token of the HTTP Content-Type header, lowercased, or
    None ("Content-Type: text/html; charset=ISO-8859-1" -> "iso-8859-1")."""
    ct = _parse_headers(http_headers).get("content-type", "")
    _, sep, rest = ct.lower().partition("charset=")
    if not sep:
        return None
    token = rest.split(";")[0].strip().strip("\"'").strip()
    return token or None


def _record_rows(
    stream,
    errors: str,
    decode_http: bool,
    keep_status=None,
    with_charset: bool = False,
) -> Iterator[tuple]:
    """Rows are (url, warc_ts, html, text, lang[, charset]) — the
    charset element is appended only when ``with_charset`` is on."""
    tail = (None,) if with_charset else ()
    for headers, payload, err in _iter_records(stream):
        if headers is None:
            if errors == "quarantine":
                yield (QUARANTINE_URL, None, payload, err, None) + tail
            continue
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri", "")
        if not url:
            continue
        # response payload is an HTTP message: body starts after ITS
        # header block; Content-Length has already framed the payload,
        # so a body containing CRLFCRLF (or "WARC/1.0") stays intact
        idx = payload.find(_CRLF2)
        if idx < 0:
            if errors == "quarantine":
                yield (
                    QUARANTINE_URL,
                    None,
                    payload[:4096],
                    "response payload without HTTP blank line",
                    None,
                ) + tail
            continue
        if keep_status is not None:
            status = _http_status(payload, idx)
            if status not in keep_status:
                continue
        body = payload[idx + len(_CRLF2) :]
        if decode_http:
            body = _http_decode(payload[:idx], body)
        row = (
            url,
            _parse_warc_date(headers.get("warc-date")),
            body,
            None,
            None,
        )
        if with_charset:
            row += (_header_charset(payload[:idx]),)
        yield row


def _glob_regex(pattern: str):
    """Compile a Hadoop-style glob to an anchored regex.

    Matches the semantics Spark's local path (Hadoop ``globStatus``)
    applies, so the same pattern selects the same files on the local
    and the explicit-filesystem/remote paths: ``*`` and ``?`` match
    within ONE path segment (never across ``/``), ``[abc]``/``[a-c]``/
    ``[^a]`` character classes, ``{a,b}`` alternation (nestable), and
    ``\\`` escapes the next character. Plain fnmatch here was wrong —
    its ``*`` crosses ``/`` so ``prefix/*.warc.gz`` also ingested
    nested ``prefix/a/b.warc.gz``, and ``{a,b}`` was unsupported."""
    import re

    out, i, n = [], 0, len(pattern)
    in_class, depth = False, 0
    while i < n:
        c = pattern[i]
        if in_class:
            if c == "\\" and i + 1 < n:
                out.append("\\" + re.escape(pattern[i + 1]))
                i += 2
                continue
            if c == "]":
                in_class = False
                out.append("]")
            else:
                out.append(c if c != "^" or pattern[i - 1] == "[" else "\\^")
            i += 1
            continue
        if c == "\\" and i + 1 < n:
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if c == "*":
            out.append("[^/]*")
        elif c == "?":
            out.append("[^/]")
        elif c == "[":
            in_class = True
            out.append("[")
            if i + 1 < n and pattern[i + 1] in "^!":
                out.append("^")
                i += 1
        elif c == "{":
            depth += 1
            out.append("(?:")
        elif c == "}" and depth:
            depth -= 1
            out.append(")")
        elif c == "," and depth:
            out.append("|")
        else:
            out.append(re.escape(c))
        i += 1
    return re.compile("".join(out) + r"\Z")


def _list_members(fs, path: str) -> list[str]:
    """File listing through the pyarrow FileSystem API (driver-side):
    ``path`` may be a file, a directory (recursive — Common Crawl lays
    members out in nested prefixes), or contain a glob in its final
    segments (matched with Hadoop glob semantics via ``_glob_regex``,
    mirroring the local/Spark path — object stores have no server-side
    glob)."""
    import pyarrow.fs as pafs

    wild = min(
        (i for i in (path.find(c) for c in "*?[{") if i >= 0), default=-1
    )
    if wild < 0:
        info = fs.get_file_info(path)
        if info.type == pafs.FileType.File:
            return [path]
        base, pattern = path.rstrip("/"), None
    else:
        base, pattern = path[:wild].rpartition("/")[0], _glob_regex(path)
    sel = pafs.FileSelector(base, recursive=True, allow_not_found=False)
    out = [
        i.path
        for i in fs.get_file_info(sel)
        if i.type == pafs.FileType.File
        and (pattern is None or pattern.match(i.path))
    ]
    return sorted(out)


def _arrow_parser(
    errors: str,
    decode_http: bool,
    keep_status=None,
    filesystem=None,
    with_charset: bool = False,
):
    """mapInArrow closure shared by the batch and streaming readers.

    mapInArrow, not mapInPandas: the record tuples become Arrow arrays
    directly, skipping the pandas object-Series round-trip (measured
    ~1.4x on ingest throughput — the html BYTES dominate the batch)."""
    import pyarrow as pa

    fields = [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
    if with_charset:
        fields.append(pa.field("charset", pa.string()))
    arrow_schema = pa.schema(fields)

    def parse(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        def flush(rows):
            return pa.RecordBatch.from_arrays(
                [
                    pa.array([r[i] for r in rows], type=f.type)
                    for i, f in enumerate(arrow_schema)
                ],
                schema=arrow_schema,
            )

        for rb in batches:
            paths = rb.column("path").to_pylist()
            contents = (
                rb.column("content").to_pylist()
                if "content" in rb.schema.names
                else [None] * len(paths)
            )
            for p, content in zip(paths, contents):
                stream = _open_member(p, content, filesystem)
                try:
                    rows = []
                    for row in _record_rows(
                        stream, errors, decode_http, keep_status, with_charset
                    ):
                        rows.append(row)
                        if len(rows) >= _BATCH_RECORDS:
                            yield flush(rows)
                            rows = []
                    if rows:
                        yield flush(rows)
                finally:
                    stream.close()

    return parse


def read_warc(
    spark: SparkSession,
    path: str,
    errors: str = "skip",
    decode_http: bool = False,
    keep_status: tuple | None = None,
    filesystem=None,
    with_charset: bool = False,
) -> DataFrame:
    """Read WARC file(s) into (url, warc_ts, html, text, lang).

    with_charset=True appends a ``charset`` column — the charset token
    of each response's HTTP Content-Type header (lowercased; null when
    the header names none). Feed it to ``with_extracted_text(...,
    charset_aware=True)`` so legacy-encoded pages (Latin-1/CP1252 — a
    real few percent of Common Crawl) decode correctly instead of
    replacement-mangling; ``html`` stays the exact crawled bytes either
    way.

    ``path`` may be local, a ``file:`` URI, or an object-store URI
    (``s3://``/``gs://``/``hdfs://`` — anything
    ``pyarrow.fs.FileSystem.from_uri`` resolves); members STREAM off the
    store in every mode. ``filesystem`` optionally passes an explicit
    picklable pyarrow FileSystem (then ``path`` is fs-relative) — how
    the test suite drives the remote code path without a live bucket,
    and how custom-credentialed S3FileSystem instances are injected.

    ``html`` carries the response body bytes EXACTLY as crawled (framed
    by Content-Length, never string-decoded); ``text``/``lang`` are null
    — S1 extraction and language-ID fill them downstream.

    errors: "skip" drops malformed frames silently; "quarantine" emits
    them as rows with url=QUARANTINE_URL, the reason in ``text`` and the
    offending bytes in ``html`` — one bad record never aborts the job
    either way.

    decode_http=True additionally undoes HTTP transfer/content encodings
    (chunked, gzip, deflate) per record so S1 sees the page markup of
    crawls stored with the raw wire bytes; decode failures keep the raw
    bytes. Default False preserves exact byte fidelity.

    keep_status filters by the HTTP status line — real crawls carry
    301/404/5xx responses; ``keep_status=(200,)`` keeps only fetched
    pages. Default None keeps every response record (a record whose
    payload has no parseable status line is kept only when the filter
    is off).
    """
    if errors not in ("skip", "quarantine"):
        raise ValueError(f"errors must be skip|quarantine, got {errors!r}")
    if filesystem is not None or _is_remote(path):
        # object store / explicit pyarrow filesystem: list the members
        # driver-side through the FileSystem API and ship ONLY path
        # strings — each task then streams its member via
        # open_input_stream, so a ~1 GB gzip member never materializes
        # as a row (the round-4 binaryFile-content fallback did exactly
        # that). The listing is one metadata call, same as Spark's own
        # file index would issue.
        if filesystem is not None:
            members = _list_members(filesystem, path)
        else:
            fs, rel = _pa_from_uri(path)
            scheme, _, rest = path.partition("://")
            netloc = rest.split("/", 1)[0]
            members = [
                f"{scheme}://{p}"
                if p.startswith(netloc)
                else f"{scheme}://{netloc}{p if p.startswith('/') else '/' + p}"
                for p in _list_members(fs, rel)
            ]
        files = spark.createDataFrame(
            [(m,) for m in members], "path string"
        ).repartition(spark.sparkContext.defaultParallelism)
    else:
        # local filesystem: binaryFile discovery, content pruned from the
        # scan. Spark's size-based file packing would bin-pack MANY
        # members into FEW partitions (maxPartitionBytes) and serialize
        # the framing work; spread the path rows across the cluster
        # instead — a shuffle of path strings, not of file bytes
        files = (
            spark.read.format("binaryFile")
            .load(path)
            .select("path")
            .repartition(spark.sparkContext.defaultParallelism)
        )

    schema = WEBTEXT_SCHEMA + (", charset string" if with_charset else "")
    return files.mapInArrow(
        _arrow_parser(errors, decode_http, keep_status, filesystem, with_charset),
        schema=schema,
    )


# the binaryFile source needs its schema stated explicitly in streaming mode
_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_warc_stream(
    spark: SparkSession,
    path: str,
    errors: str = "skip",
    decode_http: bool = False,
    max_files_per_trigger: int | None = None,
    keep_status: tuple | None = None,
    with_charset: bool = False,
) -> DataFrame:
    """STREAMING WARC source: new ``*.warc.gz`` members landing under
    ``path`` become webtext rows — S0 as a Structured Streaming source
    (file-discovery offsets live in the query's checkpoint, so a crawl
    drop-box is processed exactly once across restarts).

    The member parse is the same byte-exact framing as ``read_warc``;
    the file list rides the stream (one member = one task's work), and
    members stream off the filesystem via their path — content stays
    pruned in every mode. A remote drop-box (``s3://``...) needs the
    matching Hadoop connector on the Spark side for the streaming FILE
    DISCOVERY (binaryFile listing + checkpoint offsets live in the JVM);
    the member BYTES are then opened executor-side through
    ``pyarrow.fs.FileSystem.from_uri`` exactly like the batch reader —
    never materialized as rows. Feed it to
    ``pipeline.streaming.run_page_triples_foreach_batch(stream=...)``."""
    if errors not in ("skip", "quarantine"):
        raise ValueError(f"errors must be skip|quarantine, got {errors!r}")
    reader = spark.readStream.format("binaryFile").schema(_BINARYFILE_SCHEMA)
    reader = reader.option("pathGlobFilter", "*.warc*")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = reader.load(path).select("path")
    schema = WEBTEXT_SCHEMA + (", charset string" if with_charset else "")
    return files.mapInArrow(
        _arrow_parser(errors, decode_http, keep_status, None, with_charset),
        schema=schema,
    )


def write_warc_fixture(path: str, records: list[tuple]) -> None:
    """Deterministic WARC writer for tests/fixtures: (url, iso_ts, html
    [, version [, content_type]]) response records plus one non-response
    record that readers must skip. ``html`` may be str (UTF-8-encoded)
    or raw bytes. Writes valid ISO 28500 framing (version line, headers,
    blank line, payload, record separator)."""
    import gzip

    blocks: list[bytes] = []
    for rec in records:
        url, ts, html = rec[0], rec[1], rec[2]
        version = rec[3] if len(rec) > 3 else "1.0"
        ctype = rec[4] if len(rec) > 4 else "text/html"
        body = html if isinstance(html, bytes) else html.encode()
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: "
            + ctype.encode()
            + b"\r\n\r\n"
            + body
        )
        blocks.append(
            (
                f"WARC/{version}\r\n"
                f"WARC-Type: response\r\n"
                f"WARC-Target-URI: {url}\r\n"
                f"WARC-Date: {ts}\r\n"
                f"Content-Length: {len(http)}\r\n"
                f"\r\n"
            ).encode()
            + http
            + b"\r\n\r\n"
        )
    blocks.append(
        b"WARC/1.0\r\n"
        b"WARC-Type: request\r\n"
        b"WARC-Target-URI: https://example.org/skipme\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Length: 18\r\n"
        b"\r\nGET / HTTP/1.1\r\n\r\n"
        b"\r\n\r\n"
    )
    data = b"".join(blocks)
    if path.endswith(".gz"):
        with gzip.open(path, "wb") as f:
            f.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)
