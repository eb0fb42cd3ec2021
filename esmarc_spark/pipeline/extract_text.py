"""S1 — byte-identical text extraction (html -> text), vectorized.

Contract (BASELINE.json input_hint): for every url the extracted text is
byte-identical across runs and across parallelism levels. Everything here is
a pure function of the html bytes: a deterministic tag-strip + entity decode
+ whitespace normalization implemented over Arrow batches with pandas'
vectorized string kernels — no locale, no hash-order, no per-row Python UDF.

Rows that already carry ``text`` keep it verbatim (the reference never
re-extracts what the source provides); ``html``-only rows get the extracted
form. Output adds ``text_extracted`` provenance.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from esmarc_spark.pipeline.sqltext import sql_ident, sql_lit

_SCRIPT_RE = re.compile(r"(?is)<(script|style|head)\b.*?</\1>")
_TAG_RE = re.compile(r"(?s)<[^>]*>")
_WS_RE = re.compile(r"\s+")

_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
    "&nbsp;": " ",
}


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched html->text — the Python reference implementation the
    JVM expression path is verified byte-identical against."""
    s = html.map(
        lambda b: b.decode("utf-8", errors="replace") if b is not None else None
    )
    s = s.str.replace(_SCRIPT_RE, " ", regex=True)
    s = s.str.replace(_TAG_RE, " ", regex=True)
    for ent, ch in _ENTITIES.items():
        s = s.str.replace(ent, ch, regex=False)
    s = s.str.replace(_WS_RE, " ", regex=True).str.strip()
    return s


def _strip_sql(s: str) -> str:
    """The deterministic tag-strip + entity decode + whitespace collapse
    over already-decoded STRING SQL text ``s`` (the pandas reference's
    regexes; ``(?U)`` makes Java's \\s as unicode-aware as Python's)."""
    s = f"regexp_replace({s}, {sql_lit(_SCRIPT_RE.pattern)}, ' ')"
    s = f"regexp_replace({s}, {sql_lit(_TAG_RE.pattern)}, ' ')"
    for ent, ch in _ENTITIES.items():
        s = f"replace({s}, {sql_lit(ent)}, {sql_lit(ch)})"
    s = f"regexp_replace({s}, {sql_lit('(?U)' + _WS_RE.pattern)}, ' ')"
    return f"trim({s})"


def _utf8_sql(html: str) -> str:
    """Binary html -> string, each invalid UTF-8 sequence -> U+FFFD."""
    return f"make_valid_utf8(CAST({html} AS STRING))"


# rows S1 fills: no text, but html to extract it from
_NEEDS_TEXT_SQL = "text IS NULL AND html IS NOT NULL"


def extract_text_expr(html: str) -> F.Column:
    """Pure-JVM html->text: the same deterministic strip as the pandas UDF,
    as a regexp_replace chain inside whole-stage codegen — NO Python in the
    hot path (input_hint). ``(?U)`` makes Java's \\s unicode-aware to match
    Python's semantics; byte-identity of the two paths is enforced by
    tests/test_webtext_pipeline.py::test_extract_paths_byte_identical.

    Non-UTF-8 bytes (real crawls: Latin-1/Shift-JIS pages, binary
    payloads) must not abort the job under ANSI mode the way
    ``decode(html,'UTF-8')`` does: ``cast(binary as string)`` wraps the
    bytes unvalidated and ``make_valid_utf8`` replaces each invalid
    sequence with U+FFFD — verified byte-identical to Python's
    ``errors="replace"`` incl. truncated multi-byte sequences
    (tests/test_webtext_pipeline.py::test_extract_non_utf8_lossy).
    ``html`` is the binary column's SQL text."""
    return F.expr(_strip_sql(_utf8_sql(html)))


# --- charset-aware decode (round 5 — VERDICT r4 #6) -------------------------
#
# Supported charsets (everything else falls back to the UTF-8
# replacement decode, documented):
#   utf-8 family ........ make_valid_utf8 (the byte-identical default)
#   ISO-8859-1 family ... decode(html,'ISO-8859-1') — total (every byte
#                         sequence is valid Latin-1), pure JVM
#   windows-1252 family . Latin-1 decode + translate of the 27 printable
#                         0x80-0x9F remappings. Spark 4's ANSI decode()
#                         whitelists only a handful of charsets (and the
#                         legacy javaCharsets escape hatch ABORTS on
#                         cp1252's five undefined bytes), so the
#                         translate form is both total and exact: it
#                         matches Python bytes.decode('cp1252') wherever
#                         that succeeds, and maps the undefined bytes
#                         0x81/8D/8F/90/9D to their C1 controls — the
#                         WHATWG encoding spec's behavior for browsers.
#   us-ascii ............ subset of all of the above; default path.

_LATIN1_ALIASES = ("iso-8859-1", "iso8859-1", "iso_8859-1", "latin-1", "latin1", "l1")
_CP1252_ALIASES = ("windows-1252", "cp1252", "x-cp1252", "cp-1252", "win-1252")
_CP1252_DEFINED = [b for b in range(0x80, 0xA0) if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)]
_CP1252_FROM = "".join(chr(b) for b in _CP1252_DEFINED)
_CP1252_TO = bytes(_CP1252_DEFINED).decode("cp1252")

# HTML5's meta-charset sniff, reduced to one regex over the (unvalidated
# byte-preserving) cast of the first chunk: ASCII bytes survive the cast
# verbatim, which is all <meta charset=...> needs
_META_CHARSET_RE = r"""(?i)<meta[^>]*charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)"""


def _in_sql(values) -> str:
    return "IN (" + ", ".join(sql_lit(v) for v in values) + ")"


def charset_sniff_sql(html: str, charset_col: str | None = None) -> str:
    """Best-effort charset for a page: the HTTP header's token when the
    reader captured one (``read_warc(with_charset=True)``), else the
    html meta tag within the first 4096 chars (HTML5 prescan), else
    null. Arguments and result are SQL text."""
    meta = (
        f"lower(regexp_extract(substring(CAST({html} AS STRING), 1, 4096), "
        f"{sql_lit(_META_CHARSET_RE)}, 1))"
    )
    sniff = f"nullif({meta}, '')"
    if charset_col is not None:
        sniff = f"coalesce(nullif(lower({charset_col}), ''), {sniff})"
    return sniff


def decode_html_sql(html: str, charset: str) -> str:
    """html bytes -> string under the sniffed charset (table above);
    unknown/absent charsets take the byte-identical UTF-8 default."""
    latin1 = f"decode({html}, 'ISO-8859-1')"
    cp1252 = f"translate({latin1}, {sql_lit(_CP1252_FROM)}, {sql_lit(_CP1252_TO)})"
    return (
        f"CASE WHEN {charset} {_in_sql(_CP1252_ALIASES)} THEN {cp1252} "
        f"WHEN {charset} {_in_sql(_LATIN1_ALIASES)} THEN {latin1} "
        f"ELSE {_utf8_sql(html)} END"
    )


# Charsets the JVM expression path cannot decode totally (Spark 4's
# decode() whitelist excludes them, and the legacy javaCharsets escape
# hatch ABORTS on any invalid byte — unusable on crawl data), but
# Python's codecs handle with errors="replace". A real crawl carries a
# few percent of these, dominated by the CJK encodings.
PY_LEGACY_CHARSETS = frozenset(
    {
        "shift_jis", "shift-jis", "sjis", "x-sjis", "ms932", "cp932",
        "euc-jp", "eucjp", "iso-2022-jp",
        "gbk", "gb2312", "gb18030", "big5", "big5-hkscs",
        "euc-kr", "euckr", "ks_c_5601-1987",
        "windows-1250", "windows-1251", "windows-1253", "windows-1254",
        "windows-1255", "windows-1256", "windows-1257", "windows-1258",
        "koi8-r", "koi8-u", "tis-620",
        "iso-8859-2", "iso-8859-3", "iso-8859-4", "iso-8859-5",
        "iso-8859-6", "iso-8859-7", "iso-8859-8", "iso-8859-9",
        "iso-8859-13", "iso-8859-15", "iso-8859-16",
    }
)


def extract_legacy_text(
    webtext: DataFrame,
    charsets: frozenset = PY_LEGACY_CHARSETS,
    main_content: bool = False,
) -> DataFrame:
    """Opt-in companion to ``charset_aware=True`` for charsets the JVM
    path cannot decode (Shift-JIS, GBK, EUC-KR, the non-Latin
    windows-125x family, ...): rows whose charset — the reader's
    ``charset`` column when present, else the meta sniff — names one get
    ``text`` filled by an Arrow-batched Python DECODE (errors="replace")
    followed by the SAME Catalyst extraction expression the JVM path
    runs, so a following ``with_extracted_text`` leaves them verbatim.

    Python does only what the JVM cannot (the charset decode); the
    strip/boilerplate stage is the shared expression, so both
    populations get identical extraction semantics by construction.
    ``main_content=True`` mirrors ``with_extracted_text``'s flag —
    pass the same value to both or the corpus mixes semantics (legacy
    rows keeping nav/footer boilerplate that JVM-decoded rows drop).

    Split + union, NOT a UDF inside a conditional: a pandas UDF under a
    ``when()`` is still evaluated for every row (ArrowEvalPython runs
    before the branch), which would put per-row Python on the whole
    corpus. Here only the legacy-charset minority (a few percent of a
    real crawl) crosses into Python; the hot path stays pure JVM.
    Run BEFORE with_extracted_text; compose order with dedups is free
    (both preserve arbitrary columns)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    charset_col = "charset" if "charset" in webtext.columns else None
    sniffed = charset_sniff_sql("html", charset_col)
    # null sniff -> null IN -> null mask; coalesce so every row lands
    # in exactly one branch of the split
    mask = F.expr(
        f"coalesce(html IS NOT NULL AND {sniffed} {_in_sql(sorted(charsets))}, false)"
    )

    @pandas_udf(StringType())
    def dec(html: pd.Series, charset: pd.Series) -> pd.Series:
        def one(b, c):
            if b is None:
                return None
            try:
                return bytes(b).decode(c, errors="replace")
            except (LookupError, TypeError):
                return bytes(b).decode("utf-8", errors="replace")

        return pd.Series(
            [one(b, c) for b, c in zip(html, charset)], dtype="object"
        )

    if main_content:
        from esmarc_spark.ops.boilerplate import extract_main_text

        extractor = extract_main_text(F.col("__decoded"))
    else:
        extractor = F.expr(_strip_sql("__decoded"))
    legacy = (
        webtext.where(mask)
        .withColumn("__decoded", dec(F.col("html"), F.expr(sniffed)))
        .withColumn("text", F.coalesce(F.col("text"), extractor))
        .drop("__decoded")
    )
    return webtext.where(~mask).unionByName(legacy)


def with_extracted_text(
    webtext: DataFrame,
    jvm: bool = True,
    main_content: bool = False,
    charset_aware: bool = False,
) -> DataFrame:
    """S1: fill null ``text`` from ``html``; stamp extraction provenance.

    jvm=True (default) uses the codegen expression path; jvm=False the
    Arrow/pandas reference path.

    main_content=True swaps the full-page flatten for block-level
    boilerplate removal (ops.boilerplate.extract_main_text — nav/footer
    blocks dropped by link density). The DEFAULT stays the byte-identical
    full-page contract, which mention offsets and the parity gates
    depend on; opt in per pipeline for training-data curation.

    charset_aware=True decodes legacy-encoded pages correctly instead of
    replacement-mangling them: the charset comes from the reader's
    ``charset`` column when present (read_warc with_charset=True), else
    an HTML5-prescan meta sniff; Latin-1 and CP1252 decode exactly
    (decode_html_sql's table), everything else keeps the UTF-8 default.
    Pure codegen either way — still no Python on the hot path.
    """
    if charset_aware:
        charset = charset_sniff_sql(
            "html", "charset" if "charset" in webtext.columns else None
        )
        decoded = decode_html_sql("html", charset)
    else:
        decoded = _utf8_sql("html")
    if main_content:
        from esmarc_spark.ops.boilerplate import extract_main_text

        extractor = extract_main_text(F.expr(decoded))
    elif jvm:
        extractor = F.expr(_strip_sql(decoded))
    else:
        extractor = extract_text_udf(F.col("html"))
    extracted = F.when(F.expr(_NEEDS_TEXT_SQL), extractor)
    return webtext.withColumn(
        "text_extracted", F.expr(_NEEDS_TEXT_SQL)
    ).withColumn("text", F.coalesce(F.col("text"), extracted))


# maximize (warc_ts, has_text, ~hash) == orderBy(ts desc, null last, hash
# asc); bitwise NOT is the overflow-safe monotone negation
_DEDUP_RANK_SQL = (
    "struct(warc_ts, CAST(text IS NOT NULL AS INT), "
    "~coalesce(xxhash64(text), 0), ~coalesce(xxhash64(html), 0))"
)


def dedup_by_url(webtext: DataFrame) -> DataFrame:
    """Exactly-one-row-per-url: keep the newest crawl (max warc_ts), ties
    broken deterministically by preferring rows that carry text, then by
    text hash.

    Implemented as max_by over a composite rank struct rather than a
    row_number window: the groupBy gets a map-side partial aggregate (each
    input partition reduces to one candidate row per url before the
    shuffle), where a window would shuffle + sort the full corpus. The
    survivor choice is a pure function of row content — deterministic under
    any partitioning (dropDuplicates would keep an arbitrary first row and
    break the byte-identity contract).
    """
    cols = [sql_ident(c) for c in webtext.columns if c != "url"]
    picked = webtext.groupBy("url").agg(
        F.expr(f"max_by(struct({', '.join(cols)}), {_DEDUP_RANK_SQL}) AS _row")
    )
    return picked.selectExpr("url", *[f"_row.{c} AS {c}" for c in cols])
