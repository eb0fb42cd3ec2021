"""S2 — gazetteer mention detection over text, in Arrow batches.

Semantics analogue: the reference's get_mentions builds typed mention nodes
from already-structured 6xx fields (/root/reference/esmarc/classifications.py:54-152);
over webtext the structure is gone, so the detector finds gazetteer surface
forms in free text and S3 re-attaches the typed node via a broadcast join.

* ``detect_mentions_ngram`` — the product path: JVM-only token n-grams
  joined against the gazetteer, multi-word surface forms included
  ("Frankfurt am Main"); ``run_pipeline``'s default and the only
  strategy of the day-partitioned and streaming writers.

* ``detect_mentions`` — one compiled alternation regex (longest-match-first,
  word-boundary anchored) applied per Arrow batch in a pandas UDF, for
  exact char-offset / word-boundary semantics. Reached only through
  ``run_pipeline(mentions_mode="regex")``.

* ``detect_mentions_tokenized`` — pure-JVM split/explode/join over
  single-token surface forms; a test oracle (its plan is directly
  expressible in ANSI SQL).

Each returns one row per mention occurrence:
    url, surface_form, position, lang
(position is the char offset for the regex scan, the token index for the
two token paths)
"""

from __future__ import annotations

import functools
import re
import weakref
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esmarc_spark.pipeline.sqltext import sql_lit

MENTIONS_SCHEMA = "url string, surface_form string, position long, lang string"


def _compile_pattern(surface_forms: list[str]) -> re.Pattern:
    # longest first so "Frankfurt am Main" wins over "Frankfurt"
    ordered = sorted(set(surface_forms), key=lambda s: (-len(s), s))
    body = "|".join(re.escape(s) for s in ordered)
    return re.compile(rf"(?<!\w)(?:{body})(?!\w)")


# compiled-alternation cache, keyed by a digest of the surface list:
# python workers are reused across tasks (spark.python.worker.reuse), so
# each worker compiles the (potentially huge) pattern once per DISTINCT
# gazetteer — repeated detect_mentions calls over the same gazetteer hit
# the same entry (round-3 keyed it by a per-call uuid, which could never
# hit and leaked one mega-pattern per call). Bounded LRU: a long-lived
# worker holds at most _REGEX_CACHE_MAX compiled patterns.
_REGEX_CACHE: dict[str, re.Pattern] = {}
_REGEX_CACHE_MAX = 4


def _cached_pattern(cache_key: str, surfaces: list[str]) -> re.Pattern:
    pattern = _REGEX_CACHE.pop(cache_key, None)
    if pattern is None:
        pattern = _compile_pattern(surfaces)
    _REGEX_CACHE[cache_key] = pattern  # re-insert = move to MRU end
    while len(_REGEX_CACHE) > _REGEX_CACHE_MAX:
        _REGEX_CACHE.pop(next(iter(_REGEX_CACHE)))
    return pattern


def detect_mentions(webtext: DataFrame, surface_forms: list[str]) -> DataFrame:
    """Pandas-UDF scan: (url, text, lang) -> exploded mention rows.

    NOT the hot path, and it ANTI-SCALES at high thread counts: the
    per-row Python ``finditer`` loop makes Python workers compete with
    the JVM for cores (round-1 measurement — throughput DROPPED going
    8->32 local threads). It exists only for exact char-offset /
    word-boundary semantics (punctuation-adjacent matches) that the
    token n-gram join cannot express; ``run_pipeline``'s ``mentions_mode``
    is "ngram" (the default, the JVM join path) or "regex" (this scan),
    and nobody should flip it to "regex" at corpus scale expecting parity.

    The gazetteer ships as a SparkContext broadcast variable (torrent
    distribution, once per executor) rather than a closure capture that
    would ride every task; the compiled pattern is memoized per python
    worker keyed by gazetteer content."""
    import hashlib

    sc = webtext.sparkSession.sparkContext
    surfaces = sorted(set(surface_forms))
    bc = sc.broadcast(surfaces)
    digest = hashlib.md5()
    for s in surfaces:
        digest.update(s.encode())
        digest.update(b"\x00")
    cache_key = digest.hexdigest()

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pattern = _cached_pattern(cache_key, bc.value)
        for pdf in batches:
            urls, surfaces, positions, langs = [], [], [], []
            for url, text, lang in zip(pdf["url"], pdf["text"], pdf["lang"]):
                if not text:
                    continue
                for m in pattern.finditer(text):
                    urls.append(url)
                    surfaces.append(m.group(0))
                    positions.append(m.start())
                    langs.append(lang)
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype="object"),
                    "surface_form": pd.Series(surfaces, dtype="object"),
                    "position": pd.Series(positions, dtype="int64"),
                    "lang": pd.Series(langs, dtype="object"),
                }
            )

    return webtext.select("url", "text", "lang").mapInPandas(
        scan, schema=MENTIONS_SCHEMA
    )


# [^\p{L}\p{N}_] instead of \W: Java's \W is ASCII-only, which silently
# strips edge umlauts/accents ("Österreich" -> "sterreich") and breaks
# Unicode surface forms; \p{L}/\p{N} are Unicode-aware in both Java regex
# and RE2, keeping the JVM path aligned with the Python regex detector
# (whose \w IS Unicode-aware)
_NW = r"[^\p{L}\p{N}_]+"
_EDGES = sql_lit(f"(^{_NW}|{_NW}$)")
# the document's tokens, edge punctuation stripped from the text and from
# every token
_TOKS_SQL = (
    f"transform(split(regexp_replace(text, {_EDGES}, ''), ' '), "
    f"t -> regexp_replace(t, {_EDGES}, ''))"
)


def _tokens_base(webtext: DataFrame, extra_cols: tuple[str, ...]) -> DataFrame:
    return webtext.where("text IS NOT NULL").selectExpr(
        "url", "lang", *extra_cols, f"{_TOKS_SQL} AS _toks"
    )


# the token at 1-based position i
_TOK_AT_I = "element_at(_toks, i)"


def _positions(anchor_test: str) -> str:
    """1-based candidate start positions over _toks whose token passes
    ``anchor_test`` (SQL text over the token ``_TOK_AT_I``): only positions
    whose token can START a surface form survive (the cheap per-token test
    that avoids building n-gram strings at every position)."""
    pos = (
        "CASE WHEN size(_toks) >= 1 THEN sequence(1, size(_toks)) "
        "ELSE CAST(array() AS array<int>) END"
    )
    return f"filter({pos}, i -> {anchor_test})"


BLOOM_COL = "_anchor_bloom"
_BLOOM_WORD_BITS = 62  # bits packed per long; top 2 bits unused so every
#                        word and every 2^k divisor stays positive
# 2^0 .. 2^62 — a 63-element literal array, the variable-offset bit
# test's stand-in for shiftright (whose shift amount must be a constant)
_POW2_SQL = "array({})".format(
    ", ".join(str(1 << k) for k in range(_BLOOM_WORD_BITS + 1))
)


def _bloom_slot(m_bits: int, token: str) -> str:
    return f"(xxhash64({token}) & {m_bits - 1})"


def _bloom_build(surf_df: DataFrame, n_tok0: int) -> tuple[DataFrame, int]:
    """Single-row DataFrame carrying an ``array<bigint>`` Bloom bitmap
    (62 bits packed per word) over the gazetteer's DISTINCT first tokens,
    plus the filter size in bits (a power of 2). ~24 slots/key, single
    hash -> ~4% false positives; false negatives are impossible, so the
    downstream exact broadcast join sees every true candidate. One small
    job collects the set slot positions (<= n_tok0 longs) — never the
    token strings.

    The bitmap reaches the corpus as a broadcast single-row cross join
    (see detect_mentions_ngram), NOT as a plan literal: probing a large
    literal is a measured trap — a '0'/'1' STRING costs an O(m) UTF8
    position scan per probe, and a BINARY literal is implicitly cast
    right back to string by substring. element_at on a broadcast-attached
    array column is a true O(1) read, and the packed words keep the
    broadcast at m/62 longs (~2 MB for 10^6 first tokens)."""
    # cap keeps h int-addressable; past ~45M distinct first tokens the
    # false-positive rate degrades gracefully instead of overflowing
    m_bits = 1 << min(30, max(13, (24 * max(n_tok0, 1) - 1).bit_length()))
    b = _bloom_slot(m_bits, "split(surface_form, ' ')[0]")
    # packed words folded JVM-side (bit_or partial-aggregates map-side,
    # and is idempotent so no distinct pass is needed): the driver
    # collects at most m_bits/62 longs regardless of gazetteer
    # cardinality — round 3 collected one row per SET BIT instead
    word_rows = (
        surf_df.selectExpr(
            f"CAST({b} / {_BLOOM_WORD_BITS} AS INT) AS w",
            f"element_at({_POW2_SQL}, CAST(pmod({b}, {_BLOOM_WORD_BITS}) AS INT) + 1)"
            " AS bit",
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit) AS word"))
        .collect()
    )
    words = [0] * ((m_bits + _BLOOM_WORD_BITS - 1) // _BLOOM_WORD_BITS)
    for r in word_rows:
        words[r["w"]] = r["word"]
    bloom_df = surf_df.sparkSession.createDataFrame(
        [(words,)], f"{BLOOM_COL} array<bigint>"
    )
    return bloom_df, m_bits


def _bloom_test(m_bits: int, token: str) -> str:
    """Row-local Bloom membership of SQL text ``token`` against the
    broadcast ``BLOOM_COL`` array: xxhash64 -> word via O(1) element_at ->
    bit via exact integer pmod against a tiny power-of-two lookup. Pure
    JVM expressions — no Python, no per-probe join, no shuffle, no
    gazetteer strings (or big literals) in the plan."""
    h = _bloom_slot(m_bits, token)
    word = f"element_at({BLOOM_COL}, CAST({h} / {_BLOOM_WORD_BITS} AS INT) + 1)"
    off = f"CAST(pmod({h}, {_BLOOM_WORD_BITS}) AS INT)"
    return (
        f"pmod({word}, element_at({_POW2_SQL}, {off} + 2)) "
        f">= element_at({_POW2_SQL}, {off} + 1)"
    )


def _gram_structs(lengths: list[int], positions: str) -> str:
    """Array of (position, n_toks, surface_form) structs — one candidate
    n-gram per start position per gazetteer length, nulls filtered."""

    def gram_at(n: int) -> str:
        gram = ", ".join(
            f"element_at(_toks, CAST(i + {j} AS INT))" for j in range(n)
        )
        return (
            f"CASE WHEN size(_toks) - (i - 1) >= {n} THEN named_struct("
            f"'position', CAST(i - 1 AS BIGINT), 'n_toks', {n}, "
            f"'surface_form', concat_ws(' ', {gram})) END"
        )

    grams = ", ".join(gram_at(n) for n in lengths)
    return (
        f"filter(flatten(transform({positions}, i -> array({grams}))), "
        "g -> g IS NOT NULL)"
    )


# the fold's comparator and accumulator, rendered once
_ORDER_SQL = (
    "(a, b) -> CASE WHEN a.position < b.position THEN -1 "
    "WHEN a.position > b.position THEN 1 "
    "WHEN a.n_toks > b.n_toks THEN -1 "
    "WHEN a.n_toks < b.n_toks THEN 1 ELSE 0 END"
)
_FOLD_START_SQL = (
    "named_struct('consumed', CAST(-1 AS BIGINT), 'kept', CAST(array() AS "
    "array<struct<position:bigint,n_toks:int,surface_form:string>>))"
)
_FOLD_STEP_SQL = (
    "(acc, g) -> CASE WHEN g.position >= acc.consumed THEN named_struct("
    "'consumed', CAST(g.position + g.n_toks AS BIGINT), "
    "'kept', concat(acc.kept, array(g))) ELSE acc END"
)


def _fold_leftmost_longest(candidates: str) -> str:
    """Strict leftmost-longest (regex finditer) semantics over a candidate
    array: sort by (position asc, length desc) — a total order, (position,
    n_toks) is unique per doc — then fold with a consumed-until cursor; a
    match is kept iff it starts at or after the end of the previously kept
    match. All later-start overlapping matches are dropped."""
    return (
        f"aggregate(array_sort({candidates}, {_ORDER_SQL}), {_FOLD_START_SQL}, "
        f"{_FOLD_STEP_SQL}, acc -> acc.kept)"
    )


# exploded fold structs -> the mention row
_MENTION_COLS = (
    "url", "g.surface_form AS surface_form", "g.position AS position", "lang"
)


# --- plan-construction memos (round 8) -------------------------------------
#
# Profiling the webtext pipeline showed ~0.45s of its per-call BUILD time
# going to (a) the gazetteer strategy probe — `surf_df.head(...)`, a small
# Spark job per call — and (b) rendering the inline candidate/fold
# expression. Both are pure functions of the gazetteer CONTENT, so
# repeated calls over the same gazetteer (the bench loop, the incremental
# appends, streaming micro-batches) can reuse them. Nothing here caches
# DATA of the corpus, and nothing holds a JVM object or pins a session:
# the probe memo is weakly keyed by the gazetteer DataFrame (its entry
# goes when the frame does), and the fold memo holds SQL text.

_GAZ_PROBE_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _surfaces(gazetteer: DataFrame) -> DataFrame:
    return gazetteer.select("surface_form").distinct()


def _probe_gazetteer(gazetteer: DataFrame, limit: int):
    """head(limit) over the distinct surfaces, memoized per gazetteer
    DataFrame object + limit."""
    try:
        by_limit = _GAZ_PROBE_CACHE.setdefault(gazetteer, {})
    except TypeError:  # DataFrame subclass without weakref support
        return _surfaces(gazetteer).head(limit)
    if limit not in by_limit:
        by_limit[limit] = _surfaces(gazetteer).head(limit)
    return by_limit[limit]


@functools.lru_cache(maxsize=16)
def _inline_fold_sql(surface_key: tuple, lengths_key: tuple) -> str:
    """The inline path's anchor->grams->membership->fold expression over
    the `_toks` column, as SQL text memoized by (surface set, lengths)."""
    anchors = sorted({sf.split(" ")[0] for sf in surface_key})
    in_anchors = f"{_TOK_AT_I} IN ({', '.join(sql_lit(a) for a in anchors)})"
    grams = _gram_structs(list(lengths_key), _positions(in_anchors))
    in_surfaces = ", ".join(sql_lit(sf) for sf in surface_key)
    candidates = f"filter({grams}, g -> g.surface_form IN ({in_surfaces}))"
    return _fold_leftmost_longest(candidates)


def detect_mentions_ngram(
    webtext: DataFrame,
    gazetteer: DataFrame,
    extra_cols: tuple[str, ...] = (),
    max_inline_surfaces: int = 4096,
) -> DataFrame:
    """JVM-only multi-word gazetteer scan: token n-grams ⋈ broadcast(surfaces).

    The production hot path (input_hint: no Python in the hot path). Two
    physical strategies, picked by gazetteer size:

    * inline (≤ ``max_inline_surfaces``, and always for streaming input,
      where append mode forbids the join path's groupBy): anchor-token
      ``isin`` prefilter (n-grams built only at positions whose token can
      START a surface form — no string concat elsewhere), in-array
      surface-set membership, in-array leftmost-longest fold. Zero extra
      shuffles; plan literals bounded by the threshold.

    * join (anything larger — the 10^5–10^6-surface gazetteers the north
      star implies, where inlined literal sets are a plan-size/driver
      hazard): candidate start positions are first pruned by a pure-codegen
      Bloom filter over the gazetteer's distinct FIRST tokens (the join
      path's rendering of the inline path's anchor-token ``isin`` — without
      it, gram construction costs corpus_tokens x |lengths| string concats
      at every position); surviving n-grams are exploded and membership is
      decided exactly by a broadcast hash join (plan size independent of
      gazetteer cardinality — the bitmap rides a broadcast single-row cross
      join, never a plan literal, see ``_bloom_build``); the
      leftmost-longest fold then re-groups per document — a shuffle
      carrying ONLY matched mentions, never the corpus.

    Both produce identical results (strict regex-finditer overlap
    semantics, see ``_fold_leftmost_longest``).

    position = token index of the first token of the match.
    """
    # ONE action probes the gazetteer: up to threshold+1 rows decide the
    # strategy AND give the inline path its surface set (streaming always
    # inlines, so it collects everything)
    if webtext.isStreaming:
        # a streaming frame must inline (append mode forbids the join
        # path's groupBy) — but inlining a LARGE gazetteer is the exact
        # plan-size/driver hazard the join path exists to avoid, so
        # refuse instead of silently reintroducing it; the foreachBatch
        # runner (pipeline.streaming.run_page_triples_foreach_batch) runs
        # the Bloom+broadcast-join batch path per micro-batch
        head = _probe_gazetteer(gazetteer, max_inline_surfaces + 1)
        if len(head) > max_inline_surfaces:
            raise ValueError(
                "streaming input with a gazetteer larger than "
                f"max_inline_surfaces={max_inline_surfaces} would inline "
                "every surface form into the plan; use "
                "esmarc_spark.pipeline.streaming.run_page_triples_foreach_batch "
                "(per-micro-batch join path) for large gazetteers"
            )
        use_inline = True
    else:
        head = _probe_gazetteer(gazetteer, max_inline_surfaces + 1)
        use_inline = len(head) <= max_inline_surfaces

    if use_inline:
        surface_set = sorted(r["surface_form"] for r in head)
        lengths = sorted({len(sf.split(" ")) for sf in surface_set})
    else:
        # one small agg collects the distinct token-count SET (a handful
        # of ints) plus the first-token cardinality that sizes the bloom
        surf_df = _surfaces(gazetteer)
        row = (
            surf_df.selectExpr(
                "size(split(surface_form, ' ')) AS n",
                "split(surface_form, ' ')[0] AS t0",
            )
            .agg(F.expr("collect_set(n) AS ns"), F.expr("count(DISTINCT t0) AS n0"))
            .collect()[0]
        )
        lengths = sorted(row["ns"])
        n_tok0 = row["n0"]
    if not lengths:
        # empty gazetteer -> empty mentions with a stable schema, derived
        # from the INPUT frame so a streaming caller gets a streaming frame
        # (a createDataFrame([]) here would break the downstream writeStream)
        return webtext.where("false").selectExpr(
            "url",
            "CAST(NULL AS STRING) AS surface_form",
            "CAST(NULL AS BIGINT) AS position",
            "lang",
            *extra_cols,
        )

    base = _tokens_base(webtext, extra_cols)

    if use_inline:
        folded = _inline_fold_sql(tuple(surface_set), tuple(lengths))
        return base.selectExpr(
            "url", "lang", *extra_cols, f"explode({folded}) AS g"
        ).selectExpr(*_MENTION_COLS, *extra_cols)

    # the bitmap rides a broadcast single-row cross join (no shuffle, no
    # plan literal); positions whose token fails the first-token Bloom
    # never build a gram
    bloom_df, m_bits = _bloom_build(surf_df, n_tok0)
    base = base.crossJoin(F.broadcast(bloom_df))
    pos = _positions(_bloom_test(m_bits, _TOK_AT_I))
    candidates = base.selectExpr(
        "url", "lang", *extra_cols, f"explode({_gram_structs(lengths, pos)}) AS g"
    ).selectExpr(
        "g.surface_form AS surface_form",
        "url",
        "lang",
        *extra_cols,
        "g.position AS position",
        "g.n_toks AS n_toks",
    )
    # broadcast hash join = the gazetteer membership test; never shuffles
    # the candidate (fact) side and inlines nothing into the plan
    matched = candidates.join(F.broadcast(surf_df), "surface_form")

    # collect_list order is nondeterministic, but the fold sorts first with
    # a total-order comparator, so the result is deterministic
    per_doc = matched.groupBy("url", "lang", *extra_cols).agg(
        F.expr("collect_list(struct(position, n_toks, surface_form)) AS _c")
    )
    return per_doc.selectExpr(
        "url", "lang", *extra_cols, f"explode({_fold_leftmost_longest('_c')}) AS g"
    ).selectExpr(*_MENTION_COLS, *extra_cols)


def detect_mentions_tokenized(webtext: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """JVM-only token path: posexplode(split(text)) ⋈ broadcast(gazetteer).

    The whole plan stays in whole-stage codegen; the broadcast join never
    shuffles the fact side. Punctuation is stripped from token edges so
    sentence-final forms still match.
    """
    tokens = webtext.select(
        "url",
        "lang",
        F.posexplode(F.split(F.col("text"), " ")).alias("position", "raw_token"),
    ).withColumn(
        "token",
        F.regexp_replace("raw_token", r"^[^\p{L}\p{N}_]+|[^\p{L}\p{N}_]+$", ""),
    )
    surfaces = gazetteer.select("surface_form").distinct()
    return (
        tokens.join(
            F.broadcast(surfaces), tokens.token == surfaces.surface_form, "inner"
        )
        .select("url", "surface_form", F.col("position").cast("long"), "lang")
    )
