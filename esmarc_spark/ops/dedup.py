"""Deduplication operators for training-data pipelines.

Four families, all shuffle-conscious and all engine-portable (verified
against DuckDB through __spark_entry__):

* exact          — fingerprint groupBy (map-side partial agg, one shuffle on
                   the 128-bit digest; uniform keys, no skew possible)
* MinHash + LSH  — shingle -> k salted min-hashes -> b bands; candidate
                   pairs only ever join *within a band bucket*, so the
                   quadratic blowup is bounded by bucket size, and the band
                   shuffle key (band_id, band_hash) is high-cardinality
* SimHash        — 32-bit sign-aggregated token hash; near-dups differ in
                   few bits; explode + partial-agg bit-count sums
* n-gram Jaccard — exact similarity, computed only for LSH candidate pairs
                   (never all-pairs)

MinHash math: P[minhash collision] = Jaccard; banding amplifies: two docs
land in the same bucket with prob 1-(1-J^r)^b for b bands of r rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esmarc_spark.ops.hashing import portable_hash, salted_hash
from esmarc_spark.ops.text import fingerprint, tokens_col

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicate_groups(documents: DataFrame) -> DataFrame:
    """(fingerprint, n_docs, doc_ids) for every group of byte-equal texts."""
    return (
        documents.select(F.col("doc_id"), fingerprint().alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
    )


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Keep exactly one doc per fingerprint: deterministic min(doc_id)
    survivor (min_by would also work; min keeps the plan agg-only)."""
    survivors = (
        documents.select("doc_id", fingerprint().alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return documents.join(survivors.select("doc_id"), "doc_id", "left_semi")


# ---------------------------------------------------------------------------
# shingling + MinHash + LSH
# ---------------------------------------------------------------------------


def shingles_col(text="text", k: int = 3) -> F.Column:
    """k-token shingles as an array<string> (empty-safe: Spark's sequence()
    generates *descending* ranges when start > stop, so short texts need an
    explicit empty-array branch)."""
    toks = tokens_col(text)
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(k)]
        ),
    )


# universal-hash family over a 32-bit base hash: h_i(s) = (a_i*H32(s)+b_i) % P
# P Mersenne-31; a_i*h < 2^60 so the arithmetic never overflows int64 —
# exactly one md5 per shingle regardless of num_hashes.
MINHASH_P = 2**31 - 1


def _mh_a(i: int) -> int:
    return 1_000_003 + 97 * i


def _mh_b(i: int) -> int:
    return 12_345 + 31 * i


def base_hash32(col) -> F.Column:
    """32-bit portable hash (8 hex chars of md5)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# polynomial-combine multiplier for hashed shingles; all intermediates
# stay < 2^52, far from int64 overflow (ANSI mode would throw on wrap)
SHINGLE_A = 1_000_003


def _shingle_hashes(th: F.Column, k: int) -> F.Column:
    """Shingle hashes WITHOUT building shingle strings: combine k
    consecutive per-token hashes with a polynomial rolling hash mod
    Mersenne-31. Hashing concat_ws shingle STRINGS (the r1/r2 design) was
    measured 12.7x slower at sf0.1 — string materialization plus md5 over
    ~25-byte strings dominated the whole LSH stage; per-token md5 runs
    once per TOKEN (not per shingle) and the combine is pure integer
    codegen."""
    n = F.size(th)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )

    def comb(i: F.Column) -> F.Column:
        h = F.element_at(th, i)
        for j in range(1, k):
            h = (h * SHINGLE_A + F.element_at(th, (i + j).cast("int"))) % MINHASH_P
        return h

    return F.transform(idx, comb)


def minhash_signatures(
    documents: DataFrame, num_hashes: int = 16, shingle_k: int = 3
) -> DataFrame:
    """doc_id + mh_0..mh_{n-1} min-hash columns.

    Physical shape chosen for scale: ONE md5 per TOKEN, shingle hashes
    derived in-array by integer polynomial combine (_shingle_hashes — the
    explode carries longs, never shingle strings) -> num_hashes affine
    transforms (pure integer codegen) -> groupBy(doc_id) with map-side
    partial min, so the shuffle carries one row per doc. Docs with
    < shingle_k tokens have no shingles and drop out (same on the oracle
    side; exact Jaccard verification still uses string shingles — it only
    runs on candidate pairs).

    Measured non-wins (round 2, sf0.1/32c, keep for posterity): a map-only
    variant folding 16-wide min arrays in-array was 1.8x SLOWER (nested
    array materialization beats the explode it avoids), and xxhash64
    instead of md5 saved only ~10%. The round-3 win was eliminating the
    shingle STRINGS (12.7x on the hashing stage), not the hash function.
    """
    th = F.transform(tokens_col(), lambda t: base_hash32(t))
    sh = documents.select("doc_id", th.alias("_th")).select(
        "doc_id", F.explode(_shingle_hashes(F.col("_th"), shingle_k)).alias("h")
    )
    # SQL-string aggregates for the same py4j-chatter reason as simhash
    # (round 8): identical expression trees, one JVM parse each
    aggs = [
        F.expr(f"min((({_mh_a(i)} * h) + {_mh_b(i)}) % {MINHASH_P}) AS mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_buckets(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """(band, band_key, doc_id): band_key = hash of the band's signature
    slice. Docs sharing (band, band_key) are near-dup candidates.

    All bands are computed in ONE pass over the signatures (array of structs
    + posexplode) — a union of per-band selects would re-scan the signature
    relation once per band."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                portable_hash(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh_{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select("doc_id", F.explode(band_structs).alias("bb")).select(
        F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key"), "doc_id"
    )


def lsh_candidate_pairs(
    documents: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs from LSH banding.

    The self-join is on (band, band_key) — high-cardinality keys, so the
    shuffle is uniform and NORMAL bucket sizes bound the pair fan-out.
    What normal sizes don't cover is the degenerate bucket a
    template-heavy corpus produces (thousands of near-identical
    boilerplate pages landing in ONE (band, band_key) — routine at crawl
    scale): a pairwise join there emits O(k²) pairs from a single
    bucket. Buckets larger than ``max_bucket_size`` are therefore
    STAR-LINKED — every member pairs only with the bucket's min-doc_id
    representative (O(k) pairs). Members of a giant band bucket are
    near-certain duplicates, the star edges still go through the exact
    Jaccard verify, and the connected-components stage downstream
    (``dedup_corpus``) restores transitivity through the verified
    edges. The tradeoff is RECALL, stated plainly (ADVICE r6 #4): a
    star edge that fails the Jaccard verify severs its member from the
    bucket entirely, so two members that would have verified against
    EACH OTHER can escape dedup once their rep links both fail —
    guarded results can differ from the unguarded/from-scratch run
    whenever a bucket exceeds the cap. Members of a degenerate band
    bucket share an entire minhash band with the rep, so in practice
    the rep link verifies; corpora where it might not should raise
    ``max_bucket_size`` or disable the guard.

    The default cap (256 → ≤32k pairs per degenerate bucket) is far
    above any bucket a non-adversarial corpus produces (measured max 4
    at bench scale) — results are unchanged unless a true template
    cluster exists. Pass ``max_bucket_size=None`` to disable.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(documents, num_hashes, shingle_k)
    return pairs_from_buckets(
        lsh_buckets(sig, bands, rows_per_band), max_bucket_size
    )


def pairs_from_buckets(
    buckets: DataFrame, max_bucket_size: int | None = 256
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs from a (band, band_key, doc_id)
    bucket relation — the join/guard half of ``lsh_candidate_pairs``,
    shared with the incremental path (which builds its bucket relation
    from a persisted signature index)."""
    from pyspark.sql.window import Window

    if max_bucket_size is None:
        # unguarded path (kept for A/B benching): plain pairwise self-join
        buckets = buckets.localCheckpoint(eager=False)
        a, b = buckets.alias("a"), buckets.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
    # annotate each bucket row with its bucket size + representative in
    # ONE pass (window over the join key — the shuffle it costs is the
    # same hash distribution the self-join needs anyway), then
    # materialize once: the relation feeds three consumers (two pairwise
    # sides + the star branch) and must not recompute minhashing
    w = Window.partitionBy("band", "band_key")
    ann = buckets.select(
        "band",
        "band_key",
        "doc_id",
        F.count(F.lit(1)).over(w).alias("_n"),
        F.min("doc_id").over(w).alias("_rep"),
    ).localCheckpoint(eager=False)
    small = ann.where(F.col("_n") <= max_bucket_size).drop("_n", "_rep")
    a, b = small.alias("a"), small.alias("b")
    pairwise = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    # rep == min(doc_id) of the bucket, so (rep, member) keeps doc_a < doc_b
    star = ann.where(
        (F.col("_n") > max_bucket_size) & (F.col("doc_id") != F.col("_rep"))
    ).select(F.col("_rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    return pairwise.unionByName(star).distinct()


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for candidate verification)
# ---------------------------------------------------------------------------


def ngram_jaccard(
    documents: DataFrame, pairs: DataFrame, shingle_k: int = 3, round_n: int = 6
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for given (doc_a, doc_b)
    pairs; join is on doc ids (uniform), set math is array ops in codegen."""
    sh = documents.select(
        "doc_id", F.array_distinct(shingles_col(k=shingle_k)).alias("sh")
    )
    out = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.select(
        "doc_a",
        "doc_b",
        F.round(inter.cast("double") / union, round_n).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(documents: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash): sign-aggregate of per-token hash bits.

    bit b of simhash = 1 iff sum over tokens of (token_hash bit b ? +1 : -1)
    > 0, i.e. iff 2*count_b > n_tokens. Near-duplicate docs differ in O(few)
    bits (compare with bit_count(xor) downstream).

    Physical shape (round-2 rework, measured 5.4x at sf0.1/32c):
    explode distinct tokens -> one md5 per token -> groupBy(doc_id) with
    ``bits`` trivial bit-count sums + count(*). The round-1 map-only version
    ran 32 SEPARATE array folds per document (each re-walking the token
    array inside one giant codegen unit, 5.5-6s); the hash aggregate does
    one pass with map-side partial aggregation, so the shuffle carries
    33 small ints per doc — 1.0s for the same result set.
    """
    th = documents.select(
        "doc_id", F.explode(F.array_distinct(tokens_col())).alias("t")
    ).select("doc_id", salted_hash(F.col("t"), 99).alias("h"))
    # expressions built as SQL strings (round 8): the per-Column py4j
    # construction of 33 aggregates + a 32-branch CASE chain cost ~0.3s
    # of driver time PER CALL (~300 sequential JVM round trips); each
    # F.expr parses JVM-side in one call and yields the identical
    # expression tree (same CaseWhen/Cast/Sum nodes, same left-assoc
    # addition), so results and plan shape are unchanged.
    aggs = [
        F.expr(f"sum((shiftright(h, {b}) & 1)) AS _c{b}") for b in range(bits)
    ] + [F.expr("count(*) AS _n")]
    g = th.groupBy("doc_id").agg(*aggs)
    value_sql = " + ".join(
        f"(CASE WHEN ((2 * _c{b}) - _n) > 0 THEN CAST({2**b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return g.select("doc_id", F.expr(value_sql).alias("simhash"))


# ---------------------------------------------------------------------------
# ANSI-SQL renderings (DuckDB oracle side) — kept adjacent to the Spark
# builders above so parity is auditable line-by-line.
# ---------------------------------------------------------------------------

from esmarc_spark.ops.hashing import portable_hash_sql, salted_hash_sql  # noqa: E402

FINGERPRINT_GROUPS_SQL = """
SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
       count(*) AS n_docs,
       min(doc_id) AS first_doc
FROM documents
GROUP BY 1
"""


def _shingles_sql(k: int = 3) -> str:
    parts = " || ' ' || ".join(f"toks[i+{j}]" for j in range(k))
    return (
        f"list_transform(range(1, len(toks) - {k - 2}), i -> {parts})"
    )


def _shingle_hashes_sql(k: int = 3) -> str:
    """DuckDB mirror of _shingle_hashes: polynomial combine of k
    consecutive per-token hashes (th), mod Mersenne-31."""
    expr = "th[i]"
    for j in range(1, k):
        expr = f"(({expr}) * {SHINGLE_A} + th[i+{j}]) % {MINHASH_P}"
    return f"list_transform(range(1, len(th) - {k - 2}), i -> {expr})"


def minhash_sql(num_hashes: int = 16, shingle_k: int = 3) -> str:
    """Per-doc minhash signature columns mh_0..mh_{n-1} (same universal-hash
    family and hashed-shingle construction as minhash_signatures)."""
    cols = ",\n       ".join(
        f"min(({_mh_a(i)} * h + {_mh_b(i)}) % {MINHASH_P}) AS mh_{i}"
        for i in range(num_hashes)
    )
    return f"""
SELECT doc_id,
       {cols}
FROM (
  SELECT doc_id, unnest({_shingle_hashes_sql(shingle_k)}) AS h
  FROM (SELECT doc_id,
               list_transform(string_split(text, ' '),
                              t -> cast('0x' || substr(md5(t), 1, 8) AS bigint)) AS th
        FROM documents)
)
GROUP BY doc_id
"""


def lsh_pairs_sql(num_hashes: int = 16, bands: int = 4, shingle_k: int = 3) -> str:
    rows_per_band = num_hashes // bands
    band_selects = []
    for b in range(bands):
        slice_concat = " || '|' || ".join(
            f"cast(mh_{b * rows_per_band + r} AS varchar)"
            for r in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT {b} AS band, {portable_hash_sql(f'({slice_concat})')} AS band_key, doc_id FROM sig"
        )
    buckets = " UNION ALL ".join(band_selects)
    return f"""
WITH sig AS ({minhash_sql(num_hashes, shingle_k)}),
buckets AS ({buckets})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def jaccard_pairs_sql(num_hashes: int = 16, bands: int = 4, shingle_k: int = 3, round_n: int = 6) -> str:
    return f"""
WITH pairs AS ({lsh_pairs_sql(num_hashes, bands, shingle_k)}),
sh AS (SELECT doc_id, list_distinct({_shingles_sql(shingle_k)}) AS sh
       FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
SELECT p.doc_a, p.doc_b,
       round(cast(len(list_intersect(a.sh, b.sh)) AS double)
             / len(list_distinct(list_concat(a.sh, b.sh))), {round_n}) AS jaccard
FROM pairs p
JOIN sh a ON p.doc_a = a.doc_id
JOIN sh b ON p.doc_b = b.doc_id
"""


def simhash_sql(bits: int = 32) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(th, h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN cast({2**b} AS bigint) ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
SELECT doc_id, ({terms}) AS simhash
FROM (SELECT doc_id,
             list_transform(list_distinct(string_split(text, ' ')),
                            t -> {salted_hash_sql('t', 99)}) AS th
      FROM documents)
"""


# ---------------------------------------------------------------------------
# corpus-level near-dup clustering (round 5)
# ---------------------------------------------------------------------------


def near_dup_edges(
    documents: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Verified near-duplicate edges: LSH candidates -> exact Jaccard ->
    keep >= threshold. Candidates-only verification, bucketed self-join
    with the degenerate-bucket star guard — the 100-TB-shaped path
    (never all-pairs, never quadratic in one template cluster)."""
    pairs = lsh_candidate_pairs(
        documents, num_hashes, bands, shingle_k, max_bucket_size
    )
    return ngram_jaccard(documents, pairs, shingle_k).where(
        F.col("jaccard") >= threshold
    ).select("doc_a", "doc_b")


def signed_node_col(c: str) -> F.Column:
    """Signed bigint doc_id -> zero-padded string node id whose STRING
    order equals the numeric order over the full signed range: the CC
    machinery (pipeline.canonicalize) takes string nodes and picks the
    string-min component representative, and hash-derived doc_ids are
    routinely negative (plain zero-padding both crashes the ANSI cast
    on '-' and mis-orders negatives). 2^63 exceeds the bigint literal
    range — parse the offset as a decimal."""
    offset = F.expr(f"CAST('{1 << 63}' AS DECIMAL(20,0))")
    return F.lpad(
        (F.col(c).cast("decimal(20,0)") + offset).cast("string"), 20, "0"
    )


def signed_unnode_col(c: str) -> F.Column:
    """Inverse of ``signed_node_col``."""
    offset = F.expr(f"CAST('{1 << 63}' AS DECIMAL(20,0))")
    return (F.col(c).cast("decimal(21,0)") - offset).cast("bigint")


def dedup_corpus(
    documents: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int = 256,
) -> DataFrame:
    """THE corpus dedup a training-data pipeline actually runs: near-dup
    edges -> connected components (transitive closure — A~B and B~C
    dedups A,B,C together even when A,C never pair) -> keep the
    min-doc_id representative per cluster. Returns the surviving rows
    with the full input schema.

    CC reuses the pipeline's alternating large/small-star implementation
    (pipeline.canonicalize — eager per-round checkpoints, measured
    cadence); node ids ride as zero-padded strings through an
    order-preserving +2^63 offset, so the string-min component
    representative is the NUMERIC min doc_id for the FULL signed range
    (hash-derived ids are routinely negative — plain zero-padding both
    crashes the ANSI cast on '-' and mis-orders negatives)."""
    from esmarc_spark.pipeline.canonicalize import canonical_mapping

    node, unnode = signed_node_col, signed_unnode_col
    edges = near_dup_edges(
        documents, threshold, num_hashes, bands, shingle_k, max_bucket_size
    ).select(node("doc_a").alias("src"), node("doc_b").alias("dst"))
    mapping = canonical_mapping(edges).select(
        F.col("uri").alias("_u"), F.col("canonical_uri").alias("_c")
    ).select(
        unnode("_u").alias("doc_id"), unnode("_c").alias("_root")
    )
    return (
        documents.join(mapping, "doc_id", "left")
        .where(F.col("_root").isNull() | (F.col("_root") == F.col("doc_id")))
        .drop("_root")
    )


def dedup_survivors_sql(
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> str:
    """DuckDB oracle for dedup_corpus survivors — connected components
    via a RECURSIVE transitive-closure CTE (a different algorithm than
    the Spark star-contraction, so the cross-check is independent)."""
    return f"""
WITH RECURSIVE kept AS (
  SELECT doc_a, doc_b FROM ({jaccard_pairs_sql(num_hashes, bands, shingle_k)})
  WHERE jaccard >= {threshold}
),
e AS (
  SELECT doc_a AS a, doc_b AS b FROM kept
  UNION
  SELECT doc_b, doc_a FROM kept
),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a WHERE e2.b <> r.a
),
root AS (
  SELECT a AS doc_id, least(a, min(b)) AS root FROM reach GROUP BY a
)
SELECT d.doc_id, d.source FROM documents d
LEFT JOIN root r USING (doc_id)
WHERE r.root IS NULL OR r.root = d.doc_id
ORDER BY d.doc_id
"""
