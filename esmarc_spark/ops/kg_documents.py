"""KG construction over the driver's ``documents`` table — the
oracle-checkable instantiation of the S2→S5 pipeline (mention detection,
entity linking, triple materialization) with a DuckDB-verifiable plan.

The gazetteer here is a deterministic inline dim over the documents
vocabulary, including a synonym pair (``sort``/``order`` -> same authority)
and an ambiguous surface (``scan`` -> two authorities), mirroring
FIXTURES.md §3. The same dim is rendered as a SQL VALUES clause for the
oracle, so Spark and DuckDB see identical reference data.

Plan shape = the production pipeline's: tokenize/explode -> broadcast join
-> dedup/agg -> union of triple shapes. Mentions positions are 0-based
token indices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esmarc_spark.pipeline.materialize import linked_to_triples
from esmarc_spark.pipeline.sqltext import sql_lit

# (surface_form, entity_type, authority_id) — vocabulary-anchored
DOC_GAZETTEER = [
    ("spark", "topics", "4055209-1"),
    ("customer", "persons", "1000001-1"),
    ("table", "works", "3000001-2"),
    ("join", "topics", "4200001-3"),
    ("window", "geo", "4300001-4"),
    ("stream", "geo", "4300002-5"),
    ("vector", "works", "3000002-6"),
    ("merge", "events", "5000001-7"),
    ("hash", "organizations", "2000001-8"),
    # synonym pair: two surfaces, one authority
    ("sort", "topics", "4500001-0"),
    ("order", "topics", "4500001-0"),
    # ambiguous surface: one surface, two authorities
    ("scan", "topics", "4600001-1"),
    ("scan", "works", "3000003-9"),
]

TARGET = "https://data.slub-dresden.de/"
GND = "https://d-nb.info/gnd/"


def gazetteer_values_sql() -> str:
    """The same gazetteer as a SQL VALUES relation (for the DuckDB oracle)."""
    rows = ", ".join(
        f"('{s}', '{t}', '{a}')" for s, t, a in DOC_GAZETTEER
    )
    return f"(VALUES {rows}) AS gaz(surface_form, entity_type, authority_id)"


def doc_gazetteer(spark: SparkSession) -> DataFrame:
    # JVM LocalRelation via the SAME VALUES clause the oracle uses —
    # createDataFrame builds a Python-RDD scan that is re-evaluated (with
    # a Python-worker round trip) inside EVERY broadcast build; the
    # LocalRelation is JVM-resident (measured 0.64s -> 0.26s per
    # broadcast-join execution at sf0.1/32c, round 8)
    return spark.sql(f"SELECT * FROM {gazetteer_values_sql()}")


def doc_mentions(documents: DataFrame) -> DataFrame:
    """(doc_id, position, surface_form, entity_type, authority_id):
    posexplode(split) ⋈ broadcast(gazetteer). Ambiguity fans out."""
    gaz = doc_gazetteer(documents.sparkSession)
    tokens = documents.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("position", "surface_form")
    )
    return (
        tokens.join(F.broadcast(gaz), "surface_form")
        .select(
            "doc_id",
            F.col("position").cast("long").alias("position"),
            "surface_form",
            "entity_type",
            "authority_id",
        )
    )


DOC_MENTIONS_SQL = f"""
SELECT t.doc_id,
       cast(t.position - 1 AS bigint) AS position,
       t.surface_form,
       gaz.entity_type,
       gaz.authority_id
FROM (
    SELECT doc_id,
           generate_subscripts(toks, 1) AS position,
           unnest(toks) AS surface_form
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
) t
JOIN {gazetteer_values_sql()} USING (surface_form)
"""


def doc_entity_counts(documents: DataFrame) -> DataFrame:
    """Mentions + distinct-doc frequency per linked entity (skew-tolerant:
    partial aggregation handles the head keys map-side)."""
    return (
        doc_mentions(documents)
        .groupBy("entity_type", "authority_id")
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


DOC_ENTITY_COUNTS_SQL = f"""
SELECT entity_type, authority_id,
       count(*) AS n_mentions,
       count(DISTINCT doc_id) AS n_docs
FROM ({DOC_MENTIONS_SQL}) m
GROUP BY entity_type, authority_id
"""


def doc_triples(documents: DataFrame) -> DataFrame:
    """Full (subj, pred, obj) emission over documents — the flagship:
    page @type/mentions with "doc://<doc_id>" pages, entity
    @type/sameAs/preferredName with GND sameAs, no isBasedOn.  The
    oracle keeps its SELECT DISTINCT — same result set, hash-verified."""
    return linked_to_triples(
        doc_mentions(documents),
        None,
        page="concat('doc://', CAST(doc_id AS STRING))",
        same_as=f"concat({sql_lit(GND)}, authority_id)",
    )


# oracle text: the reference's schema.org classes as DuckDB CASE arms
# (Spark side: materialize._CLASS_MAP_SQL, from mapping.spec)
CLASS_CASE = (
    "WHEN 'persons' THEN 'http://schema.org/Person' "
    "WHEN 'organizations' THEN 'http://schema.org/Organization' "
    "WHEN 'geo' THEN 'http://schema.org/Place' "
    "WHEN 'topics' THEN 'http://schema.org/Thing' "
    "WHEN 'works' THEN 'http://schema.org/CreativeWork' "
    "WHEN 'events' THEN 'http://schema.org/Event'"
)

DOC_TRIPLES_SQL = f"""
WITH m AS ({DOC_MENTIONS_SQL}),
ents AS (
  SELECT entity_type, authority_id, min(surface_form) AS pname
  FROM m GROUP BY entity_type, authority_id
)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT DISTINCT 'doc://' || cast(doc_id AS varchar) AS subj,
         '@type' AS pred, 'http://schema.org/CreativeWork' AS obj FROM m
  UNION ALL
  SELECT DISTINCT 'doc://' || cast(doc_id AS varchar),
         'mentions',
         '{TARGET}' || entity_type || '/' || authority_id FROM m
  UNION ALL
  SELECT '{TARGET}' || entity_type || '/' || authority_id,
         '@type', CASE entity_type {CLASS_CASE} END FROM ents
  UNION ALL
  SELECT '{TARGET}' || entity_type || '/' || authority_id,
         'sameAs', '{GND}' || authority_id FROM ents
  UNION ALL
  SELECT '{TARGET}' || entity_type || '/' || authority_id,
         'preferredName', pname FROM ents
)
"""


def doc_entity_cooccurrence(documents: DataFrame) -> DataFrame:
    """Entity pairs co-mentioned in one doc (self-join on doc_id; ordered
    pair to halve the output), with pair counts."""
    pairs = doc_mentions(documents).select("doc_id", "entity_type", "authority_id").distinct()
    a, b = pairs.alias("a"), pairs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.authority_id") < F.col("b.authority_id")),
        )
        .groupBy(
            F.col("a.authority_id").alias("auth_a"),
            F.col("b.authority_id").alias("auth_b"),
        )
        .agg(F.count("*").alias("n_docs"))
    )


DOC_COOCCURRENCE_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT doc_id, entity_type, authority_id FROM ({DOC_MENTIONS_SQL})
)
SELECT a.authority_id AS auth_a, b.authority_id AS auth_b,
       count(*) AS n_docs
FROM pairs a JOIN pairs b
  ON a.doc_id = b.doc_id AND a.authority_id < b.authority_id
GROUP BY a.authority_id, b.authority_id
"""


def disambiguate_mentions(documents: DataFrame) -> DataFrame:
    """Context-based entity disambiguation: resolve every mention position
    to exactly ONE authority.

    The gazetteer join fans ambiguous surfaces out to several candidate
    authorities (``scan`` -> topics/works above; the reference's analogue
    is esmarc's multi-authority sameAs lists, esmarc.py getsameAs, which
    it keeps unresolved — web-scale linking must pick one). Each candidate
    is scored by document context: the number of OTHER distinct gazetteer
    surfaces in the same document that share the candidate's entity_type
    (the mention's own surface is subtracted — it votes for every one of
    its candidate types equally, so it carries no signal). Winner per
    (doc_id, position) = max score, ties broken by MIN authority_id — a
    pure function of the input, so the DuckDB replay hash-matches.

    Scale shape: the context profile is a (doc_id, entity_type) partial
    aggregation (map-side combine; cardinality docs x 6 types); the winner
    pick is a row_number window partitioned by (doc_id, position) —
    millions of tiny groups, no skew concentration; the gazetteer side of
    the underlying join is broadcast.
    """
    from pyspark.sql.window import Window

    m = doc_mentions(documents)
    support = m.groupBy("doc_id", "entity_type").agg(
        F.count_distinct("surface_form").alias("n_same_type")
    )
    w = Window.partitionBy("doc_id", "position").orderBy(
        F.col("score").desc(), F.col("authority_id").asc()
    )
    return (
        m.join(support, ["doc_id", "entity_type"])
        .withColumn("score", (F.col("n_same_type") - F.lit(1)).cast("long"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id", "position", "surface_form", "entity_type",
            "authority_id", "score",
        )
    )


DOC_DISAMBIGUATED_SQL = f"""
WITH m AS ({DOC_MENTIONS_SQL}),
sup AS (
  SELECT doc_id, entity_type,
         COUNT(DISTINCT surface_form) AS n_same_type
  FROM m GROUP BY doc_id, entity_type
)
SELECT doc_id, position, surface_form, entity_type, authority_id, score
FROM (
  SELECT m.doc_id, m.position, m.surface_form, m.entity_type,
         m.authority_id,
         CAST(sup.n_same_type - 1 AS BIGINT) AS score,
         row_number() OVER (
           PARTITION BY m.doc_id, m.position
           ORDER BY CAST(sup.n_same_type - 1 AS BIGINT) DESC, m.authority_id ASC
         ) AS rn
  FROM m JOIN sup ON sup.doc_id = m.doc_id AND sup.entity_type = m.entity_type
) WHERE rn = 1
"""


def entity_cards(documents: DataFrame) -> DataFrame:
    """Per-entity profile card — the rollup a KG consumer reads before
    trusting an entity (reference analogue: the per-entity JSON-LD
    docs esmarc emits; here the corpus statistics are folded in):
    (entity_type, authority_id, n_mentions, n_docs, n_surfaces,
    top_surface, same_as). ``top_surface`` is the most frequent surface
    form with bytewise-min tie-break (the host_rollup min-struct
    recipe). All shuffles are partial-agg groupBys bounded by entities
    x surfaces; no window over mentions."""
    m = doc_mentions(documents)
    per_surface = m.groupBy("entity_type", "authority_id", "surface_form").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    top = F.min(
        F.struct((-F.col("_cnt")).alias("_nc"), F.col("surface_form").alias("_s"))
    ).alias("_top")
    cards = per_surface.groupBy("entity_type", "authority_id").agg(
        F.sum("_cnt").alias("n_mentions"),
        F.count(F.lit(1)).alias("n_surfaces"),
        top,
    )
    docs = (
        m.select("entity_type", "authority_id", "doc_id")
        .distinct()
        .groupBy("entity_type", "authority_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return cards.join(docs, ["entity_type", "authority_id"]).select(
        "entity_type",
        "authority_id",
        "n_mentions",
        "n_docs",
        "n_surfaces",
        F.col("_top._s").alias("top_surface"),
        F.concat(F.lit(GND), F.col("authority_id")).alias("same_as"),
    )


ENTITY_CARDS_SQL = f"""
WITH m AS ({DOC_MENTIONS_SQL}),
per AS (
  SELECT entity_type, authority_id, surface_form, COUNT(*) AS cnt
  FROM m GROUP BY 1, 2, 3
),
ranked AS (
  SELECT entity_type, authority_id, surface_form, cnt,
         row_number() OVER (PARTITION BY entity_type, authority_id
                            ORDER BY cnt DESC, surface_form ASC) AS rn,
         CAST(SUM(cnt) OVER (PARTITION BY entity_type, authority_id)
              AS BIGINT) AS n_mentions,
         CAST(COUNT(*) OVER (PARTITION BY entity_type, authority_id)
              AS BIGINT) AS n_surfaces
  FROM per
),
cards AS (
  SELECT entity_type, authority_id, n_mentions, n_surfaces,
         surface_form AS top_surface
  FROM ranked WHERE rn = 1
),
docs AS (
  SELECT entity_type, authority_id, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM (SELECT DISTINCT entity_type, authority_id, doc_id FROM m)
  GROUP BY 1, 2
)
SELECT c.entity_type, c.authority_id, c.n_mentions, d.n_docs,
       c.n_surfaces, c.top_surface,
       '{GND}' || c.authority_id AS same_as
FROM cards c JOIN docs d USING (entity_type, authority_id)
"""
