"""Composed "realistic crawl" pipeline (round 5 — VERDICT r4 #5).

Every stage here is an already-green operator; what this module pins is
their COMPOSITION with all the round-4/5 flags on, end-to-end from raw
WARC bytes to KG triples, against a DuckDB oracle:

  read_warc(errors="quarantine", decode_http=True, keep_status=(200,),
            with_charset=True)                      # S0, byte-exact
  -> dedup_by_canonical_url                          # latest crawl wins
  -> with_extracted_text(main_content=True,
                         charset_aware=True)         # S1 + boilerplate
  -> lang_guess stopword vote                        # language ID
  -> curation gate (allowed langs, min tokens)       # quality gate
  -> gazetteer mention join -> typed triples         # S2-S5 shapes

The oracle side replays everything downstream of the byte framing in
DuckDB over the generator-vendored expected parse
(tests/golden/realcrawl_expected.ldj — written by
scripts/gen_realcrawl_fixture.py from what it put INTO the WARC, never
by the reader under test): canonical-url dedup via the urlnorm SQL
chain, main-content extraction via the boilerplate SQL, the language
vote via the stopword SQL, and the same five triple shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esmarc_spark.ops import text
from esmarc_spark.ops.kg_documents import (
    CLASS_CASE,
    GND,
    TARGET,
    doc_gazetteer,
    gazetteer_values_sql,
)
from esmarc_spark.pipeline.materialize import linked_to_triples
from esmarc_spark.pipeline.sqltext import sql_lit

ALLOWED_LANGS = ("en", "de")
MIN_TOKENS = 8


def crawl_pipeline(spark: SparkSession, warc_path: str) -> DataFrame:
    """Raw WARC member(s) -> (subj, pred, obj) triples, all flags on."""
    from esmarc_spark.ops.urlnorm import dedup_by_canonical_url
    from esmarc_spark.pipeline.extract_text import with_extracted_text
    from esmarc_spark.pipeline.warc import QUARANTINE_URL, read_warc

    wt = read_warc(
        spark,
        warc_path,
        errors="quarantine",
        decode_http=True,
        keep_status=(200,),
        with_charset=True,
    )
    pages = wt.where(F.col("url") != QUARANTINE_URL)
    deduped = dedup_by_canonical_url(pages)
    s1 = with_extracted_text(deduped, main_content=True, charset_aware=True)
    docs = s1.select("url", "text").withColumn("lang", text.lang_guess("text"))
    kept = docs.where(
        F.col("lang").isin(*ALLOWED_LANGS)
        & (text.token_count("text") >= MIN_TOKENS)
    )

    gaz = doc_gazetteer(spark)
    m = kept.select(
        "url", F.explode(F.split("text", " ")).alias("surface_form")
    ).join(F.broadcast(gaz), "surface_form")
    # no isBasedOn; sorted because the oracle orders its rows
    return linked_to_triples(
        m, None, same_as=f"concat({sql_lit(GND)}, authority_id)"
    ).orderBy("subj", "pred", "obj")


def crawl_pipeline_sql(expected_ldj: str) -> str:
    """The identical downstream composition in DuckDB over the vendored
    expected parse (url, warc_ts ISO string, html decoded string)."""
    from esmarc_spark.lookups.stopwords import LANG_PRIORITY
    from esmarc_spark.ops.boilerplate import main_text_sql
    from esmarc_spark.ops.urlnorm import canonical_sql_select

    raw = (
        f"SELECT url, warc_ts, html FROM read_json_auto('{expected_ldj}', "
        "format='newline_delimited', "
        "columns={url: 'VARCHAR', warc_ts: 'VARCHAR', html: 'VARCHAR'})"
    )
    canon = canonical_sql_select(raw, passthrough="warc_ts, html")
    votes = ",\n       ".join(
        f"{text.lang_vote_count_sql(l)} AS _lc_{l}" for l in LANG_PRIORITY
    )
    langs = ", ".join(f"'{l}'" for l in ALLOWED_LANGS)
    return f"""
WITH dedup AS (
  -- latest crawl wins per canonical url; the fixed-width ISO timestamp
  -- concatenated with the raw url sorts exactly like the Spark
  -- max_by struct(warc_ts, url)
  SELECT curl AS url, max_by(html, warc_ts || '|' || url) AS html
  FROM ({canon}) GROUP BY curl
),
main AS (
  SELECT url, coalesce({main_text_sql('html')}, '') AS text FROM dedup
),
voted AS (SELECT *, {votes} FROM main),
kept AS (
  SELECT url, text FROM voted
  WHERE ({text.lang_guess_multi_case_sql()}) IN ({langs})
    AND {text.TOKEN_COUNT_SQL} >= {MIN_TOKENS}
),
m AS (
  SELECT t.url, t.surface_form, gaz.entity_type, gaz.authority_id
  FROM (SELECT url, unnest(string_split(text, ' ')) AS surface_form
        FROM kept) t
  JOIN {gazetteer_values_sql()} USING (surface_form)
),
ents AS (
  SELECT entity_type, authority_id, min(surface_form) AS pname
  FROM m GROUP BY entity_type, authority_id
)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT DISTINCT url AS subj, '@type' AS pred,
         'http://schema.org/CreativeWork' AS obj FROM m
  UNION ALL
  SELECT DISTINCT url, 'mentions',
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
) ORDER BY subj, pred, obj
"""
