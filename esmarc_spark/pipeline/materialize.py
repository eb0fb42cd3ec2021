"""S5 — materialize (subj, pred, obj) JSON-LD triples from linked mentions.

Emitted graph (reference-parity vocabulary — mentions / sameAs / @type /
preferredName, cf. /root/reference/esmarc/esmarc.py:39-237 + id.py:40-50):

  page node   subj = page (the url, or "doc://<doc_id>" for documents)
      (page, "@type", "http://schema.org/CreativeWork")
      (page, "mentions", <entity @id>)            one per mentioned entity
      (page, "isBasedOn", <source partition uri>) provenance (optional)
  entity node subj = minted "{TARGET_ID}{entity_type}/{authority_id}"
      (entity, "@type", schema.org class)
      (entity, "sameAs", canonical authority URI) the linking edge
      (entity, "preferredName", deterministic min surface form)

``linked_to_triples`` is the only triple emitter; the webtext pipeline, the
one-job backfill, the streaming foreachBatch runner,
``ops.kg_documents.doc_triples`` and ``ops.crawl.crawl_pipeline`` are
adapters over it.  All shapes are pure DataFrame expressions, rendered
as Spark SQL text (``sqltext``); the only aggregation (preferredName) is
a min() — skew-immune partial agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esmarc_spark.lookups.dims import TARGET_ID
from esmarc_spark.mapping.spec import ENTITY_MAPPING
from esmarc_spark.pipeline.sqltext import sql_lit

TRIPLE_SCHEMA = "subj string, pred string, obj string"

# SQL text over a linked row, rendered once: the minted entity @id and
# entity_type -> the reference's schema.org @type (mapping.spec)
ENTITY_ID_SQL = f"concat({sql_lit(TARGET_ID)}, entity_type, '/', authority_id)"
_CLASS_MAP_SQL = "map({})".format(
    ", ".join(
        sql_lit(x) for t, m in ENTITY_MAPPING.items() for x in (t, m["single:@type"])
    )
)


def is_based_on_sql(source: str, page: str) -> str:
    """The provenance object "{TARGET_ID}source/<source>/<page>"; both
    arguments are SQL text (a quoted literal or a column such as pday)."""
    return f"concat({sql_lit(TARGET_ID + 'source/')}, {source}, '/', {page})"


def _fan_out(
    rel: DataFrame, subj: str, shapes: list[tuple[str, str]], keys: tuple = ()
) -> DataFrame:
    """Scan an aggregated relation ONCE and fan its triple shapes out via
    an in-row explode — per-shape selects would re-run the distinct /
    groupBy shuffle once per shape (measured: 6 scans + 5 shuffles for
    the same triple set). ``keys`` rides extra partition columns through."""
    po = ", ".join(
        f"named_struct('pred', {sql_lit(pred)}, 'obj', {obj})" for pred, obj in shapes
    )
    return rel.selectExpr(
        *keys, f"{subj} AS subj", f"explode(array({po})) AS _po"
    ).selectExpr(*keys, "subj", "_po.pred AS pred", "_po.obj AS obj")


def linked_to_triples(
    linked: DataFrame,
    source_index: str | None = sql_lit("webtext"),
    *,
    page: str = "url",
    same_as: str | None = None,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Linked mention rows -> the full triple set, output (*keys, subj,
    pred, obj).

    ``linked`` needs entity_type, authority_id and surface_form plus
    whatever the arguments read.  Callers differ in four things only,
    the first three given as SQL text over a linked row: ``page`` is the
    page subject (default the url column); ``same_as`` is the sameAs
    object as an expression over (entity_type, authority_id) (default:
    the linked canonical_url column, carried through both aggregates);
    ``source_index`` is the isBasedOn source (a quoted literal — see
    ``sqltext.sql_lit`` — a column such as pday, or None for no
    isBasedOn triple); ``keys`` are the extra partition columns every
    aggregate is keyed by.  With ``keys=("pday",)`` and
    ``source_index="pday"`` the output is, day by day, exactly
    ``linked_to_triples(day, source_index=sql_lit(day))``, as one Spark
    job over all days (a hot day cannot collapse into one reducer any
    worse than a per-day loop, and AQE still splits skewed (pday,
    entity) buckets).

    One partial-agg pass collapses the mention rows to the distinct
    (*keys, page, entity) relation, carrying the per-pair min surface so
    the entity aggregate derives from it without a second pass over the
    mentions (min of per-page mins == global min); a localCheckpoint
    materializes THAT small relation once for its three consumers: the
    page distinct, the mentions shape and the entity groupBy.  The
    checkpoint is not lazy in effect: under AQE,
    ``localCheckpoint(eager=False)`` plans the relation adaptively, which
    runs every upstream shuffle-map and broadcast stage (extraction
    dedup, the mention scan, the link and canonical joins) inside this
    call — three Spark jobs for ``run_pipeline`` — and leaves only the
    final aggregate and the triple shapes to the caller's action.

    No distinct over the union is needed: a global distinct would
    shuffle every triple for nothing, the single biggest avoidable
    shuffle at 10^12 docs.  Each branch is internally distinct: pages
    come out of a distinct, the mentions shape is the groupBy grain
    itself, and the entity shapes come out of a groupBy (a carried
    canonical_url is functionally dependent on (entity_type,
    authority_id), so it adds no rows to either grain).  The branches
    cannot collide: their predicates differ except '@type', whose page
    rows have page subjects and whose entity rows have minted
    ``TARGET_ID`` subjects (pages never live in that namespace).

    Batch frames only (append-mode streaming cannot run the groupBy
    without a watermark); streaming calls it once per micro-batch from
    foreachBatch (``pipeline.streaming.run_page_triples_foreach_batch``)."""
    entity = ("entity_type", "authority_id")
    if same_as is None:
        entity += ("canonical_url",)
        same_as = "canonical_url"
    pairs = (
        linked.groupBy(*keys, F.expr(f"{page} AS _page"), *entity)
        .agg(F.expr("min(surface_form) AS _s"))
        .localCheckpoint(eager=False)
    )
    page_objs = [("@type", sql_lit("http://schema.org/CreativeWork"))]
    if source_index is not None:
        page_objs.append(("isBasedOn", is_based_on_sql(source_index, "_page")))
    page_shapes = _fan_out(
        pairs.selectExpr(*keys, "_page").distinct(), "_page", page_objs, keys=keys
    )
    page_mentions = pairs.selectExpr(
        *keys, "_page AS subj", "'mentions' AS pred", f"{ENTITY_ID_SQL} AS obj"
    )
    entity_shapes = _fan_out(
        pairs.groupBy(*keys, *entity).agg(F.expr("min(_s) AS preferred_name")),
        ENTITY_ID_SQL,
        [
            ("@type", f"{_CLASS_MAP_SQL}[entity_type]"),
            ("sameAs", same_as),
            ("preferredName", "preferred_name"),
        ],
        keys=keys,
    )
    return page_shapes.unionAll(page_mentions).unionAll(entity_shapes)


def sink_triples(
    triples: DataFrame,
    target: str,
    fmt: str = "parquet",
    partition_col: str | None = "pday",
    mode: str = "append",
) -> None:
    """Materialize the triple set (north_star: 'emits (subj, pred, obj)
    JSON-LD triples to Iceberg').

    fmt="iceberg": DataSourceV2 ``writeTo(<catalog.table>)`` append —
    requires an Iceberg catalog on the session (spark.sql.catalog.* +
    iceberg-spark-runtime jars; not present in this sandbox, and the v1
    session catalog rejects DataFrameWriterV2 writes, so the branch is
    executed on real clusters only — its wiring is syntax-verified with
    a mocked catalog in tests/test_sinks.py). Idempotent re-runs use
    ``overwritePartitions()`` instead of append.

    fmt="parquet" (the sandbox stand-in and the tested path): partitioned
    parquet with dynamic partition overwrite — operationally equivalent
    semantics (partition-atomic replace) without the catalog."""
    if fmt == "iceberg":
        w = triples.writeTo(target)
        if mode == "overwrite_partitions":
            w.overwritePartitions()
        else:
            w.append()
        return
    writer = triples.write.mode(
        "overwrite" if mode == "overwrite_partitions" else mode
    )
    if partition_col and partition_col in triples.columns:
        spark = triples.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        writer = writer.partitionBy(partition_col)
    writer.parquet(target)
