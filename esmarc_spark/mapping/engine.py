"""Mapping engine: record dict -> JSON-LD document -> (subj, pred, obj) triples.

``map_record`` applies the declarative ENTITY_MAPPING to one parsed record
(process-lifecycle parity: /root/reference/esmarc/processing.py:29-61 —
entity dispatch, per-cell extraction, cardinality coercion, null/empty scrub,
provenance stamp, sameAs isBasedOn backfill incl. the BSZ @id rewrite).

ENTITY_MAPPING is compiled once, at import, into ``PLANS``: per entity, a
tuple of ``(prop, evaluate, guard)`` cells in spec order plus the entity's
constant ``prop -> single|multi`` cardinality. ``evaluate`` is the cell with
its extractor, selector and entity bound. ``guard`` is the set of tags the
cell looks up when it is evaluated once on an empty probe record that logs
every ``get`` / ``in`` / ``[]`` and answers "absent". A cell gets no guard
(None) if it is a literal, raises on the probe, yields a truthy value there,
or iterates, sizes, copies or mutates the probe. ``map_record`` skips a
guarded cell when the record has none of its guard tags.

Why the skip is exact: an extractor is deterministic and reads the record
only through those lookups, so on a record where every one of them misses
it takes the same path as on the probe and yields the same falsy value,
which ``map_record`` would drop anyway. Which cells are skipped follows from
the extractors' own code, not from a hand-kept tag list.

``record_to_triples`` flattens a mapped document into (subj, pred, obj)
rows: obj is a bare string for string values, else canonical JSON
(sort_keys) — the graft's triple contract (FIXTURES.md §5).

``mapped_docs_batches`` is the Spark entry: a mapInPandas-compatible
generator over Arrow batches of (record_id, marc_json) rows.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from esmarc_spark.lookups.dims import TARGET_ID
from esmarc_spark.mapping.spec import ENTITY_MAPPING, EXTRACTORS
from esmarc_spark.marc.records import collapse, entity_of, field_values, merge_value

# ---------------------------------------------------------------------------
# scrubbing (absent, never null/empty — reference helperfunc.py:51-86)
# ---------------------------------------------------------------------------


def scrub(value: Any) -> Any:
    """Recursively drop None values and empty containers; collapse
    single-element lists inside dict values."""
    if isinstance(value, dict):
        out = {}
        for k, v in value.items():
            v = scrub(v)
            if v is None or v == [] or v == {} or v == "":
                continue
            out[k] = v
        return out
    if isinstance(value, list):
        cleaned = [scrub(v) for v in value]
        return [v for v in cleaned if v is not None and v != [] and v != {} and v != ""]
    return value


def _compile_cell(cell: Any, entity: str) -> Callable[[dict], Any]:
    """Resolve one spec cell into ``record -> value``: a literal stays a
    constant, an extractor cell binds its function, selector and entity,
    and a list cell merges its compiled parts."""
    if isinstance(cell, str):
        return lambda record: cell
    if isinstance(cell, dict):
        fn, key = EXTRACTORS[cell["fn"]], cell.get("key")
        return lambda record: fn(record, key, entity)
    if isinstance(cell, list):
        parts = [_compile_cell(sub, entity) for sub in cell]

        def merged(record: dict) -> Any:
            acc = [collapse(part(record)) for part in parts]
            return collapse(acc) if acc else None

        return merged
    return lambda record: None


class _Probe(dict):
    """An empty record that logs every tag a cell looks up. A cell that
    iterates, sizes, copies or mutates it is marked ``opaque``: its output
    may depend on tags it never named, so it cannot be guarded."""

    def __init__(self) -> None:
        super().__init__()
        self.looked_up: set = set()
        self.opaque = False

    def get(self, key, default=None):
        self.looked_up.add(key)
        return default

    def __contains__(self, key) -> bool:
        self.looked_up.add(key)
        return False

    def __getitem__(self, key):
        self.looked_up.add(key)
        raise KeyError(key)


def _opaque(name: str) -> Callable:
    def method(self, *args, **kwargs):
        self.opaque = True
        return getattr(dict, name)(self, *args, **kwargs)

    return method


for _name in (
    "keys", "items", "values", "__iter__", "__reversed__", "__len__", "copy",
    "setdefault", "pop", "popitem", "update", "clear", "__setitem__",
    "__delitem__", "__eq__", "__ne__", "__or__", "__ror__", "__ior__",
):
    setattr(_Probe, _name, _opaque(_name))


def _guard(evaluate: Callable[[dict], Any]) -> frozenset | None:
    """The tags a cell looks up on an empty record, if that is all it reads
    and it yields nothing there; else None (always evaluate the cell)."""
    probe = _Probe()
    try:
        value = collapse(evaluate(probe))
    except Exception:  # noqa: BLE001 - a cell that raises is never skipped
        return None
    if value or probe.opaque:
        return None
    return frozenset(probe.looked_up)


def _compile(entity: str, cells: dict) -> tuple[tuple, dict[str, str]]:
    """One entity's spec -> its plan: ``(prop, evaluate, guard)`` per cell,
    in spec order, and the entity's ``prop -> single|multi`` cardinality."""
    plan, cardinality = [], {}
    for prop_key, cell in cells.items():
        card, _, prop = prop_key.partition(":")
        cardinality[prop] = card
        evaluate = _compile_cell(cell, entity)
        plan.append((prop, evaluate, _guard(evaluate)))
    return tuple(plan), cardinality


PLANS: dict[str, tuple[tuple, dict[str, str]]] = {
    entity: _compile(entity, cells) for entity, cells in ENTITY_MAPPING.items()
}


def map_record(record: dict, index: str | None = "source") -> tuple[str, dict] | None:
    """Map one parsed MARC record to (entity_type, JSON-LD doc), or None if
    the record's 079..b code is unknown (dropped)."""
    entity = entity_of(record)
    if entity not in PLANS:
        return None
    plan, cardinality = PLANS[entity]
    tags = record.keys()
    doc: dict[str, Any] = {}
    for prop, evaluate, guard in plan:
        if guard is not None and tags.isdisjoint(guard):
            continue
        value = collapse(evaluate(record))
        if not value:
            continue
        # dynamic relation fan-out: nodes carrying "_key" land under the
        # property named by _key (spouse/children/...), not under `prop`
        if "related" in prop and isinstance(value, dict) and "_key" in value:
            dynamic = value.pop("_key")
            doc[dynamic] = merge_value(doc.get(dynamic), value)
        elif (
            "related" in prop
            and isinstance(value, list)
            and any(isinstance(x, dict) and "_key" in x for x in value)
        ):
            for node in value:
                if isinstance(node, dict) and "_key" in node:
                    dynamic = node.pop("_key")
                    doc[dynamic] = merge_value(doc.get(dynamic), node)
        else:
            doc[prop] = merge_value(doc.get(prop), value)
    if not doc:
        return None
    record_id = field_values(record, "001")
    if index:
        doc["isBasedOn"] = f"{TARGET_ID}source/{index}/{record_id}"
        if isinstance(doc.get("sameAs"), list):
            for node in doc["sameAs"]:
                if isinstance(node, dict) and isinstance(node.get("isBasedOn"), dict):
                    node["isBasedOn"]["@id"] = doc["isBasedOn"]
                    publisher = node.get("publisher") or {}
                    if publisher.get("abbr") == "BSZ":
                        node["@id"] = (
                            "https://swb.bsz-bw.de/DB=2.1/PPNSET?PPN={}".format(record_id)
                        )
    doc = scrub(doc)
    # cardinality coercion: single -> scalar, multi -> always a list
    for prop, value in list(doc.items()):
        if cardinality.get(prop) == "single":
            doc[prop] = collapse(value)
        elif cardinality.get(prop) == "multi" and not isinstance(value, list):
            doc[prop] = [value]
    return entity, doc


# ---------------------------------------------------------------------------
# triple flattening
# ---------------------------------------------------------------------------


def canonical_obj(value: Any) -> str:
    """Triple object canonical form: bare string for strings, else
    sort_keys JSON (matches the reference tests' dumpstr canonicalization)."""
    if isinstance(value, str):
        return value
    return json.dumps(value, sort_keys=True, ensure_ascii=False)


def doc_to_triples(entity: str, doc: dict) -> Iterator[tuple[str, str, str]]:
    subj = doc.get("@id") or ""
    for pred, value in doc.items():
        if pred == "@id":
            continue
        for item in value if isinstance(value, list) else [value]:
            yield subj, pred, canonical_obj(item)


def record_to_triples(
    record: dict, index: str | None = "source"
) -> Iterator[tuple[str, str, str, str]]:
    """(entity, subj, pred, obj) triples for one record."""
    mapped = map_record(record, index=index)
    if mapped is None:
        return
    entity, doc = mapped
    for subj, pred, obj in doc_to_triples(entity, doc):
        yield entity, subj, pred, obj


# ---------------------------------------------------------------------------
# Spark mapInPandas stages (Arrow-batched; the only Python in this path)
# ---------------------------------------------------------------------------

DOCS_SCHEMA = "record_id string, entity string, doc string"
TRIPLES_SCHEMA = "entity string, subj string, pred string, obj string"


ERROR_ENTITY = "__error__"


def mapped_docs_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: (record_id, marc_json) -> (record_id, entity, doc).

    Record-level fault isolation: a malformed record whose extraction
    raises (crash-parity cases — e.g. a repeated 245 $a list hitting the
    reference's ``+=`` at namings.py:147, or a non-dict subfield cell)
    quarantines into the ``__error__`` entity with the exception as its
    doc, instead of killing the task. Routed through the per-entity LDJ
    sink this IS the reference's errors.txt channel (esmarc.py:320-322);
    one bad record in 10^12 must not abort the job the way it aborts the
    reference's process."""
    for pdf in batches:
        rows = []
        for record_id, raw in zip(pdf["record_id"], pdf["marc_json"]):
            try:
                mapped = map_record(json.loads(raw))
            except Exception as e:  # noqa: BLE001 - quarantine, never abort
                rows.append(
                    (
                        record_id,
                        ERROR_ENTITY,
                        # the raw record rides along (reference errors.txt
                        # carries record + traceback) so the quarantine
                        # partition is replayable after a fix
                        json.dumps(
                            {
                                "error": f"{type(e).__name__}: {e}",
                                "record": raw,
                            },
                            ensure_ascii=False,
                        ),
                    )
                )
                continue
            if mapped is not None:
                entity, doc = mapped
                rows.append((record_id, entity, json.dumps(doc, sort_keys=True, ensure_ascii=False)))
        yield pd.DataFrame(rows, columns=["record_id", "entity", "doc"])


def triples_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: (record_id, marc_json) -> (entity, subj, pred, obj).

    Same record-level fault isolation as mapped_docs_batches; the triple
    stream has no error channel, so a failing record contributes nothing
    here (run the docs stage to enumerate quarantined records)."""
    for pdf in batches:
        rows = []
        for raw in pdf["marc_json"]:
            try:
                # materialize BEFORE extending: a generator failing
                # mid-iteration must not leave a half-emitted record
                out = list(record_to_triples(json.loads(raw)))
            except Exception:  # noqa: BLE001 - quarantine, never abort
                continue
            rows.extend(out)
        yield pd.DataFrame(rows, columns=["entity", "subj", "pred", "obj"])


# ---------------------------------------------------------------------------
# triples -> documents (unflatten; the inverse of doc_to_triples)
# ---------------------------------------------------------------------------


def parse_obj(obj: str) -> Any:
    """Inverse of canonical_obj: JSON objects/arrays parse back; everything
    else stays a bare string. Bare numeric/bool literals are deliberately
    NOT parsed — the triple form cannot distinguish the string "123" from
    the number 123, so unflattening keeps them as strings and consumers
    recover numeric types from the output schema."""
    if obj and obj[0] in "[{":
        try:
            return json.loads(obj)
        except (ValueError, TypeError):
            return obj
    return obj


def docs_from_triples(triples) -> "DataFrame":
    """Spark unflatten: (subj, pred, obj) -> one JSON-LD doc per subj.

    groupBy(subj) + collect pred/obj pairs -> map; multi-valued predicates
    become lists, single values collapse to scalars (ArrayOrSingleValue
    equivalence — cardinality is not carried by the triple form, so
    round-tripping is exact up to scalar ≡ [scalar]).
    """
    from pyspark.sql import functions as F

    grouped = triples.groupBy("subj").agg(
        F.collect_list(F.struct("pred", "obj")).alias("pairs")
    )

    def rebuild(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            subjects, docs = [], []
            for subj, pairs in zip(pdf["subj"], pdf["pairs"]):
                doc: dict[str, Any] = {"@id": subj}
                for pair in sorted(pairs, key=lambda p: (p["pred"], p["obj"])):
                    value = parse_obj(pair["obj"])
                    doc[pair["pred"]] = merge_value(doc.get(pair["pred"]), value)
                subjects.append(subj)
                docs.append(json.dumps(doc, sort_keys=True, ensure_ascii=False))
            yield pd.DataFrame({"subj": subjects, "doc": docs})

    return grouped.mapInPandas(rebuild, schema="subj string, doc string")
