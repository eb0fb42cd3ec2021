"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: numpy's PCG64 stream is
keyed by ``[seed, salt]`` and the rows are written with pyarrow, so one seed
regenerates byte-identical files (``identical_regeneration`` checks that).
The program under test only ever sees the written files.

Inputs are cached on disk under ``<checkout>/.perfbench_cache`` keyed by
(kind, seed, size) and a hash of this file, so generation is paid once per
seed and never inside a timed region, and an edited generator never
reuses an older one's files.

* webtext: the (url, warc_ts, html, text, lang) table of FIXTURES.md §1 as
  multi-file parquet (8 files, so every scan has at least 4 tasks). Each
  document embeds three gazetteer surface forms and, in ~30% of documents,
  the Zipf head entity "Germany"; ~2% of rows are exact re-crawl
  duplicates; a third of the rows are html-only, a third text-only.
  ``warc_ts`` spreads the rows over ``n_days`` UTC days from 2024-01-01.
* sameAs edges: the FIXTURES.md §4 shape, rooted at the gazetteer's
  canonical URIs: clusters of 1, 2, 5 and 50 nodes (random spanning tree
  plus ~10% extra edges), one 20-node chain and one 400-spoke hub.
* MARC records: (marc_json) MARC21-JSON records covering all seven
  079..b entity codes, untyped title records, and ~1% malformed records
  (a non-dict 548 subfield cell) that the mapping engine quarantines.
* tables: the star-schema and stream tables that ``__spark_entry__``'s
  query leaves read (``<dir>/<name>.parquet``, one file each, with the
  schemas and value domains of TESTDATA.md's tables), sized by the
  lineitem row count: documents (with ~3% near-duplicates), embeddings
  (64-d unit vectors in ten label clusters), events, lineitem, orders,
  customer, nation, region.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8
N_DAYS = 12  # days of the daily_incremental input
DAY0 = 1704067200  # 2024-01-01T00:00:00Z

FILLER = [
    "archive", "record", "page", "crawl", "index", "corpus", "study",
    "history", "report", "notes", "volume", "edition", "series", "chapter",
]

# 079..b codes and their output collection (None = untyped title record)
MARC_CODES = ["p", "n", "s", "b", "g", "u", "f", None]
MARC_ENTITY = {
    "p": "persons", "n": "persons", "s": "topics", "b": "organizations",
    "g": "geo", "u": "works", "f": "events", None: "resources",
}
MALFORMED_FRAC = 0.01
ERROR_ENTITY = "__error__"


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _write_parquet(table: pa.Table, out_dir: Path, n_files: int) -> None:
    out_dir.mkdir(parents=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(
            table.slice(k * step, step), out_dir / f"part-{k:05d}.parquet"
        )


def webtext_table(seed: int, n_docs: int, n_days: int = 1) -> pa.Table:
    from esmarc_spark.pipeline.webtext import GAZETTEER_ROWS

    surfaces = [r[0] for r in GAZETTEER_ROWS]
    rng = _rng(seed, 1)
    s = rng.integers(0, len(surfaces), (n_docs, 3))
    f = rng.integers(0, len(FILLER), (n_docs, 6))
    head = rng.random(n_docs) < 0.3
    mode = rng.integers(0, 3, n_docs)  # 0 html-only, 1 text-only, 2 both
    lang = np.where(rng.random(n_docs) < 0.7, "en", "de")
    day = rng.integers(0, n_days, n_docs)
    ts = DAY0 + day * 86400 + rng.integers(0, 86400, n_docs)

    urls, htmls, texts = [], [], []
    for i in range(n_docs):
        fi, si = f[i], s[i]
        body = (
            f"{FILLER[fi[0]]} {surfaces[si[0]]} {FILLER[fi[1]]}"
            f"{' Germany ' if head[i] else ' '}{FILLER[fi[2]]} "
            f"{surfaces[si[1]]}. {FILLER[fi[3]]} {FILLER[fi[4]]} "
            f"{surfaces[si[2]]} {FILLER[fi[5]]}."
        )
        urls.append(f"https://h{i % 97}.example/s{seed}/page/{i}")
        htmls.append(
            None if mode[i] == 1 else
            f"<html><head><title>doc</title></head><body><p>{body}</p>"
            "</body></html>".encode()
        )
        texts.append(None if mode[i] == 0 else body)

    # exact re-crawl duplicates, then one seeded shuffle of all rows
    dups = rng.choice(n_docs, max(1, n_docs // 50), replace=False)
    order = rng.permutation(np.concatenate([np.arange(n_docs), dups]))
    return pa.table(
        {
            "url": pa.array([urls[i] for i in order], pa.string()),
            "warc_ts": pa.array(ts[order] * 1_000_000, pa.timestamp("us", tz="UTC")),
            "html": pa.array([htmls[i] for i in order], pa.binary()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "lang": pa.array(lang[order], pa.string()),
        }
    )


def same_as_table(seed: int) -> pa.Table:
    from esmarc_spark.lookups.dims import AUTHORITY_PREFIXES
    from esmarc_spark.pipeline.webtext import GAZETTEER_ROWS

    roots = sorted(
        {AUTHORITY_PREFIXES[p]["@id"] + a.upper() for _, _, p, a in GAZETTEER_ROWS}
    )
    rng = _rng(seed, 2)
    edges: list[tuple[str, str]] = []
    counter = iter(range(10**9))

    def node() -> str:
        return f"http://www.wikidata.org/entity/Q{seed}{next(counter):06d}"

    for root in roots:
        size = int(rng.choice([1, 2, 5, 50]))
        members = [root] + [node() for _ in range(size - 1)]
        for j in range(1, size):
            edges.append((members[int(rng.integers(0, j))], members[j]))
        for _ in range(size // 10):
            a, b = rng.integers(0, size, 2)
            edges.append((members[int(a)], members[int(b)]))
    chain_root, hub_root = rng.choice(roots, 2, replace=False)
    prev = str(chain_root)
    for _ in range(19):
        nxt = node()
        edges.append((prev, nxt))
        prev = nxt
    edges.extend((str(hub_root), node()) for _ in range(400))
    return pa.table(
        {
            "src": pa.array([e[0] for e in edges], pa.string()),
            "dst": pa.array([e[1] for e in edges], pa.string()),
        }
    )


def _sub(tag_ind: str, *cells: tuple[str, str]) -> list:
    return [{tag_ind: [{c: v} for c, v in cells]}]


def marc_record(i: int, seed: int, code: str | None, malformed: bool) -> dict:
    rid = f"BM{seed}-{i:07d}"
    rec: dict = {"001": rid, "003": "DE-627", "005": "20240101123000.0"}
    if malformed:
        rec["079"] = _sub("__", ("b", "g"))
        rec["548"] = [{"__": ["junk-cell"]}]
        return rec
    if code is not None:
        rec["079"] = _sub("__", ("b", code))
    gnd = f"(DE-588){1000000 + i}-{i % 10}"
    if code in ("p", "n"):
        rec["100"] = _sub("1_", ("a", f"Person {i}"), ("0", gnd))
        rec["375"] = _sub("__", ("a", str(1 + i % 2)))
        rec["548"] = _sub("__", ("a", f"{1600 + i % 300}-{1660 + i % 300}"), ("4", "datl"))
        rec["551"] = _sub("__", ("a", "Eisenach"), ("0", "(DE-588)4013966-9"), ("4", "ortg"))
    elif code == "s":
        rec["150"] = _sub("__", ("a", f"Topic {i}"))
        rec["450"] = _sub("__", ("a", f"Subject {i}"), ("x", "Theory"))
    elif code == "b":
        rec["110"] = _sub("2_", ("a", f"Organization {i}"), ("b", "Library"))
        rec["548"] = _sub("__", ("a", f"{1800 + i % 200}-"), ("4", "datb"))
    elif code == "g":
        rec["151"] = _sub("__", ("a", f"Place {i}"))
        rec["451"] = _sub("__", ("a", f"Ort {i}"))
    elif code == "u":
        rec["130"] = _sub("__", ("a", f"Work {i}"))
        rec["500"] = _sub("1_", ("a", f"Composer {i % 97}"), ("0", gnd))
    elif code == "f":
        rec["111"] = _sub("2_", ("a", f"Council {i}"), ("d", str(1500 + i % 400)))
    else:
        rec["245"] = _sub("10", ("a", f"Title {i}"), ("b", "a study"))
        rec["041"] = _sub("0_", ("a", "ger"))
        rec["264"] = _sub("_1", ("a", "Leipzig"), ("b", "Verlag"), ("c", str(1900 + i % 120)))
    return rec


def marc_plan(seed: int, n_records: int) -> tuple[np.ndarray, np.ndarray]:
    """(code index, malformed flag) per record — the ground truth the
    per-entity output check counts against."""
    rng = _rng(seed, 3)
    return (
        rng.integers(0, len(MARC_CODES), n_records),
        rng.random(n_records) < MALFORMED_FRAC,
    )


def expected_entity_counts(seed: int, n_records: int) -> dict[str, int]:
    codes, bad = marc_plan(seed, n_records)
    out: dict[str, int] = {}
    for c, m in zip(codes, bad):
        e = ERROR_ENTITY if m else MARC_ENTITY[MARC_CODES[c]]
        out[e] = out.get(e, 0) + 1
    return out


def marc_table(seed: int, n_records: int) -> pa.Table:
    codes, bad = marc_plan(seed, n_records)
    return pa.table(
        {
            "marc_json": pa.array(
                [
                    json.dumps(marc_record(i, seed, MARC_CODES[c], bool(m)))
                    for i, (c, m) in enumerate(zip(codes, bad))
                ],
                pa.string(),
            )
        }
    )


VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["error", "click", "view", "signup", "purchase"]
DAY_1995 = np.datetime64("1995-01-01", "us")
EMB_DIM = 64


def _days(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    return DAY_1995 + rng.integers(0, span, n) * np.timedelta64(86400_000_000, "us")


def query_tables(seed: int, n_lineitem: int) -> dict[str, pa.Table]:
    rng = _rng(seed, 5)
    n_orders = max(40, n_lineitem // 4)
    n_cust = max(10, n_lineitem // 40)
    n_docs = max(40, n_lineitem // 30)
    n_emb = max(20, n_lineitem // 60)
    n_events = max(100, n_lineitem // 6)
    n_users = max(5, n_events // 60)

    qty = rng.integers(1, 51, n_lineitem).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lineitem),
        "l_partkey": rng.integers(0, max(1, n_lineitem // 30), n_lineitem),
        "l_suppkey": rng.integers(0, max(1, n_lineitem // 600), n_lineitem),
        "l_linenumber": rng.integers(1, 8, n_lineitem).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_lineitem), 2),
        "l_discount": rng.integers(0, 11, n_lineitem) / 100.0,
        "l_tax": rng.integers(0, 9, n_lineitem) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lineitem)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_lineitem)),
        "l_shipdate": _days(rng, n_lineitem, 2499),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _days(rng, n_orders, 2404),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    region = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": pa.array(REGIONS),
    })

    lengths = rng.integers(8, 90, n_docs)
    words = rng.integers(0, len(VOCAB), lengths.sum())
    cuts = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(VOCAB[w] for w in words[cuts[i]:cuts[i + 1]]) for i in range(n_docs)]
    # near-duplicates: a copy of an earlier document plus one token
    for i in np.flatnonzero(rng.random(n_docs) < 0.03):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })

    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400_000_000, n_events)
    ).astype("timedelta64[us]")
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    return {
        "documents": documents, "embeddings": embeddings, "events": events,
        "lineitem": lineitem, "orders": orders, "customer": customer,
        "nation": nation, "region": region,
    }


def build(kind: str, seed: int, size: int, out_dir: Path) -> None:
    if kind == "webtext":
        _write_parquet(webtext_table(seed, size), out_dir, N_FILES)
    elif kind == "days":
        # size = docs per day
        _write_parquet(webtext_table(seed, size * N_DAYS, N_DAYS), out_dir, N_FILES)
    elif kind == "sameas":
        _write_parquet(same_as_table(seed), out_dir, 1)
    elif kind == "marc":
        _write_parquet(marc_table(seed, size), out_dir, N_FILES)
    elif kind == "tables":
        out_dir.mkdir(parents=True)
        for name, table in query_tables(seed, size).items():
            pq.write_table(table, out_dir / f"{name}.parquet")
    else:
        raise ValueError(f"unknown input kind {kind!r}")


def cached(cache_root: Path, kind: str, seed: int, size: int) -> str:
    """Path of the (kind, seed, size) input, generating it on first use.
    Generation runs in a child process, so its memory never counts in the
    benchmark process's peak RSS; it builds into a scratch directory that
    is renamed into place, so an interrupted generation never leaves a
    half-written cache entry."""
    version = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]
    final = cache_root / f"{kind}-s{seed}-n{size}-{version}"
    if not final.exists():
        tmp = cache_root / f".tmp-{final.name}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, __file__, kind, str(seed), str(size), str(tmp)],
            check=True,
        )
        os.replace(tmp, final)
    return str(final)


def digest(path: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(path.rglob("*")):
        if p.is_file():
            h.update(p.relative_to(path).as_posix().encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def identical_regeneration(scratch: Path, seed: int, sizes: dict[str, int]) -> bool:
    """Generate every input kind twice for one seed and compare bytes."""
    same = True
    for kind, size in sizes.items():
        a, b = scratch / f"{kind}-a", scratch / f"{kind}-b"
        for d in (a, b):
            shutil.rmtree(d, ignore_errors=True)
            build(kind, seed, size, d)
        same &= digest(a) == digest(b)
        shutil.rmtree(a)
        shutil.rmtree(b)
    return same


if __name__ == "__main__":
    # child process of ``cached``: gen.py <kind> <seed> <size> <out_dir>
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    build(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), Path(sys.argv[4]))
