"""10^6-surface gazetteer evidence for the mention join path (round 5 —
VERDICT r4 #4): SURVEY §2.3 implies 10^5-10^6 surfaces; this bench runs
the JVM n-gram join at BOTH sizes on the same corpus and records

* the anchor-Bloom bitmap size chosen by the sizing rule (bits/bytes),
* the MEASURED false-positive rate against tokens that are definitely
  not anchor first-tokens (design target ~4% at 24 slots/key),
* wall time at 10^5 vs 10^6 surfaces (min of 3, fresh lineage per run,
  warm-up first — BENCH protocol).

Writes BENCH/mentions_1e6.json.
Usage: python scripts/bench_mentions_1e6.py [n_docs]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def build_gaz(spark, n_surfaces: int):
    """Same shape as bench_mentions.py: lengths 1-3, ~2% of the corpus
    vocab are anchor tokens, the rest of the surfaces use a disjoint
    'ent<i>' vocabulary."""
    from pyspark.sql import functions as F

    gaz = (
        spark.range(n_surfaces)
        .select(
            F.concat_ws(
                " ",
                F.when(F.col("id") % 50 == 0, F.concat(F.lit("w"), (F.col("id") % 200).cast("string")))
                .otherwise(F.concat(F.lit("ent"), F.col("id").cast("string"))),
                F.when(F.col("id") % 3 == 1, F.concat(F.lit("sub"), (F.col("id") % 7919).cast("string"))),
                F.when(F.col("id") % 9 == 2, F.concat(F.lit("tail"), (F.col("id") % 311).cast("string"))),
                F.when(F.col("id") % 11 == 3, F.concat(F.lit("mid"), (F.col("id") % 101).cast("string"))),
                F.when(F.col("id") % 13 == 4, F.concat(F.lit("end"), (F.col("id") % 53).cast("string"))),
            ).alias("surface_form")
        )
        .cache()
    )
    gaz.count()
    return gaz


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000

    from pyspark.sql import functions as F

    from esmarc_spark.pipeline.mentions import (
        _bloom_build,
        _bloom_test,
        BLOOM_COL,
        detect_mentions_ngram,
    )
    from esmarc_spark.session import get_spark

    spark = get_spark("bench-mentions-1e6", cpus=32)

    docs = (
        spark.range(n_docs)
        .select(
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit("w"),
                        F.pmod(F.xxhash64(F.col("id"), F.lit(j)), 10_000).cast("string"),
                    )
                    for j in range(50)
                ],
            ).alias("text"),
            F.lit("en").alias("lang"),
        )
        .cache()
    )
    docs.count()

    out: dict = {"n_docs": n_docs, "points": {}}
    for n_surfaces in (100_000, 1_000_000):
        gaz = build_gaz(spark, n_surfaces)

        # Bloom characteristics at this size
        n_tok0 = (
            gaz.select(F.split("surface_form", " ")[0].alias("t"))
            .distinct()
            .count()
        )
        bloom_df, m_bits = _bloom_build(gaz, n_tok0)

        # measured FPR: probe tokens that are DEFINITELY not anchors
        # ("neg<i>" never appears as a first token)
        n_probe = 200_000
        probes = spark.range(n_probe).select(
            F.concat(F.lit("neg"), F.col("id").cast("string")).alias("t")
        )
        fp = (
            probes.crossJoin(F.broadcast(bloom_df))
            .where(_bloom_test(m_bits, "t"))
            .count()
        )

        def run() -> tuple[float, int]:
            t0 = time.time()
            n = detect_mentions_ngram(docs, gaz, max_inline_surfaces=0).count()
            return time.time() - t0, n

        run()  # warm-up
        walls = []
        n_mentions = None
        for _ in range(3):
            w, n_mentions = run()
            walls.append(w)

        out["points"][str(n_surfaces)] = {
            "n_distinct_first_tokens": n_tok0,
            "bloom_bits": m_bits,
            "bloom_bytes": m_bits // 8,
            "measured_fp_rate": round(fp / n_probe, 5),
            "wall_sec_min3": round(min(walls), 3),
            "walls": [round(w, 3) for w in walls],
            "n_mentions": n_mentions,
        }
        gaz.unpersist()

    p5, p6 = out["points"]["100000"], out["points"]["1000000"]
    out["wall_ratio_1e6_over_1e5"] = round(
        p6["wall_sec_min3"] / p5["wall_sec_min3"], 2
    )
    print(json.dumps(out))
    (REPO / "BENCH").mkdir(exist_ok=True)
    (REPO / "BENCH" / "mentions_1e6.json").write_text(
        json.dumps(out, indent=2) + "\n"
    )
    spark.stop()


if __name__ == "__main__":
    main()
