"""Same-window A/B bench: run the CURRENT repo's bench.py and a PRIOR
round's checkout back-to-back, interleaved, in one session window — the
sandbox drifts ±20% across invocations, so only paired runs separate
code effects from drift (VERDICT r2 #10).

Usage: python scripts/bench_ab.py <other_repo_dir> [sf_dir] [n_rounds]
Appends one run to the JSON array in BENCH/ab_vs_prior.json: per-query
min-of-rounds for both checkouts and the ratio.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def run_bench(repo: Path, sf_dir: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    out = subprocess.run(
        [sys.executable, str(repo / "bench.py")],
        capture_output=True, text=True, env=env, cwd=str(repo), timeout=900,
    )
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(out.stderr[-2000:])


def main() -> None:
    other = Path(sys.argv[1]).resolve()
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n_rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    cur_runs, old_runs = [], []
    for i in range(n_rounds):  # interleaved: drift hits both sides alike
        cur_runs.append(run_bench(REPO, sf_dir))
        old_runs.append(run_bench(other, sf_dir))

    def best(runs: list[dict]) -> dict:
        queries = runs[0]["queries"].keys()
        return {q: min(r["queries"][q] for r in runs if q in r["queries"])
                for q in queries}

    cur, old = best(cur_runs), best(old_runs)
    shared = sorted(set(cur) & set(old))
    result = {
        "sf_dir": sf_dir,
        "rounds": n_rounds,
        "current_suite_sec": round(sum(cur.values()), 3),
        "prior_suite_sec": round(sum(old[q] for q in shared), 3),
        "queries": {
            q: {"current": cur[q], "prior": old[q],
                "ratio": round(cur[q] / old[q], 3)}
            for q in shared
        },
        "current_only": sorted(set(cur) - set(old)),
    }
    print(json.dumps(result))
    (REPO / "BENCH").mkdir(exist_ok=True)
    out = REPO / "BENCH" / "ab_vs_prior.json"
    runs = json.loads(out.read_text()) if out.exists() else []
    if isinstance(runs, dict):  # a single run written before the array form
        runs = [runs]
    out.write_text(json.dumps(runs + [result], indent=2) + "\n")


if __name__ == "__main__":
    main()
