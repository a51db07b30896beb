"""Two-cluster-size scaling evidence (BASELINE.md protocol).

No real multi-executor cluster exists in this sandbox; per driver
instruction the north_rule's "N vs 4N executors" criterion is evidenced
by running the SAME job on the SAME input at two local parallelism
levels on this 32-core host:

    N  = local[8]     4N = local[32]
    efficiency = (docs_per_sec@32 / docs_per_sec@8) / 4   (target >= 0.8)

Each level runs in a FRESH subprocess (own JVM) so nothing is warm-
shared; the input is a deterministic synthetic corpus (seed 42) written
once and read by both. Results APPEND to BENCH/scaling_runs.jsonl;
BENCH/BASELINE.md is hand-curated from that record.

Usage: python tools/scaling_bench.py [n_docs]      (default 20000)
       python tools/scaling_bench.py --worker <corpus_dir> <cores>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def worker(corpus_dir: str, cores: int) -> None:
    from deduplication_spark.config import DedupConfig
    from deduplication_spark.pipeline import dedup
    from deduplication_spark.session import get_spark

    # SAME shuffle partitioning at both levels (the north_rule compares
    # the same job+config at two cluster sizes; on a real cluster
    # partitions are sized to DATA, and more executors only means fewer
    # waves). 64 partitions ~= 2x the larger level's cores.
    spark = get_spark(
        app_name=f"scaling_local{cores}", cores=cores, shuffle_partitions=64
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(corpus_dir, "documents.parquet"))
    n = docs.count()
    t0 = time.time()
    res = dedup(spark, docs, DedupConfig())
    res.assignments.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    n_clusters = res.clusters.count()  # outside the timed window
    print(
        "WORKER_RESULT "
        + json.dumps(
            {
                "cores": cores,
                "n_docs": n,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n / wall, 1),
                "n_clusters": n_clusters,
                "dup_ratio": round(1 - n_clusters / n, 4),
            }
        )
    )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(sys.argv[2], int(sys.argv[3]))
        return

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    corpus_dir = f"/tmp/scaling_corpus_{n_docs}"
    if not os.path.exists(os.path.join(corpus_dir, "documents.parquet")):
        from deduplication_spark.corpus import generate_corpus, write_corpus

        print(f"generating {n_docs}-doc corpus -> {corpus_dir}", file=sys.stderr)
        write_corpus(generate_corpus(n_docs, with_jaccard=False), corpus_dir)

    repeats = int(os.environ.get("SCALING_REPEATS", "3"))
    levels = tuple(
        int(x) for x in os.environ.get("SCALING_LEVELS", "8,32").split(",")
    )
    n_lvl, n4_lvl = levels
    results = {}
    for cores in levels:
        best = None
        for r in range(repeats):
            out = subprocess.run(
                [sys.executable, __file__, "--worker", corpus_dir, str(cores)],
                capture_output=True,
                text=True,
                check=False,
            )
            line = [
                l for l in out.stdout.splitlines() if l.startswith("WORKER_RESULT ")
            ]
            if not line:
                print(out.stdout[-3000:], out.stderr[-3000:], file=sys.stderr)
                raise RuntimeError(f"worker local[{cores}] failed")
            res = json.loads(line[-1].removeprefix("WORKER_RESULT "))
            print(f"local[{cores}] run {r}: {res}", file=sys.stderr)
            # best-of-N: this host has noisy co-tenants (measured 2x
            # run-to-run variance on identical configs); best-of
            # approximates uncontended capability at each level
            if best is None or res["wall_sec"] < best["wall_sec"]:
                best = res
        results[cores] = best
        print(f"local[{cores}] best: {best}", file=sys.stderr)

    # same input, same config -> identical logical output expected
    assert results[n_lvl]["n_clusters"] == results[n4_lvl]["n_clusters"], "output mismatch"

    # divide by the ACTUAL level ratio (SCALING_LEVELS is configurable;
    # a hardcoded 4 mis-scores any non-4x pairing)
    ratio = n4_lvl / n_lvl
    eff = (
        results[n4_lvl]["docs_per_sec"] / results[n_lvl]["docs_per_sec"]
    ) / ratio
    summary = {
        "n_docs": n_docs,
        "levels": list(levels),
        "n": results[n_lvl],
        "n4": results[n4_lvl],
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "meets_target": eff >= 0.8,
    }
    print(json.dumps(summary))

    # append-only JSON artifact; BENCH/BASELINE.md is hand-curated
    # (protocol rationale, regime history, A/B analyses) and is updated
    # from this record — earlier versions of this script OVERWROTE the
    # curated file with a bare template, losing the analysis
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    dest = os.path.join(REPO, "BENCH", "scaling_runs.jsonl")
    with open(dest, "a") as f:
        f.write(json.dumps({"repeats": repeats, **summary}) + "\n")
    print(f"appended {dest}", file=sys.stderr)


if __name__ == "__main__":
    main()
