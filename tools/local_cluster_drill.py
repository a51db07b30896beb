"""Multi-process executor evidence via Spark's local-cluster mode
(round-5 verdict "Next round" #3).

All committed scaling evidence so far runs local[k] — one JVM,
in-process shuffles. `local-cluster[E,C,M]` launches E REAL executor
JVMs with C cores and M MB each, talking to the driver over the actual
RPC/shuffle-transfer stack: serialized network shuffles, per-executor
Python worker pools, broadcast over the wire. It is the closest
in-sandbox approximation to BASELINE.json's two-cluster-size criterion.

Protocol (mirrors tools/scaling_bench.py: fresh subprocess per level,
same corpus, same shuffle partitioning, best-of-N, noop sink):

  levels:  local[8]                 - 8 cores, 1 JVM (the baseline mode)
           local-cluster[2,4,8192]  - 8 cores, 2 executor JVMs
           local-cluster[8,4,8192]  - 32 cores, 8 executor JVMs

  parity    = wall(local-cluster 8 cores) / wall(local[8])
              (process-boundary + network-shuffle overhead factor)
  efficiency= (docs_per_sec@8x4 / docs_per_sec@2x4) / 4
              (the N -> 4N executor-count scaling gate, >= 0.8, now
               across real process boundaries)

Results append to BENCH/scaling_runs.jsonl (kind=local_cluster) and a
summary lands in BENCH/local_cluster_drill.json.

Usage: python tools/local_cluster_drill.py [n_docs]     (default 240000)
       python tools/local_cluster_drill.py --worker <corpus_dir> <master>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LEVELS = {
    "local[8]": 8,
    "local-cluster[2,4,8192]": 8,
    "local-cluster[8,4,8192]": 32,
}


def worker(corpus_dir: str, master: str) -> None:
    from deduplication_spark.config import DedupConfig
    from deduplication_spark.pipeline import dedup
    from deduplication_spark.session import get_spark

    # same shuffle partitioning at every level (scaling_bench protocol).
    # local-cluster gotcha: the master string's MB figure is the
    # WORKER's advertised memory; executors still launch with
    # spark.executor.memory (default 1g) — without the explicit
    # setting every executor OOMed at 1 GiB (exit code 52, guide §7.4)
    extra = (
        {"spark.executor.memory": "6g"} if "local-cluster" in master else {}
    )
    spark = get_spark(
        app_name=f"lc_drill_{master}",
        master=master,
        shuffle_partitions=64,
        extra_conf=extra,
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
                "master": master,
                "cores": LEVELS.get(master),
                "n_docs": n,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n / wall, 1),
                "n_clusters": n_clusters,
            }
        )
    )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(sys.argv[2], sys.argv[3])
        return

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 240000
    corpus_dir = f"/tmp/scaling_corpus_{n_docs}"
    if not os.path.exists(os.path.join(corpus_dir, "documents.parquet")):
        from deduplication_spark.corpus import generate_corpus, write_corpus

        print(f"generating {n_docs}-doc corpus -> {corpus_dir}", file=sys.stderr)
        write_corpus(generate_corpus(n_docs, with_jaccard=False), corpus_dir)

    repeats = int(os.environ.get("SCALING_REPEATS", "3"))
    # GRAFT_LC_LEVELS: semicolon-separated subset of LEVELS (e.g. just the
    # two local-cluster sizes for a long-corpus efficiency pair)
    sel = os.environ.get("GRAFT_LC_LEVELS")
    levels = (
        {m: LEVELS[m] for m in sel.split(";")} if sel else dict(LEVELS)
    )
    results: dict[str, dict] = {}
    for master in levels:
        best = None
        for r in range(repeats):
            out = subprocess.run(
                [sys.executable, __file__, "--worker", corpus_dir, master],
                capture_output=True,
                text=True,
                check=False,
            )
            line = [
                l
                for l in out.stdout.splitlines()
                if l.startswith("WORKER_RESULT ")
            ]
            if not line:
                print(out.stdout[-3000:], out.stderr[-3000:], file=sys.stderr)
                raise RuntimeError(f"worker {master} failed")
            res = json.loads(line[-1].removeprefix("WORKER_RESULT "))
            print(f"{master} run {r}: {res}", file=sys.stderr)
            if best is None or res["wall_sec"] < best["wall_sec"]:
                best = res
        results[master] = best
        print(f"{master} best: {best}", file=sys.stderr)

    clusters = {r["n_clusters"] for r in results.values()}
    assert len(clusters) == 1, f"output mismatch across masters: {results}"

    summary = {
        "kind": "local_cluster",
        "n_docs": n_docs,
        "levels": results,
    }
    lc2 = results.get("local-cluster[2,4,8192]")
    lc8 = results.get("local-cluster[8,4,8192]")
    l8 = results.get("local[8]")
    if lc2 and l8:
        summary["process_boundary_overhead_vs_local8"] = round(
            lc2["wall_sec"] / l8["wall_sec"], 3
        )
    if lc2 and lc8:
        eff = (lc8["docs_per_sec"] / lc2["docs_per_sec"]) / 4
        summary["scaling_efficiency_2x4_to_8x4"] = round(eff, 3)
        summary["target"] = 0.8
        summary["meets_target"] = eff >= 0.8
    print(json.dumps(summary))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling_runs.jsonl"), "a") as f:
        f.write(json.dumps({"ts": time.time(), **summary}) + "\n")
    out_name = f"local_cluster_drill_{n_docs}.json" if sel else "local_cluster_drill.json"
    with open(os.path.join(REPO, "BENCH", out_name), "w") as f:
        json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
