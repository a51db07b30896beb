"""Million-document full-pipeline drill — the largest committed scale
evidence point (4.2x the 240k skew drill, 200x the sf0.1 bench corpus).

The corpus is synthesized fully vectorized (numpy; no external data):

- 90% unique docs: 72 tokens drawn from a 5e7-symbol space (no
  accidental overlap between unique docs).
- 5% exact duplicates of earlier unique docs (true Jaccard 1.0).
- 5% near duplicates: one interior token substituted (true k=5 shingle
  Jaccard ~= (S-k)/(S+k) ~= 0.87 at S=68 shingles — above the 0.8
  verify threshold with ~2 sigma margin, so recall exercises the
  confidence-banded exact-verify path, not just the LSH fast path).

Ground truth is computed EXACTLY per planted pair (k-shingle Jaccard on
raw token tuples, hash-free — same oracle construction as
deduplication_spark/corpus.py), so the reported recall is against true
Jaccard >= threshold, not against the planting intent.

Reports, into BENCH/million_doc_drill.json: corpus/build wall, pipeline
wall per run (best-of-N), docs/sec, planted-pair recall (the BASELINE
"dup-pair recall >= 0.99" criterion at 1M docs), sub-threshold merge
rate (precision proxy on planted pairs with true J < 0.8), cluster
count, and max RSS (driver + JVM VmHWM, reference protocol
scripts/encode_bench.sh:67-80).

Staged like the skew drill (a 1M run exceeds a single invocation's
patience budget; state accumulates in --dir):
    python tools/million_doc_drill.py --stage corpus --dir /tmp/mdrill
    python tools/million_doc_drill.py --stage run    --dir /tmp/mdrill
    python tools/million_doc_drill.py --stage run    --dir /tmp/mdrill
    python tools/million_doc_drill.py --stage finish --dir /tmp/mdrill
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deduplication_spark.config import DedupConfig  # noqa: E402
from deduplication_spark.pipeline import dedup  # noqa: E402
from deduplication_spark.session import get_spark  # noqa: E402

N_DOCS = 1_000_000
TOKENS = 72
FRAC_EXACT = 0.05
FRAC_NEAR = 0.05
SHINGLE_K = 5
SYMBOLS = 50_000_000


def _shingle_jaccard(a: np.ndarray, b: np.ndarray, k: int) -> float:
    sa = {tuple(a[i : i + k]) for i in range(len(a) - k + 1)}
    sb = {tuple(b[i : i + k]) for i in range(len(b) - k + 1)}
    return len(sa & sb) / len(sa | sb)


def make_corpus(out_dir: str) -> dict:
    t0 = time.time()
    rng = np.random.default_rng(0xA11)
    n_exact = int(N_DOCS * FRAC_EXACT)
    n_near = int(N_DOCS * FRAC_NEAR)
    n_unique = N_DOCS - n_exact - n_near

    toks = np.empty((N_DOCS, TOKENS), dtype=np.int64)
    toks[:n_unique] = rng.integers(0, SYMBOLS, size=(n_unique, TOKENS))

    # exact dups: copy a random unique source row
    src_exact = rng.integers(0, n_unique, size=n_exact)
    toks[n_unique : n_unique + n_exact] = toks[src_exact]

    # near dups: copy + substitute ONE interior token (positions
    # [k-1, TOKENS-k) so both edit tails carry full shingle windows)
    src_near = rng.integers(0, n_unique, size=n_near)
    near_rows = toks[src_near].copy()
    pos = rng.integers(SHINGLE_K - 1, TOKENS - SHINGLE_K, size=n_near)
    near_rows[np.arange(n_near), pos] = rng.integers(
        SYMBOLS, 2 * SYMBOLS, size=n_near
    )
    toks[n_unique + n_exact :] = near_rows

    texts = [" ".join(f"w{v}" for v in row) for row in toks]
    pd.DataFrame(
        {"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts}
    ).to_parquet(os.path.join(out_dir, "documents.parquet"), index=False, row_group_size=65536)

    # exact per-pair ground truth (hash-free shingle Jaccard)
    pairs = []
    for s, d in zip(src_exact, range(n_unique, n_unique + n_exact)):
        pairs.append((int(s), int(d), "exact", 1.0))
    for i, (s, d) in enumerate(
        zip(src_near, range(n_unique + n_exact, N_DOCS))
    ):
        pairs.append(
            (int(s), int(d), "near", _shingle_jaccard(toks[s], toks[d], SHINGLE_K))
        )
    pd.DataFrame(
        pairs, columns=["doc_a", "doc_b", "cls", "true_jaccard"]
    ).to_parquet(os.path.join(out_dir, "truth_pairs.parquet"), index=False)

    return {
        "n_docs": N_DOCS,
        "tokens_per_doc": TOKENS,
        "n_unique": n_unique,
        "n_exact": n_exact,
        "n_near": n_near,
        "corpus_build_sec": round(time.time() - t0, 1),
    }


def _max_rss_kb() -> dict:
    """Reference memory protocol — reuse bench.py's descendant-walking
    implementation (driver + JVM VmHWM + live pandas-UDF worker fleet)."""
    import bench

    return bench._max_rss_kb()


def run_once(state_dir: str, n_docs: int) -> dict:
    # driver-memory override for the 10M-doc variant (the local-mode
    # JVM hosts driver AND executors; the 8g default that fits 1M docs
    # is tight at 10x the checkpoint/shuffle volume)
    mem = os.environ.get("GRAFT_DRIVER_MEM")
    spark = get_spark(
        app_name="million_doc_drill",
        extra_conf={"spark.driver.memory": mem} if mem else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(state_dir, "documents.parquet"))
    t0 = time.time()
    res = dedup(spark, docs, DedupConfig())
    res.assignments.write.mode("overwrite").parquet(
        os.path.join(state_dir, "assignments.parquet")
    )
    wall = round(time.time() - t0, 1)

    # recall/precision against the exact planted ground truth
    asg = spark.read.parquet(os.path.join(state_dir, "assignments.parquet"))
    truth = spark.read.parquet(os.path.join(state_dir, "truth_pairs.parquet"))
    joined = (
        truth.join(asg.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("cluster_id", "ca")
        .select("doc_a", "doc_b", "cls", "true_jaccard", "ca")
        .join(asg.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("cluster_id", "cb")
    )
    from pyspark.sql import functions as F

    cfg = DedupConfig()
    agg = joined.agg(
        F.count(F.when(F.col("true_jaccard") >= cfg.jaccard_verify_threshold, 1)).alias("n_dup"),
        F.count(
            F.when(
                (F.col("true_jaccard") >= cfg.jaccard_verify_threshold)
                & (F.col("ca") == F.col("cb")),
                1,
            )
        ).alias("n_dup_found"),
        F.count(F.when(F.col("true_jaccard") < cfg.jaccard_verify_threshold, 1)).alias("n_sub"),
        F.count(
            F.when(
                (F.col("true_jaccard") < cfg.jaccard_verify_threshold)
                & (F.col("ca") == F.col("cb")),
                1,
            )
        ).alias("n_sub_merged"),
    ).collect()[0]
    n_clusters = asg.select("cluster_id").distinct().count()
    return {
        "wall_sec": wall,
        "docs_per_sec": round(n_docs / wall, 0),
        "n_dup_pairs_true": agg["n_dup"],
        "n_dup_pairs_found": agg["n_dup_found"],
        "recall": round(agg["n_dup_found"] / agg["n_dup"], 5),
        "n_subthreshold_pairs": agg["n_sub"],
        "n_subthreshold_merged": agg["n_sub_merged"],
        "n_clusters": n_clusters,
        "max_rss_kb": _max_rss_kb(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", required=True, choices=["corpus", "run", "finish"])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--n-docs", type=int, default=None,
                    help="override N_DOCS (smoke testing)")
    args = ap.parse_args()
    if args.n_docs:
        global N_DOCS
        N_DOCS = args.n_docs
    os.makedirs(args.dir, exist_ok=True)
    state_path = os.path.join(args.dir, "state.json")
    state = json.load(open(state_path)) if os.path.exists(state_path) else {}

    if args.stage == "corpus":
        state["corpus"] = make_corpus(args.dir)
    elif args.stage == "run":
        state.setdefault("runs", []).append(
            run_once(args.dir, state["corpus"]["n_docs"])
        )
    else:
        runs = state.get("runs", [])
        best = min(runs, key=lambda r: r["wall_sec"])
        out = {
            **state["corpus"],
            "runs_wall_sec": [r["wall_sec"] for r in runs],
            "best": best,
            "recall_all_runs": [r["recall"] for r in runs],
        }
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(repo, "BENCH", "million_doc_drill.json"), "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps(out, indent=1))

    with open(state_path, "w") as f:
        json.dump(state, f, indent=1)
    print(f"stage {args.stage} done", file=sys.stderr)


if __name__ == "__main__":
    main()
