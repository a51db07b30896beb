"""Increment steady-state scale drill: is dedup_increment O(|new|), or
does it secretly scale with the BASE corpus?

The claim (increment.py module docstring, VERDICT r4 "probe-shaped
LSH") is that a daily-crawl increment touches O(|new|) enrichment +
O(|new| x bands) band probes — never the base text. The committed
evidence so far is at a 240k base; this drill measures the SAME
10k-doc batch shape against a 100k-doc base and a 1,000,000-doc base
(10x apart) and reports both walls. A base-size-independent increment
should show the wall growing far slower than 10x — the residual growth
is the index parquet scan (one id/hash/signature projection, no text),
reported honestly via the index row counts.

Batch shape (per base, ids start at 2,000,000 > every base id):
- 6,000 fresh unique docs (token symbols disjoint from the base's),
- 2,000 exact copies of random base unique docs,
- 2,000 near dups: one interior token of a base unique doc substituted
  (true k=5 shingle Jaccard ~= 0.87 — above the 0.8 verify threshold).

Recall oracle: every planted doc must land in its base source's
cluster (base assignments joined through the planted (src, new) pairs).
Exact verification of borderline pairs runs for real (`base_docs` is
supplied), so the measured wall includes the honest verify path.

Reuses the million-doc drill corpus (tools/million_doc_drill.py --stage
corpus) as the 1M base; the 100k base is its doc_id < 100,000 prefix,
re-clustered independently with the same config.

    python tools/increment_scale_drill.py --stage prep   --dir /tmp/incdrill \
        --corpus /tmp/mdrill/documents.parquet
    python tools/increment_scale_drill.py --stage run    --dir /tmp/incdrill --base b100k
    python tools/increment_scale_drill.py --stage run    --dir /tmp/incdrill --base b1m
    (repeat runs for best-of-N)
    python tools/increment_scale_drill.py --stage finish --dir /tmp/incdrill
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
from deduplication_spark.increment import dedup_increment, index_from_enriched  # noqa: E402
from deduplication_spark.pipeline import dedup  # noqa: E402
from deduplication_spark.session import get_spark  # noqa: E402

BATCH_UNIQUE = 6_000
BATCH_EXACT = 2_000
BATCH_NEAR = 2_000
BATCH_ID0 = 2_000_000
BASES = {"b100k": 100_000, "b1m": None}  # None -> whole corpus


def _spark():
    spark = get_spark(app_name="increment_scale_drill")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def prep(state_dir: str, corpus_path: str) -> dict:
    spark = _spark()
    out = {}
    rng = np.random.default_rng(0x1234)
    full = pd.read_parquet(corpus_path)
    for name, limit in BASES.items():
        bdir = os.path.join(state_dir, name)
        os.makedirs(bdir, exist_ok=True)
        base_pdf = full if limit is None else full.iloc[:limit]
        base_path = os.path.join(bdir, "documents.parquet")
        base_pdf.to_parquet(base_path, index=False, row_group_size=65536)

        t0 = time.time()
        docs = spark.read.parquet(base_path)
        res = dedup(spark, docs, DedupConfig())
        res.assignments.write.mode("overwrite").parquet(
            os.path.join(bdir, "assignments.parquet")
        )
        index_from_enriched(
            res.enriched,
            spark.read.parquet(os.path.join(bdir, "assignments.parquet")),
            cfg=DedupConfig(),
        ).write.mode("overwrite").parquet(os.path.join(bdir, "index.parquet"))
        base_wall = round(time.time() - t0, 1)

        # batch: planted sources are UNIQUE base docs (90% head of the
        # million-doc corpus layout; the 100k prefix is all-unique)
        n_unique_base = (
            int(0.9 * len(base_pdf)) if limit is None else min(limit, len(base_pdf))
        )
        texts, truth = [], []
        nid = BATCH_ID0
        for _ in range(BATCH_UNIQUE):
            toks = [f"z{v}" for v in rng.integers(0, 50_000_000, 72)]
            texts.append((nid, " ".join(toks)))
            nid += 1
        src_exact = rng.integers(0, n_unique_base, size=BATCH_EXACT)
        for s in src_exact:
            texts.append((nid, base_pdf["text"].iloc[int(s)]))
            truth.append((int(base_pdf["doc_id"].iloc[int(s)]), nid, "exact"))
            nid += 1
        src_near = rng.integers(0, n_unique_base, size=BATCH_NEAR)
        for s in src_near:
            toks = base_pdf["text"].iloc[int(s)].split(" ")
            pos = int(rng.integers(4, len(toks) - 5))
            toks[pos] = f"z{int(rng.integers(0, 50_000_000))}"
            texts.append((nid, " ".join(toks)))
            truth.append((int(base_pdf["doc_id"].iloc[int(s)]), nid, "near"))
            nid += 1
        pd.DataFrame(texts, columns=["doc_id", "text"]).to_parquet(
            os.path.join(bdir, "batch.parquet"), index=False
        )
        pd.DataFrame(truth, columns=["src_id", "new_id", "cls"]).to_parquet(
            os.path.join(bdir, "truth.parquet"), index=False
        )
        out[name] = {
            "base_docs": int(len(base_pdf)),
            "base_full_run_plus_index_sec": base_wall,
            "batch_docs": BATCH_UNIQUE + BATCH_EXACT + BATCH_NEAR,
        }
    return out


def run_once(state_dir: str, base: str) -> dict:
    spark = _spark()
    bdir = os.path.join(state_dir, base)
    cfg = DedupConfig()

    t0 = time.time()
    index = spark.read.parquet(os.path.join(bdir, "index.parquet"))
    base_docs = spark.read.parquet(os.path.join(bdir, "documents.parquet"))
    new_docs = spark.read.parquet(os.path.join(bdir, "batch.parquet"))
    inc = dedup_increment(
        spark, new_docs, index, cfg, base_docs=base_docs
    )
    inc.assignments.write.mode("overwrite").parquet(
        os.path.join(bdir, "inc_assignments.parquet")
    )
    wall = round(time.time() - t0, 2)

    # recall: every planted (src, new) pair must share a cluster
    asg_new = spark.read.parquet(os.path.join(bdir, "inc_assignments.parquet"))
    asg_base = spark.read.parquet(os.path.join(bdir, "assignments.parquet"))
    truth = spark.read.parquet(os.path.join(bdir, "truth.parquet"))
    from pyspark.sql import functions as F

    joined = (
        truth.join(
            asg_base.select(
                F.col("doc_id").alias("src_id"), F.col("cluster_id").alias("c_src")
            ),
            "src_id",
        ).join(
            asg_new.select(
                F.col("doc_id").alias("new_id"), F.col("cluster_id").alias("c_new")
            ),
            "new_id",
        )
    )
    agg = joined.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("c_src") == F.col("c_new"), 1)).alias("found"),
    ).collect()[0]
    return {
        "base": base,
        "index_rows": index.count(),
        "increment_wall_sec": wall,
        "planted_pairs": agg["n"],
        "planted_found": agg["found"],
        "recall": round(agg["found"] / agg["n"], 5),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", required=True, choices=["prep", "run", "finish"])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--corpus", default="/tmp/mdrill/documents.parquet")
    ap.add_argument("--base", choices=list(BASES))
    args = ap.parse_args()
    os.makedirs(args.dir, exist_ok=True)
    state_path = os.path.join(args.dir, "state.json")
    state = json.load(open(state_path)) if os.path.exists(state_path) else {}

    if args.stage == "prep":
        state["prep"] = prep(args.dir, args.corpus)
    elif args.stage == "run":
        if not args.base:
            ap.error("--stage run requires --base")
        state.setdefault("runs", []).append(run_once(args.dir, args.base))
    else:
        runs = state.get("runs", [])
        best = {}
        for b in BASES:
            bruns = [r for r in runs if r["base"] == b]
            if bruns:
                best[b] = min(bruns, key=lambda r: r["increment_wall_sec"])
        out = {
            "prep": state["prep"],
            "runs": runs,
            "best": best,
        }
        if len(best) == 2:
            out["wall_ratio_1m_over_100k"] = round(
                best["b1m"]["increment_wall_sec"]
                / best["b100k"]["increment_wall_sec"],
                3,
            )
            out["base_ratio"] = 10.0
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(
            os.path.join(repo, "BENCH", "increment_scale_drill.json"), "w"
        ) as f:
            json.dump(out, f, indent=1)
        print(json.dumps(out, indent=1))

    with open(state_path, "w") as f:
        json.dump(state, f, indent=1)
    print(f"stage {args.stage} done", file=sys.stderr)


if __name__ == "__main__":
    main()
