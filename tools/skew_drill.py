"""LSH skew drill (round-3 verdict stretch item): a boilerplate swarm —
the known 100 TB hazard (SURVEY §4.1) — must NOT blow up wall time, and
the dropped-pair accounting must stay honest.

Two corpora of the same size and token budget:

- uniform: every doc unique random text (~40 tokens) — no swarm.
- skewed: 90% unique + a 10% boilerplate swarm: one fixed 40-token
  base text plus ONE distinct trailing token per doc (pairwise
  Jaccard ~ 0.95 — true near-dups with distinct hashes, so the exact
  tier does not remove them and every LSH band funnels the whole
  swarm into ONE bucket per band).

Uncapped, a 24k swarm is C(24000, 2) ~ 2.9e8 verification pairs PER
BAND. The cap (bucket_pair_cap=200) + chain-linking keeps candidates at
~head C(200,2) + (m-200) chain edges per band, deduped across bands —
connectivity (and thus cluster assignment) is preserved, dropped pairs
are counted, and wall time stays in the uniform corpus's ballpark
instead of exploding.

Reports, per corpus: full-pipeline wall (all runs + best), candidate
metrics of the minhash tier on the skewed corpus (n_capped_buckets,
dropped_pairs), and the swarm-cluster check (the swarm must land in ONE
cluster — capping never splits a bucket's component). Writes
BENCH/skew_drill.json.

One-shot (small n): python tools/skew_drill.py 24000
Staged (240k runs exceed a single invocation budget; state accumulates
in --dir, timing stages may be invoked repeatedly for best-of-N):
    python tools/skew_drill.py --stage corpus  --dir /tmp/skewdrill 240000
    python tools/skew_drill.py --stage uniform --dir /tmp/skewdrill
    python tools/skew_drill.py --stage skewed  --dir /tmp/skewdrill
    python tools/skew_drill.py --stage finish  --dir /tmp/skewdrill
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deduplication_spark.config import DedupConfig  # noqa: E402
from deduplication_spark.pipeline import dedup  # noqa: E402
from deduplication_spark.session import get_spark  # noqa: E402

SWARM_FRAC = 0.10
TOKENS = 40


def make_corpus(n_docs: int, skewed: bool, out_dir: str) -> tuple[str, int]:
    """Parquet documents table; returns (path, swarm_size)."""
    rng = np.random.default_rng(0x5EED if skewed else 0xFEED)
    n_swarm = int(n_docs * SWARM_FRAC) if skewed else 0
    n_unique = n_docs - n_swarm
    # unique docs: 40 tokens from a huge vocab (no accidental overlap)
    ints = rng.integers(0, 50_000_000, size=(n_unique, TOKENS))
    texts = [" ".join(f"w{v}" for v in row) for row in ints]
    # swarm: one base text + one distinct trailing token per doc
    if n_swarm:
        base = " ".join(f"b{v}" for v in rng.integers(0, 50_000_000, TOKENS))
        texts.extend(f"{base} v{i}" for i in range(n_swarm))
    pdf = pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
    )
    path = os.path.join(out_dir, "skewed" if skewed else "uniform")
    pdf.to_parquet(path, index=False)
    return path, n_swarm


def _spark():
    spark = get_spark(app_name="skew_drill")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def time_pipeline(spark, path: str, repeats: int):
    """Returns (wall_sec list, last run's DedupResult) — the result is
    handed back so callers can count clusters without re-running the
    whole pipeline."""
    runs, res = [], None
    for _ in range(repeats):
        t0 = time.time()
        res = dedup(spark, spark.read.parquet(path), DedupConfig())
        res.assignments.write.format("noop").mode("overwrite").save()
        runs.append(round(time.time() - t0, 2))
    return runs, res


def candidate_metrics(spark, skew_path: str, cfg: DedupConfig) -> tuple[dict, int]:
    from deduplication_spark.operators.candidates import bucket_pairs
    from deduplication_spark.operators.minhash_lsh import (
        band_key_buckets,
        with_minhash,
        with_shingles,
    )

    docs = spark.read.parquet(skew_path)
    members = band_key_buckets(
        with_minhash(with_shingles(docs, cfg), cfg), cfg
    )
    # one pass: the pairs count is the job that resolves the accounting
    cand = bucket_pairs(members, ["band_key"], cap=cfg.bucket_pair_cap)
    n = cand.pairs.count()
    return cand.accounting.get, n


def swarm_cluster_count(spark, skew_path: str, n_docs: int, n_swarm: int) -> int:
    docs = spark.read.parquet(skew_path)
    res = dedup(spark, docs, DedupConfig())
    return (
        res.assignments.filter(res.assignments.doc_id >= n_docs - n_swarm)
        .select("cluster_id")
        .distinct()
        .count()
    )


def write_report(state: dict) -> dict:
    cfg = DedupConfig()
    n_swarm = state["swarm_size"]
    out = {
        "n_docs": state["n_docs"],
        "swarm_size": n_swarm,
        "bucket_pair_cap": cfg.bucket_pair_cap,
        "wall_sec_uniform": {
            "best": min(state["uniform_runs"]),
            "runs": state["uniform_runs"],
        },
        "wall_sec_skewed": {
            "best": min(state["skewed_runs"]),
            "runs": state["skewed_runs"],
        },
        "skew_over_uniform": round(
            min(state["skewed_runs"]) / min(state["uniform_runs"]), 3
        ),
        "candidate_metrics_skewed": state["metrics"],
        "distinct_candidate_pairs": state["n_pairs"],
        "uncapped_pairs_per_band": n_swarm * (n_swarm - 1) // 2,
        "swarm_clusters": state["swarm_clusters"],
    }
    dest = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "skew_drill.json",
    )
    with open(dest, "w") as f:
        json.dump(out, f, indent=2)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("n_docs", nargs="?", type=int, default=None)
    ap.add_argument("--stage", choices=["corpus", "uniform", "skewed", "finish"])
    ap.add_argument("--dir", dest="state_dir")
    args = ap.parse_args()
    cfg = DedupConfig()

    if args.stage is None:
        # one-shot mode (small n): require EXPLICIT n_docs — a bare
        # invocation defaulting to 240k would run the full multi-pass
        # protocol the docstring says must be staged
        if args.n_docs is None:
            raise SystemExit(
                "one-shot mode needs an explicit n_docs (e.g. 24000); "
                "240k-scale runs use --stage (see module docstring)"
            )
        repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
        spark = _spark()
        with tempfile.TemporaryDirectory() as d:
            uni_path, _ = make_corpus(args.n_docs, skewed=False, out_dir=d)
            skew_path, n_swarm = make_corpus(args.n_docs, skewed=True, out_dir=d)
            uni_runs, _ = time_pipeline(spark, uni_path, repeats)
            skew_runs, skew_res = time_pipeline(spark, skew_path, repeats)
            state = {
                "n_docs": args.n_docs,
                "swarm_size": n_swarm,
                "uniform_runs": uni_runs,
                "skewed_runs": skew_runs,
            }
            state["metrics"], state["n_pairs"] = candidate_metrics(
                spark, skew_path, cfg
            )
            # swarm-cluster check from the LAST timed run — no extra
            # full-pipeline execution
            state["swarm_clusters"] = (
                skew_res.assignments.filter(
                    skew_res.assignments.doc_id >= args.n_docs - n_swarm
                )
                .select("cluster_id")
                .distinct()
                .count()
            )
        print(json.dumps(write_report(state)))
        return

    sd = args.state_dir
    if sd is None:
        raise SystemExit("--stage requires --dir")
    os.makedirs(sd, exist_ok=True)
    state_path = os.path.join(sd, "state.json")
    state = json.load(open(state_path)) if os.path.exists(state_path) else {}
    if args.stage != "corpus" and not state:
        # fail BEFORE any Spark work: a later stage without corpus
        # state would otherwise crash (KeyError/min([])) after minutes
        # of pipeline execution
        raise SystemExit(
            f"no state at {state_path} — run --stage corpus first"
        )
    if args.stage == "finish" and not (
        state.get("uniform_runs") and state.get("skewed_runs")
    ):
        raise SystemExit(
            "finish needs at least one completed --stage uniform AND "
            "one --stage skewed timing run"
        )

    if args.stage == "corpus":
        n_docs = args.n_docs if args.n_docs is not None else 240_000
        make_corpus(n_docs, skewed=False, out_dir=sd)
        _, n_swarm = make_corpus(n_docs, skewed=True, out_dir=sd)
        state = {
            "n_docs": n_docs,
            "swarm_size": n_swarm,
            "uniform_runs": [],
            "skewed_runs": [],
        }
    elif args.stage in ("uniform", "skewed"):
        spark = _spark()
        path = os.path.join(sd, args.stage)
        runs, _ = time_pipeline(spark, path, repeats=1)
        state[f"{args.stage}_runs"] += runs
    elif args.stage == "finish":
        spark = _spark()
        skew_path = os.path.join(sd, "skewed")
        state["metrics"], state["n_pairs"] = candidate_metrics(
            spark, skew_path, cfg
        )
        state["swarm_clusters"] = swarm_cluster_count(
            spark, skew_path, state["n_docs"], state["swarm_size"]
        )
        print(json.dumps(write_report(state)))

    with open(state_path, "w") as f:
        json.dump(state, f)
    print(f"stage {args.stage} done: {state_path}", file=sys.stderr)


if __name__ == "__main__":
    main()
