"""spark-submit entry point for batch-incremental dedup — the daily-
crawl production loop (increment.py module docstring):

Build the initial member index once, from a completed full run's
stage snapshots (zero UDF recompute — reads the `enriched` and
`assignments` stages):

    spark-submit --py-files dist/deduplication_spark.zip \
        tools/run_increment.py init \
        --run-dir /runs/dedup_full_2026_08_01 \
        --index-out /runs/index

Then, per crawl increment:

    spark-submit --py-files dist/deduplication_spark.zip \
        tools/run_increment.py probe \
        --index /runs/index \
        --new /data/crawl_2026_08_17.parquet \
        --assignments-out /runs/crawl_2026_08_17_assignments \
        --index-out /runs/index_next \
        [--base-docs /data/documents.parquet]   # enables exact verify
        [--tiers exact,minhash[,simhash]]
        [--config /runs/dedup_full_2026_08_01/run_config.json]

`--config` must match the index's signature config when the index was
built from a non-default run (the pin raises ConfigMismatch
otherwise — by design, a drifted config silently zeroes LSH recall).

`--index-out` writes the UPDATED index (base ∪ new memberships).
Cluster merges caused by bridging docs are printed (and written next
to the assignments), never applied silently.

Also runnable as plain `python tools/run_increment.py ...` (the local
session factory ships the package via addPyFile when spark-submit
didn't — same bootstrap as run_pipeline.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.run_pipeline import resolve_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="mode", required=True)

    ap_init = sub.add_parser("init", help="build index from a full run's run-dir")
    ap_init.add_argument("--run-dir", required=True)
    ap_init.add_argument("--index-out", required=True)
    ap_init.add_argument("--cores", type=int, default=None)

    ap_probe = sub.add_parser("probe", help="dedup a new batch against an index")
    ap_probe.add_argument("--index", required=True)
    ap_probe.add_argument("--new", required=True, help="new batch parquet path")
    ap_probe.add_argument("--assignments-out", required=True)
    ap_probe.add_argument("--index-out", default=None, help="write updated index")
    ap_probe.add_argument("--base-docs", default=None, help="base documents parquet (enables exact verify of borderline pairs)")
    ap_probe.add_argument("--tiers", default="exact,minhash")
    ap_probe.add_argument("--id-col", default="doc_id")
    ap_probe.add_argument("--text-col", default="text")
    ap_probe.add_argument("--config", default=None, help="DedupConfig JSON file matching the index's signature config (e.g. the originating run's run_config.json); default config otherwise")
    ap_probe.add_argument("--cores", type=int, default=None)

    args = ap.parse_args()

    from deduplication_spark.config import DedupConfig
    from deduplication_spark.increment import dedup_increment, index_from_enriched
    from deduplication_spark.io import StageStore

    spark = resolve_session("dedup_increment", args.cores)

    if args.mode == "init":
        # adopt the run's OWN pinned config (incl. the tier-set pin in
        # cfg.extra) — a fresh DedupConfig() would ConfigMismatch
        # against any non-default run, and the index pin must carry the
        # signature params the enriched stage was actually built with
        cfg_path = os.path.join(args.run_dir, "run_config.json")
        if not os.path.exists(cfg_path):
            raise SystemExit(f"{args.run_dir} has no run_config.json — not a run dir")
        with open(cfg_path) as f:
            cfg = DedupConfig.from_json(f.read())
        store = StageStore(spark, args.run_dir, cfg)
        for stage in ("enriched", "assignments"):
            if not store.exists(stage):
                raise SystemExit(
                    f"run-dir has no completed '{stage}' stage — "
                    "finish the full run (tools/run_pipeline.py) first"
                )
        index = index_from_enriched(
            store.read("enriched"), store.read("assignments"), cfg=cfg
        )
        index.write.mode("overwrite").parquet(args.index_out)
        n = spark.read.parquet(args.index_out).count()
        print(json.dumps({"mode": "init", "index_rows": n, "index": args.index_out}))
        return

    cfg = DedupConfig()
    if args.config:
        with open(args.config) as f:
            cfg = DedupConfig.from_json(f.read())
    index = spark.read.parquet(args.index)
    new_docs = spark.read.parquet(args.new)
    base_docs = spark.read.parquet(args.base_docs) if args.base_docs else None
    inc = dedup_increment(
        spark,
        new_docs,
        index,
        cfg,
        base_docs=base_docs,
        id_col=args.id_col,
        text_col=args.text_col,
        tiers=tuple(t.strip() for t in args.tiers.split(",") if t.strip()),
    )
    inc.assignments.write.mode("overwrite").parquet(args.assignments_out)
    merges = inc.merges.collect()
    if merges:
        inc.merges.write.mode("overwrite").parquet(
            args.assignments_out.rstrip("/") + "_merges"
        )
    if args.index_out:
        inc.index.write.mode("overwrite").parquet(args.index_out)
    print(
        json.dumps(
            {
                "mode": "probe",
                "new_docs": spark.read.parquet(args.assignments_out).count(),
                "merges": [r.asDict() for r in merges],
                "metrics": inc.metrics,
                "index_out": args.index_out,
            },
            default=str,
        )
    )


if __name__ == "__main__":
    main()
