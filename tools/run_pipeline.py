"""spark-submit entry point for the tiered dedup pipeline (north_rule
launch mode):

    python tools/package.py                      # -> dist/deduplication_spark.zip
    spark-submit --py-files dist/deduplication_spark.zip \
        tools/run_pipeline.py \
        --input  /data/documents.parquet \
        --run-dir /runs/dedup_2026_08_16 \
        --output /data/assignments.parquet \
        [--tiers exact,minhash,simhash,substring]
        [--config cfg.json]     # DedupConfig JSON (run_config.json format)

Also runnable as plain `python tools/run_pipeline.py ...` (the session
factory ships the package via addPyFile when spark-submit didn't).
Re-launching with the same --run-dir resumes from the last completed
stage; a changed config fails fast (ConfigMismatch).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def resolve_session(app_name: str, cores: int | None):
    """Session bootstrap shared by the spark-submit entry points
    (run_pipeline / run_increment): reuse an active session, else build
    from the submitted conf (never overriding a cluster --master with
    local[*]), else fall back to the local session factory. Always
    ships the package to executors (--py-files analog)."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # under spark-submit, Python apps get NO pre-created session
        # (getActiveSession is None) but the JVM gateway already runs
        # with spark.master from the submit command (the env var is how
        # the driver python finds it) — building with .master() here
        # would silently override a cluster --master with local[*].
        # Create the session from the submitted conf, then ship the
        # package.
        spark = SparkSession.builder.getOrCreate()
        from deduplication_spark.session import _ship_package

        _ship_package(spark)
        return spark
    from deduplication_spark.session import get_spark

    return get_spark(app_name=app_name, cores=cores)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--run-dir", required=True, help="stage-snapshot dir (resume key)")
    ap.add_argument("--output", default=None, help="assignments parquet out path")
    ap.add_argument("--tiers", default="exact,minhash,simhash,substring")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--config", default=None, help="DedupConfig JSON file (the run_config.json format); default config otherwise")
    ap.add_argument("--cores", type=int, default=None, help="local cores (ignored under spark-submit)")
    args = ap.parse_args()

    from deduplication_spark.config import DedupConfig
    from deduplication_spark.pipeline import dedup

    cfg = DedupConfig()
    if args.config:
        with open(args.config) as f:
            cfg = DedupConfig.from_json(f.read())
    spark = resolve_session("dedup_pipeline", args.cores)
    docs = spark.read.parquet(args.input)
    res = dedup(
        spark,
        docs,
        cfg,
        run_dir=args.run_dir,
        tiers=tuple(t.strip() for t in args.tiers.split(",") if t.strip()),
        id_col=args.id_col,
        text_col=args.text_col,
    )
    if args.output:
        res.assignments.write.mode("overwrite").parquet(args.output)
    else:
        res.assignments.write.format("noop").mode("overwrite").save()
    print(json.dumps({"metrics": res.metrics, "lineage": res.lineage}, default=str))


if __name__ == "__main__":
    main()
