"""Per-stage jobs, tasks and task-seconds of `dedup()` calls, read from
the Spark event log by the stage tag every pipeline job carries
(`pipeline._job_tag`).

    python tools/stage_tags.py DOCS_PARQUET [--run-dir DIR] [--bucket-pair-cap N]

Runs a cold and then a warm `dedup()` call over the (doc_id, text)
parquet in one process on every core this process may use, each call
into its own StageStore dir under `--run-dir` if given, else on the
in-memory store. Prints one table per call: for each stage tag its
jobs, tasks and task-seconds (executor run time), then the call's wall
time and totals. The last stdout line is the same as one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deduplication_spark.config import DedupConfig  # noqa: E402
from deduplication_spark.pipeline import dedup  # noqa: E402
from deduplication_spark.session import get_spark  # noqa: E402


def _tags(props: dict | None) -> str:
    """The pipeline's stage tag of a job; Spark's own tags (session,
    execution, broadcast run ids) and the call tag every stage job also
    carries (`pipeline._Stages.call`) are dropped."""
    tags = (props or {}).get("spark.job.tags", "").split(",")
    drop = ("spark-", "broadcast ", "dedup-call-")
    ours = sorted(t for t in tags if t and not t.startswith(drop))
    return ",".join(ours) or "(untagged)"


def per_stage(log_file: str) -> list[dict]:
    """One dict per marker-delimited call: {tag: [jobs, tasks, task_s]};
    jobs before the first marker are left out."""
    calls: list[dict] = []
    stage_tag: dict[int, str] = {}
    marker = None
    with open(log_file) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                tag = _tags(ev.get("Properties"))
                if tag.startswith("call-"):
                    if tag != marker:
                        calls.append({})
                    marker = tag
                elif calls:
                    calls[-1].setdefault(tag, [0, 0, 0.0])[0] += 1
            elif kind == "SparkListenerStageSubmitted":
                stage_tag[ev["Stage Info"]["Stage ID"]] = _tags(ev.get("Properties"))
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(ev["Stage ID"], "(untagged)")
                if tag.startswith("call-") or not calls:
                    continue
                row = calls[-1].setdefault(tag, [0, 0, 0.0])
                row[1] += 1
                row[2] += (ev.get("Task Metrics") or {}).get("Executor Run Time", 0) / 1000
    return calls


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("docs")
    p.add_argument("--run-dir")
    p.add_argument("--bucket-pair-cap", type=int, default=DedupConfig.bucket_pair_cap)
    args = p.parse_args()

    log_dir = tempfile.mkdtemp(prefix="stage_tags_")
    try:
        cores = len(os.sched_getaffinity(0))
        spark = get_spark(app_name="stage_tags", cores=cores, extra_conf={
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        })
        spark.sparkContext.setLogLevel("ERROR")
        cfg = DedupConfig(bucket_pair_cap=args.bucket_pair_cap)
        # read before the first marker: the parquet schema read is a
        # job of its own, outside the calls
        docs = spark.read.parquet(args.docs).select("doc_id", "text")
        walls = []
        for i in range(2):  # cold, then warm
            # a marker job opens each call's section of the log
            spark.sparkContext.addJobTag(f"call-{i}")
            spark.range(1).count()
            spark.sparkContext.removeJobTag(f"call-{i}")
            run_dir = args.run_dir and os.path.join(args.run_dir, f"call{i}")
            t0 = time.time()
            dedup(spark, docs, cfg, run_dir=run_dir)
            walls.append(time.time() - t0)
        spark.stop()
        (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        calls = per_stage(log)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    out = []
    for i, (wall, stages) in enumerate(zip(walls, calls)):
        print(f"\ncall {i}  wall {wall:.2f} s")
        print(f"  {'stage':<16} {'jobs':>5} {'tasks':>6} {'task_s':>8}")
        for tag, (jobs, tasks, task_s) in sorted(stages.items()):
            print(f"  {tag:<16} {jobs:>5} {tasks:>6} {task_s:>8.2f}")
        tot = [sum(v[k] for v in stages.values()) for k in range(3)]
        print(f"  {'total':<16} {tot[0]:>5} {tot[1]:>6} {tot[2]:>8.2f}")
        out.append({"wall_s": wall, "stages": stages})
    print(json.dumps(out))


if __name__ == "__main__":
    main()
