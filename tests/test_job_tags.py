"""Every Spark job of a `dedup()` and a `dedup_increment` call carries
its pipeline stage as a job tag (`pipeline._job_tag`), so an event log
reads as the pipeline."""

import glob
import os
import subprocess
import sys

from tools.stage_tags import per_stage

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEDUP_TAGS = {
    "enriched", "edges_exact", "cand_minhash", "edges_minhash", "edges_simhash",
    "cand_substring", "edges_substring", "assignments", "clusters",
}
INCREMENT_TAGS = {
    "enriched", "bounds", "edges_exact", "cand_minhash", "sigs_minhash",
    "edges_minhash", "components",
}

# Runs in a fresh process: the event log is written per application and
# complete only once the context stops. A marker job before each call
# tells their jobs apart, as in tools/stage_tags.py.
SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from deduplication_spark.config import DedupConfig
from deduplication_spark.corpus import generate_corpus
from deduplication_spark.increment import dedup_increment, index_from_enriched
from deduplication_spark.pipeline import dedup
from deduplication_spark.session import get_spark

spark = get_spark(cores=2, extra_conf={{
    "spark.ui.showConsoleProgress": "false",
    "spark.eventLog.enabled": "true", "spark.eventLog.dir": {log_dir!r},
    "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
}})
docs = spark.createDataFrame(
    generate_corpus(300, seed=3, max_tokens=300).documents[["doc_id", "text"]]
)
def marker(i):
    spark.sparkContext.addJobTag(f"call-{{i}}")
    spark.range(1).count()
    spark.sparkContext.removeJobTag(f"call-{{i}}")

marker(0)
res = dedup(spark, docs.filter(F.col("doc_id") < 240), run_dir={run_dir!r})
marker(1)
index = index_from_enriched(res.enriched, res.assignments, DedupConfig())
dedup_increment(spark, docs.filter(F.col("doc_id") >= 240), index)
spark.stop()
"""


def test_every_job_of_a_call_carries_its_stage_tag(tmp_path):
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    script = SCRIPT.format(
        repo=REPO, log_dir=str(log_dir), run_dir=str(tmp_path / "run")
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    (log,) = glob.glob(str(log_dir / "*"))
    # an untagged job reads as "(untagged)" and a job with two stage
    # tags as their comma-joined pair: either breaks the equality
    calls = per_stage(log)
    assert [set(c) for c in calls] == [DEDUP_TAGS, INCREMENT_TAGS]
