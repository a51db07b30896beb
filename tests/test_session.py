"""The package shipped to the Python workers (session._ship_package) is
the tree the driver runs, whatever zips sit in the temp dir."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh process: a live context never refetches a path it has
# already shipped, so only a new session shows which zip it picks.
SCRIPT = """
import os, sys, tempfile, zipfile
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from deduplication_spark import session

# an older tree's zip, planted at the content-named path this process
# ships and at the per-PID path earlier versions reused unread
for path in (
    session._package_zip(),
    os.path.join(tempfile.gettempdir(), f"deduplication_spark_{{os.getpid()}}.zip"),
):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("deduplication_spark/__init__.py", "STALE = True\\n")
spark = session.get_spark(cores=1, shuffle_partitions=1)


@F.pandas_udf("boolean")
def stale(ids):
    import deduplication_spark

    return ids.map(lambda _: getattr(deduplication_spark, "STALE", False))


print("STALE", spark.range(1).select(stale("id")).first()[0])
spark.stop()
"""


def test_a_stale_zip_does_not_change_the_worker_code(tmp_path):
    """A zip of other code planted where the process looks for its
    package zip must not reach the workers: a pandas UDF still imports
    the current tree. The temp dir is private to the test and no
    PYTHONPATH points at the repo, so the workers can import the
    package from the shipped zip only."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "STALE False" in out.stdout.splitlines()


def test_package_zips_of_other_sources_are_removed_after_a_day(tmp_path, monkeypatch):
    """Each edited tree ships its own content-named zip; building one
    removes this user's zips older than a day, and keeps the one it
    built, younger ones and other users' zips."""
    import tempfile
    import time

    from deduplication_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    uid = os.getuid()
    old = tmp_path / f"deduplication_spark_{uid}_0123456789abcdef.zip"
    fresh = tmp_path / f"deduplication_spark_{uid}_fedcba9876543210.zip"
    other = tmp_path / f"deduplication_spark_{uid + 1}_0123456789abcdef.zip"
    for path in (old, fresh, other):
        path.write_bytes(b"zip")
    two_days_ago = time.time() - 2 * 24 * 3600
    for path in (old, other):
        os.utime(path, (two_days_ago, two_days_ago))
    current = session._package_zip()
    assert sorted(os.listdir(tmp_path)) == sorted(
        [os.path.basename(current), fresh.name, other.name]
    )


# Runs in a fresh process on one task slot, so the check below lands on
# a Python worker that ran the pipeline's UDFs (workers are reused).
PANDAS_FREE = """
import sys
import numpy as np
import pyarrow as pa
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from deduplication_spark import dedup, get_spark
from deduplication_spark.corpus import generate_corpus

spark = get_spark(cores=1, shuffle_partitions=1)
docs = spark.createDataFrame(
    generate_corpus(200, seed=2, max_tokens=300).documents[["doc_id", "text"]]
)
res = dedup(spark, docs)
print("DOCS", res.metrics["n_docs"])


@F.arrow_udf("boolean")
def has_pandas(ids: pa.Array) -> pa.Array:
    bits = np.packbits(np.full(len(ids), "pandas" in sys.modules), bitorder="little")
    return pa.Array.from_buffers(pa.bool_(), len(ids), [None, pa.py_buffer(bits)])


print("PANDAS", spark.range(1).select(has_pandas("id")).first()[0])
spark.stop()
"""


def test_workers_of_a_dedup_call_never_load_pandas(tmp_path):
    """Every UDF of the pipeline is an Arrow UDF over numpy buffers, and
    no module the package root imports loads pandas: after a dedup()
    with all four tiers, the worker it ran on has not imported it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", PANDAS_FREE.format(repo=REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    assert "DOCS 200" in lines
    assert "PANDAS False" in lines
