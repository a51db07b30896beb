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
