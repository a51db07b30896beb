"""The Python workers a session starts: the package shipped to them
(session._ship_package) is the tree the driver runs, whatever zips sit
in the temp dir, and a local session's workers import pyspark from the
interpreter's own install (session._worker_conf)."""

import os
import subprocess
import sys
import zipfile

import pytest

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


# Runs in a fresh process on one task slot, so the checks below land on
# a Python worker that ran the pipeline's UDFs (workers are reused). The
# caller's own worker path (a directory with a marker module) rides along.
DEDUP_WORKER = """
import sys
import numpy as np
import pyarrow as pa
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from deduplication_spark import dedup, get_spark
from deduplication_spark.corpus import generate_corpus

spark = get_spark(
    cores=1,
    shuffle_partitions=1,
    extra_conf={{"spark.executorEnv.PYTHONPATH": {marker_dir!r}}},
)
docs = spark.createDataFrame(
    generate_corpus(200, seed=2, max_tokens=300).documents[["doc_id", "text"]]
)
res = dedup(spark, docs)
print("DOCS", res.metrics["n_docs"])


@F.arrow_udf("string")
def worker(ids: pa.Array) -> pa.Array:
    import os
    import zipimport

    import pyspark

    import dedup_marker

    facts = [
        f"PANDAS {{'pandas' in sys.modules}}",  # before pa.array below loads it
        f"PYSPARK {{pyspark.__file__}}",
        "ZIPS " + " ".join(sorted({{
            os.path.basename(v.archive)
            for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        }})),
        f"MARKER {{dedup_marker.VALUE}}",
    ]
    return pa.array(["\\n".join(facts)] * len(ids), pa.string())


print(spark.range(1).select(worker("id")).first()[0])
spark.stop()
"""


@pytest.fixture(scope="module")
def dedup_worker(tmp_path_factory):
    """The lines a fresh process prints after one dedup() with all four
    tiers and one probe UDF on the worker that ran it."""
    tmp_path = tmp_path_factory.mktemp("dedup_worker")
    marker_dir = tmp_path / "marker"
    marker_dir.mkdir()
    (marker_dir / "dedup_marker.py").write_text('VALUE = "caller path"\n')
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", DEDUP_WORKER.format(repo=REPO, marker_dir=str(marker_dir))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout.splitlines()


def test_workers_of_a_dedup_call_never_load_pandas(dedup_worker):
    """Every UDF of the pipeline is an Arrow UDF over numpy buffers, and
    no module the package root imports loads pandas: after a dedup()
    with all four tiers, the worker it ran on has not imported it."""
    assert "DOCS 200" in dedup_worker
    assert "PANDAS False" in dedup_worker


def test_workers_of_a_dedup_call_import_pyspark_from_its_install(dedup_worker):
    """A local session's workers run pyspark from the interpreter's own
    install, not from Spark's archives: the worker that ran a dedup()
    holds no zip importer but the shipped package zip's, so no task
    re-reads an archive's directory. A caller's own worker path is kept
    next to the daemon's."""
    facts = dict(line.split(" ", 1) for line in dedup_worker if " " in line)
    assert os.path.isfile(facts["PYSPARK"]), facts["PYSPARK"]
    assert all(z.startswith("deduplication_spark_") for z in facts["ZIPS"].split()), facts
    assert facts["MARKER"] == "caller path"


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _package(root, name, version):
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f"__version__: str = {version!r}\n")


def test_worker_path_drops_only_the_archives_the_install_holds(tmp_path):
    """The daemon's path rule: Spark's jar and the pyspark and py4j
    archives of the installed versions go; an archive of another version
    and a caller's own zip or directory stay, in their order."""
    from deduplication_spark.daemon.deduplication_spark_daemon import worker_path

    site = str(tmp_path / "site")
    _package(tmp_path / "site", "pyspark", "4.1.2")
    _package(tmp_path / "site", "py4j", "0.10.9.9")

    def archive(name, package, version):
        return _zip(tmp_path / name, {
            f"{package}/__init__.py": "",
            f"{package}/version.py": f"__version__ = '{version}'\n",
        })

    pyspark_zip = archive("pyspark.zip", "pyspark", "4.1.2")
    py4j_zip = archive("py4j-0.10.9.9-src.zip", "py4j", "0.10.9.9")
    old_pyspark = archive("pyspark-old.zip", "pyspark", "3.5.0")
    old_py4j = archive("py4j-0.10.9.7-src.zip", "py4j", "0.10.9.7")
    jar = _zip(tmp_path / "spark-core.jar", {"org/apache/spark/X.class": b"\xca\xfe"})
    own_zip = _zip(tmp_path / "own.zip", {"own.py": "X = 1\n"})
    own_dir = str(tmp_path / "own")
    os.mkdir(own_dir)

    # Spark's own path, then a caller's entries
    assert worker_path([pyspark_zip, py4j_zip, jar, own_zip, own_dir], [site]) == [
        own_zip, own_dir
    ]
    # archives of other versions stay; the jar goes all the same
    assert worker_path([old_pyspark, old_py4j, jar, own_zip], [site]) == [
        old_pyspark, old_py4j, own_zip
    ]
    # a matching archive stays when another version's archive would
    # take its place, and when a caller's directory of another version
    # comes first
    assert worker_path([pyspark_zip, old_pyspark], [site]) == [pyspark_zip, old_pyspark]
    _package(tmp_path / "own", "pyspark", "3.5.0")
    assert worker_path([pyspark_zip, own_dir], [site]) == [pyspark_zip, own_dir]
    # without a directory install, Spark's zips stay
    spark_zips = [pyspark_zip, py4j_zip, own_zip]
    assert worker_path(spark_zips, [str(tmp_path / "empty")]) == spark_zips


def test_the_daemon_is_set_for_local_masters_only():
    """Local masters (their workers share this filesystem) start the
    workers through the daemon module, and a caller's worker path is
    joined with its directory; any other master gets the caller's conf
    as it is."""
    from deduplication_spark.session import DAEMON_DIR, _worker_conf

    caller = {"spark.executorEnv.PYTHONPATH": "/caller/lib", "spark.x": "1"}
    for master in ("local", "local[4]", "local-cluster[2,1,1024]"):
        assert _worker_conf(master, None) == {
            "spark.python.daemon.module": "deduplication_spark_daemon",
            "spark.executorEnv.PYTHONPATH": DAEMON_DIR,
        }
        assert _worker_conf(master, caller) == {
            "spark.x": "1",
            "spark.python.daemon.module": "deduplication_spark_daemon",
            "spark.executorEnv.PYTHONPATH": os.pathsep.join(["/caller/lib", DAEMON_DIR]),
        }
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert _worker_conf(master, None) == {}
        assert _worker_conf(master, caller) == caller
    # the directory goes on the workers' path: nothing else may sit there
    assert set(os.listdir(DAEMON_DIR)) - {"__pycache__"} == {"deduplication_spark_daemon.py"}
