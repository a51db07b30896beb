"""SparkSession factory.

Single place that pins the execution knobs that matter at 100 TB:
AQE (runtime re-plan + skew-join backstop), Arrow batching for the
Arrow UDFs, and shuffle partitioning scaled with parallelism. Tests and bench
both go through here so the two-parallelism scaling evidence
(local[8] vs local[32], BASELINE.md) uses identical configs.

It also sets up the Python workers. Every session ships this package
as a zip named by its sources (``_ship_package``). A local session
starts its workers through ``daemon/deduplication_spark_daemon.py``
(``_worker_conf``), so they import pyspark and py4j from the
interpreter's own install instead of from Spark's archives: no daemon
compiles pyspark from source, and no task re-reads the archives'
directories when pyspark calls ``importlib.invalidate_caches()``.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import time
import zipfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "deduplication_spark",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_max_records: int = 2048,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` is the local parallelism. ``shuffle_partitions`` (default
    2x cores) is only the initial width of each shuffle: AQE coalesces
    every exchange by bytes after its map stage, so a small input runs
    as few tasks as its bytes need, and this count is the most any
    exchange, the pipeline's text shuffle included, runs at. On a real
    cluster it would be executors*cores*2.
    """
    if master is None:
        master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = 2 * (cores or 16)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(arrow_max_records),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the pipeline submits tier jobs from concurrent driver threads
        # (guide §2.6); FAIR keeps one tier's long stage from starving
        # the other tiers' short stages behind it in the FIFO queue —
        # measured A/B at sf1.0 (5 runs each): FAIR best 7.46 s /
        # spread 0.9 s vs FIFO best 8.0 s / spread 3.0 s. Scale-neutral
        # (applies to scheduling order, not plan shape).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in _worker_conf(master, extra_conf).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # getOrCreate IGNORES builder configs when a session already exists
    # in this process — a second get_spark(cores=8) after a
    # get_spark(cores=32) silently returns the 32-core session, which
    # would make an in-process parallelism A/B measure the same session
    # twice. Warn loudly; the scaling protocol uses fresh subprocesses
    # per level (tools/scaling_bench.py) precisely because of this.
    live_master = spark.sparkContext.master
    if live_master != master:
        import warnings

        warnings.warn(
            f"get_spark(master={master!r}) returned an EXISTING session "
            f"with master={live_master!r} — builder configs were "
            "ignored (getOrCreate is first-call-wins per process); use "
            "a fresh process for a different parallelism level",
            stacklevel=2,
        )
    _ship_package(spark)
    return spark


# the directory of the worker daemon module alone: the package directory
# itself must not go on the workers' path (its io.py shadows the stdlib's)
DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "daemon")


def _worker_conf(master: str, extra_conf: dict[str, str] | None) -> dict[str, str]:
    """``extra_conf`` plus, for a local master, whose workers share this
    filesystem, the daemon that starts them on the interpreter's own
    pyspark (``daemon/deduplication_spark_daemon.py``). A caller's
    ``spark.executorEnv.PYTHONPATH`` is joined with the daemon's
    directory, not replaced by it, and a caller's daemon module wins."""
    conf = dict(extra_conf or {})
    if master.startswith("local"):
        conf.setdefault("spark.python.daemon.module", "deduplication_spark_daemon")
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(filter(None, (conf.get(key), DAEMON_DIR)))
    return conf


def _package_zip() -> str:
    """Zip this package's sources to a path named by their sha256 (and
    the user) and return it. Rebuilt on every call, never reused by name: a zip keyed
    by anything but its content (a PID recycles) can ship an older tree
    to the workers while the driver runs this one. Built under a
    temporary name and moved into place, so a concurrent process never
    reads a half-written zip; its bytes are a function of the sources
    (fixed entry times), so a replace under a live context that shipped
    the same path changes nothing it fetches. This user's zips of other
    sources are removed once a day old, so edited trees leave no pile."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    files = {}
    for root, _dirs, names in os.walk(pkg_dir):
        for f in names:
            if f.endswith(".py") and "__pycache__" not in root:
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    files[os.path.relpath(full, os.path.dirname(pkg_dir))] = fh.read()
    digest = hashlib.sha256(repr(sorted(files.items())).encode()).hexdigest()
    tmp_dir = tempfile.gettempdir()
    fd, tmp = tempfile.mkstemp(prefix="deduplication_spark_", dir=tmp_dir)
    with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
        for rel, data in sorted(files.items()):
            z.writestr(zipfile.ZipInfo(rel, (1980, 1, 1, 0, 0, 0)), data)
    # per user too: mkstemp's file is private, and a shared sticky temp
    # dir refuses a replace of another user's file
    prefix = f"deduplication_spark_{os.getuid()}_"
    zpath = os.path.join(tmp_dir, f"{prefix}{digest[:16]}.zip")
    os.replace(tmp, zpath)
    stale = time.time() - 24 * 3600
    for name in os.listdir(tmp_dir):
        path = os.path.join(tmp_dir, name)
        if name.startswith(prefix) and name.endswith(".zip") and path != zpath:
            try:  # another process may remove it first
                if os.stat(path).st_mtime < stale:
                    os.remove(path)
            except FileNotFoundError:
                pass
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors — the programmatic equivalent of
    ``spark-submit --py-files deduplication_spark.zip`` (north_rule launch
    mode). Without it, UDF closures that reference this module
    fail to unpickle on workers that don't share the driver's sys.path.
    """
    zpath = _package_zip()
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception as e:  # noqa: BLE001
        # the only EXPECTED failure is re-adding the same path to a
        # live context (idempotent no-op). Anything else (zip reaped
        # from tmp, partial write from a crashed earlier run) would
        # otherwise surface much later as an opaque unpickling error
        # inside a worker-side UDF — make it visible now.
        if "same path" not in str(e) and "already" not in str(e).lower():
            import warnings

            warnings.warn(
                f"addPyFile({zpath}) failed: {e!r} — executors may not "
                "receive the package; UDFs can fail to unpickle",
                stacklevel=2,
            )
