"""Measurements taken from outside the library: process memory and
host CPU steal from /proc, Spark job counts from the status tracker,
output correctness against the planted truth pairs and the partition
fingerprints of earlier runs, and shutdown of every process the
benchmark started."""

from __future__ import annotations

import hashlib
import os
import signal
import subprocess
import threading
import time

import numpy as np
import pandas as pd

# planted classes a run must put in one cluster: exact copies, long
# verbatim spans, and near copies at or above the verify threshold
NEAR_CATCHABLE_JACCARD = 0.8
RECALL_FLOOR = 0.99


def _status(pid: str) -> dict[str, str]:
    out = {}
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            k, _, v = line.partition(":")
            out[k] = v.strip()
    return out


def descendants() -> list[int]:
    """Pids of every live descendant of this process: the JVM that runs
    Spark, and the Python workers it forks."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            parent[int(d)] = int(_status(d)["PPid"])
        except (OSError, KeyError, ValueError):
            continue
    found = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in found and pid not in found:
                found.add(pid)
                grew = True
    found.discard(os.getpid())
    return sorted(found)


def tree_rss_bytes() -> tuple[int, int]:
    """Resident bytes of (Python, JVM) in this process tree: this Python
    process plus the Python workers, and the JVM that runs Spark."""
    py = jvm = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            kb = int(_status(str(pid)).get("VmRSS", "0 kB").split()[0])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                is_jvm = b"java" in f.read()
        except OSError:
            continue
        if is_jvm:
            jvm += kb * 1024
        else:
            py += kb * 1024
    return py, jvm


class RssSampler:
    """Peak resident memory of the Python processes (this one and the
    workers) and of the JVM, sampled from /proc while active."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_py = self.peak_jvm = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        py, jvm = tree_rss_bytes()
        self.peak_py = max(self.peak_py, py)
        self.peak_jvm = max(self.peak_jvm, jvm)

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


class JobMarks:
    """Counts the Spark jobs a block of work launches, from outside.

    Job ids are handed out in sequence per SparkContext. A one-job
    marker under its own job group before and after the block brackets
    every job in between, including jobs the library submits from its
    own threads or under broadcast job groups, which a job group set on
    this thread would miss."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._n = 0

    def mark(self) -> int:
        tag = f"perfbench-mark-{os.getpid()}-{self._n}"
        self._n += 1
        self.sc.setJobGroup(tag, "job id marker")
        try:
            self.spark.range(1).collect()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        ids = self.sc.statusTracker().getJobIdsForGroup(tag)
        if not ids:
            raise RuntimeError("job id marker launched no Spark job")
        return min(ids)

    def between(self, before: int, after: int) -> int:
        # the `before` marker launched exactly one job, ending at `before`
        return after - before - 1


def catchable(truth: pd.DataFrame, classes: tuple[str, ...]) -> pd.DataFrame:
    near_ok = (truth["class"] == "near") & (
        truth["true_jaccard"] >= NEAR_CATCHABLE_JACCARD
    )
    keep = truth["class"].isin([c for c in classes if c != "near"])
    if "near" in classes:
        keep |= near_ok
    return truth[keep]


def pair_recall(assignments: pd.DataFrame, pairs: pd.DataFrame) -> float:
    """Share of planted pairs whose two docs share a cluster id."""
    if len(pairs) == 0:
        return 1.0
    cl = pd.Series(
        assignments["cluster_id"].to_numpy(), index=assignments["doc_id"].to_numpy()
    )
    a = cl.reindex(pairs["doc_id_a"].to_numpy()).to_numpy()
    b = cl.reindex(pairs["doc_id_b"].to_numpy()).to_numpy()
    return float(np.mean((a == b) & ~pd.isna(a)))


def fingerprint(assignments: pd.DataFrame) -> str:
    """Order-independent digest of the (doc_id, cluster_id) partition."""
    h = pd.util.hash_pandas_object(
        assignments[["doc_id", "cluster_id"]].astype("int64"), index=False
    ).to_numpy()
    return f"{len(h)}:{int(h.sum(dtype=np.uint64)):016x}"


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from /proc/stat:
    stolen ticks are time the hypervisor ran other machines while this
    one's CPUs had work."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the host's CPU time between two `cpu_ticks()` readings
    that was stolen. A wall time times (1 - share) is the time the
    interval would have taken on CPUs nobody else shares: each core lost
    share x wall to other machines."""
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def code_digest(root: str, *extra: str) -> str:
    """Digest of the library's source under `root` and of `extra`: runs
    with the same digest run the same code on the same workload."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(os.path.join(root, "deduplication_spark")):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for e in extra:
        h.update(e.encode())
    return h.hexdigest()[:16]


class FingerprintStore:
    """The partition fingerprint of each (code, workload, seed) the first
    run of it produced, one file per key, so a later run of the same
    code has a reference to check its own against."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key + ".txt")

    def get(self, key: str) -> str | None:
        try:
            with open(self._path(key)) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    def put(self, key: str, fp: str) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._path(key) + f".{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(fp)
        os.replace(tmp, self._path(key))


def _alive(pid: int) -> bool:
    try:
        return not _status(str(pid)).get("State", "").startswith("Z")
    except OSError:
        return False


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, close the JVM gateway and wait until the JVM and
    every Python worker it forked have exited."""
    from pyspark import SparkContext

    procs = descendants()
    spark.stop()
    gw = SparkContext._gateway
    jvm_proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if jvm_proc is not None:
        if jvm_proc.stdin is not None:
            jvm_proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            jvm_proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            jvm_proc.kill()
            jvm_proc.wait(timeout=timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + timeout_s
    while True:
        alive = [p for p in procs if _alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)
