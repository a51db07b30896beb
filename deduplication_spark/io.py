"""Stage store: checkpointed per-stage tables + lineage + run config.

The Iceberg-shaped persistence layer from SURVEY.md §2.1 (S3/S4), degraded
to parquet-directory-per-stage because no Iceberg runtime jar ships in
this sandbox (SURVEY.md M0). The interface is the part that matters:

- ``write(name, df)`` — atomic-enough stage snapshot (parquet write with
  `_SUCCESS` marker; Iceberg would make this `df.writeTo(tbl).append()`,
  one snapshot per stage).
- ``exists(name)`` — complete-stage check driving resume: a stage whose
  output exists with `_SUCCESS` is NOT recomputed (the checkpoint/resume
  semantics the north_rule requires).
- ``run config pinning`` — the analog of the reference's self-describing
  DDP1 header (/root/reference/src/compressor.c:30-39): the exact dedup
  config is persisted with the run, and a resume with a DIFFERENT config
  fails fast (compressor.c:246-252 validates the persisted header the
  same way).
- ``lineage`` — per-stage rows (stage, status, rows_out, wall_ms) so an
  operator can prove what was and wasn't recomputed. A `computed` record
  also stores the stage's metrics, which a resume reports without
  rerunning anything (``computed(name)``).
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession

from .config import DedupConfig


class ConfigMismatch(RuntimeError):
    """Resume attempted with a different dedup config (header-check analog,
    /root/reference/src/compressor.c:246-252)."""


def _lineage_record(
    stage: str, status: str, rows_out: int, wall_ms: int, metrics: dict | None
) -> dict:
    rec = {
        "stage": stage,
        "status": status,
        "rows_out": rows_out,
        "wall_ms": wall_ms,
        "logged_at": time.time(),
    }
    if metrics is not None:
        rec["metrics"] = metrics
    return rec


def _require_local(path: str | None, what: str) -> None:
    """ValueError naming `what` when `path` is a URI (s3://, hdfs://,
    even file://). Resume, config pins and stream versions are resolved
    with os.path, which reports every scheme-qualified path as missing:
    a resume would silently recompute every stage and never check its
    config, and a stream would overwrite its initial index each batch.
    A remote deployment backs these dirs with Iceberg table snapshots
    or mounts the store locally."""
    if path is not None and "://" in path:
        raise ValueError(
            f"{what}={path!r}: URI schemes are not supported — this "
            "store is resolved via the local filesystem (os.path); use a "
            "plain local path or an Iceberg-backed deployment"
        )


class StageStore:
    def __init__(self, spark: SparkSession, run_dir: str, cfg: DedupConfig):
        _require_local(run_dir, "run_dir")
        self.spark = spark
        self.run_dir = run_dir
        self.cfg = cfg
        self._iolock = threading.Lock()
        os.makedirs(run_dir, exist_ok=True)
        self._pin_config()

    # -- run config (DDP1-header analog) ------------------------------
    def _pin_config(self) -> None:
        p = os.path.join(self.run_dir, "run_config.json")
        if os.path.exists(p):
            with open(p) as f:
                persisted = f.read()
            if persisted != self.cfg.to_json():
                raise ConfigMismatch(
                    f"run_dir {self.run_dir} was produced with a different "
                    f"config; refusing to resume (persisted={persisted})"
                )
        else:
            # temp + rename: a crash mid-write must not leave a
            # truncated pin that bricks every future resume with a
            # spurious ConfigMismatch (the write is the run's header —
            # compressor.c:30-39 gets the same guarantee from writing
            # it before any block)
            tmp = p + ".tmp"
            with open(tmp, "w") as f:
                f.write(self.cfg.to_json())
            os.replace(tmp, p)

    # -- stage tables --------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, f"stage={name}")

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self.path(name), "_SUCCESS"))

    def computed(self, name: str) -> dict | None:
        """The metrics stored by the last `computed` lineage record of a
        complete stage, or None when the stage must be (re)computed: no
        snapshot, or a crash between the snapshot and its record."""
        if not self.exists(name):
            return None
        recs = [
            r for r in self.lineage()
            if r["stage"] == name and r["status"] == "computed"
        ]
        return recs[-1].get("metrics") if recs else None

    def write(self, name: str, df: DataFrame) -> DataFrame:
        df.write.mode("overwrite").parquet(self.path(name))
        self._log_partitions(name)
        # the schema just written is known: reading the snapshot back
        # with it skips the schema-inference job a plain read runs
        return self.spark.read.schema(df.schema).parquet(self.path(name))

    def _log_partitions(self, name: str) -> None:
        """Per-partition lineage (north_rule): one record per output
        file with its row count, read from the parquet FOOTERS on the
        driver — no Spark job, no data scan. At 100 TB this is the same
        O(files) metadata walk Iceberg's manifest write performs."""
        d = self.path(name)
        try:
            import pyarrow.parquet as pq

            parts = []
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    parts.append(
                        {"file": f, "rows": pq.ParquetFile(os.path.join(d, f)).metadata.num_rows}
                    )
            self._append_line(
                "partitions.jsonl",
                json.dumps({"stage": name, "n_files": len(parts), "files": parts}),
            )
        except Exception as e:  # noqa: BLE001 — metadata-only: a footer
            # parse error (pyarrow ArrowInvalid is NOT an OSError) must
            # never abort a pipeline whose stage data already landed;
            # warn instead of silently passing so real bugs stay visible
            import warnings

            warnings.warn(f"partition lineage for stage {name!r} skipped: {e}")

    def _append_line(self, filename: str, line: str) -> None:
        """Serialized single-syscall JSONL append. The pipeline's tier
        stages write from 4 concurrent driver threads; a buffered
        text-mode append can split one record (>8 KB happens at ~100
        part files) across multiple write() calls and interleave with
        another thread's mid-line — the lock plus one os.write keeps
        every record intact."""
        with self._iolock:
            fd = os.open(
                os.path.join(self.run_dir, filename),
                os.O_APPEND | os.O_CREAT | os.O_WRONLY,
                0o644,
            )
            try:
                os.write(fd, (line + "\n").encode())
            finally:
                os.close(fd)

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    # -- lineage ---------------------------------------------------------
    def log_lineage(
        self,
        stage: str,
        status: str,
        rows_out: int,
        wall_ms: int,
        metrics: dict | None = None,
    ) -> None:
        rec = _lineage_record(stage, status, rows_out, wall_ms, metrics)
        self._append_line("lineage.jsonl", json.dumps(rec))

    def lineage(self) -> list[dict]:
        p = os.path.join(self.run_dir, "lineage.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]


class MemoryStore:
    """No-persistence variant for tests/ad-hoc runs: stages are pinned
    with localCheckpoint (truncates lineage like a parquet write would,
    without the I/O); nothing resumes."""

    def __init__(self, spark: SparkSession, cfg: DedupConfig):
        self.spark = spark
        self.cfg = cfg
        self._lineage: list[dict] = []

    def computed(self, name: str) -> dict | None:
        return None

    def write(self, name: str, df: DataFrame) -> DataFrame:
        # .toDF re-alias after EVERY localCheckpoint: without it a
        # consumer that self-joins/self-unions the snapshot hits the
        # Spark 4.1 "key not found: src#N" trap when the input lineage
        # contains a window (the workaround components.py applies to
        # its own checkpoints, hoisted to the shared store layer)
        return df.localCheckpoint(eager=True).toDF(*df.columns)

    def log_lineage(
        self,
        stage: str,
        status: str,
        rows_out: int,
        wall_ms: int,
        metrics: dict | None = None,
    ) -> None:
        self._lineage.append(
            _lineage_record(stage, status, rows_out, wall_ms, metrics)
        )

    def lineage(self) -> list[dict]:
        return list(self._lineage)
