"""Seeded input staging for the benchmark workloads.

Inputs come from `deduplication_spark.corpus.generate_corpus`, written
once per (workload, seed, size) under `.work/stage/` and reused while
their recorded checksums still match. Generation and staging time are
never part of a measured metric.

Parquet files are written with several row groups each: one row group
per file caps every Spark scan of that file at one task.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

from deduplication_spark.corpus import generate_corpus

ROW_GROUPS_PER_FILE = 8


@dataclass(frozen=True)
class Staged:
    docs: str          # full-run input: one parquet file of (doc_id, text)
    base: str | None   # stream workload: base docs (ids below n_base)
    batches: str | None  # stream workload: one parquet file per micro-batch
    truth: str         # planted pairs (doc_id_a, doc_id_b, class, true_jaccard)
    n_docs: int
    text_bytes: int


def _write(df, path: str) -> None:
    rg = max(1, -(-len(df) // ROW_GROUPS_PER_FILE))
    df.to_parquet(path, index=False, row_group_size=rg)


def _checksum(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _files(root: str) -> list[str]:
    out = []
    for d, _dirs, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return out


def stage(
    work_dir: str,
    workload: str,
    seed: int,
    n_docs: int,
    min_tokens: int,
    max_tokens: int,
    n_base: int | None = None,
    n_batches: int = 0,
) -> Staged:
    """Generate (or reuse) the seeded corpus of one workload run.

    With `n_base`, the corpus is split by id range into a base file and
    `n_batches` equal batch files, so ids rise monotonically across
    batches (the increment contract) and planted sources fall in both
    the base and earlier batches."""
    key = f"{workload}-seed{seed}-n{n_docs}-t{min_tokens}_{max_tokens}"
    if n_base is not None:
        key += f"-base{n_base}x{n_batches}"
    root = os.path.join(work_dir, "stage", key)
    manifest = os.path.join(root, "manifest.json")

    def paths(meta: dict) -> Staged:
        return Staged(
            docs=os.path.join(root, "docs.parquet"),
            base=os.path.join(root, "base.parquet") if n_base is not None else None,
            batches=os.path.join(root, "batches") if n_base is not None else None,
            truth=os.path.join(root, "truth_pairs.parquet"),
            n_docs=n_docs,
            text_bytes=meta["text_bytes"],
        )

    if os.path.exists(manifest):
        with open(manifest) as f:
            meta = json.load(f)
        if meta.get("checksum") == _checksum(_files(root)):
            return paths(meta)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)

    corpus = generate_corpus(
        n_docs, seed=seed, min_tokens=min_tokens, max_tokens=max_tokens
    )
    docs = corpus.documents[["doc_id", "text"]]
    _write(docs, os.path.join(root, "docs.parquet"))
    corpus.truth_pairs.to_parquet(os.path.join(root, "truth_pairs.parquet"), index=False)
    if n_base is not None:
        _write(docs[docs.doc_id < n_base], os.path.join(root, "base.parquet"))
        os.makedirs(os.path.join(root, "batches"))
        size = (n_docs - n_base) // n_batches
        for i in range(n_batches):
            lo = n_base + i * size
            hi = n_docs if i == n_batches - 1 else lo + size
            p = os.path.join(root, "batches", f"part-{i:03d}.parquet")
            _write(docs[(docs.doc_id >= lo) & (docs.doc_id < hi)], p)
            # the file source orders by modification time: pin it to the
            # batch order instead of relying on write timing
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    meta = {
        "text_bytes": int(docs.text.str.encode("utf-8").str.len().sum()),
        "checksum": _checksum(_files(root)),
    }
    with open(manifest, "w") as f:
        json.dump(meta, f)
    return paths(meta)
