"""The spark-submit launch surface (tools/run_pipeline.py +
tools/run_increment.py), driven as a user would: real subprocesses,
plain `python` invocation (the session factory ships the package via
addPyFile — the --py-files analog; the spark-submit form itself is
exercised by the launch drills recorded in SURVEY §11.8).

One full-run subprocess is shared by the init/probe cases (each
subprocess pays ~15 s of JVM startup)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_PIPELINE = os.path.join(REPO, "tools", "run_pipeline.py")
RUN_INCREMENT = os.path.join(REPO, "tools", "run_increment.py")
N_DOCS = 150


def _cli(*argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *argv],
        capture_output=True,
        text=True,
        check=False,
        cwd=REPO,
    )


def _last_json(out: str) -> dict:
    lines = [l for l in out.splitlines() if l.startswith("{")]
    assert lines, f"no JSON line in output: {out[-2000:]}"
    return json.loads(lines[-1])


@pytest.fixture(scope="module")
def cli_run(tmp_path_factory):
    """Full pipeline via CLI on a small corpus; returns paths + batch
    ground truth for the increment cases."""
    root = tmp_path_factory.mktemp("cli")
    rng = np.random.default_rng(11)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": [
                " ".join(f"t{v}" for v in rng.integers(0, 10**7, 40))
                for _ in range(N_DOCS)
            ],
        }
    )
    docs_path = str(root / "documents.parquet")
    docs.to_parquet(docs_path, index=False)

    # batch: 5 exact copies of base docs + 5 fresh, ids > base ids
    srcs = rng.choice(N_DOCS, 5, replace=False)
    batch = pd.DataFrame(
        [(1000 + i, docs["text"].iloc[int(s)]) for i, s in enumerate(srcs)]
        + [
            (1100 + i, " ".join(f"f{v}" for v in rng.integers(0, 10**7, 40)))
            for i in range(5)
        ],
        columns=["doc_id", "text"],
    )
    batch_path = str(root / "batch.parquet")
    batch.to_parquet(batch_path, index=False)

    run_dir = str(root / "run")
    out_path = str(root / "assignments.parquet")
    r = _cli(
        RUN_PIPELINE,
        "--input", docs_path,
        "--run-dir", run_dir,
        "--output", out_path,
        "--cores", "4",
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return {
        "root": root,
        "docs": docs_path,
        "batch": batch_path,
        "run_dir": run_dir,
        "assignments": out_path,
        "truth": {int(docs["doc_id"].iloc[int(s)]): 1000 + i for i, s in enumerate(srcs)},
    }


def test_run_pipeline_writes_assignments(cli_run):
    asg = pd.read_parquet(cli_run["assignments"])
    assert len(asg) == N_DOCS
    assert {"doc_id", "cluster_id", "is_canonical"} <= set(asg.columns)
    # run_config.json pinned (resume key + init's config source)
    assert os.path.exists(os.path.join(cli_run["run_dir"], "run_config.json"))


def test_init_and_probe_roundtrip(cli_run):
    root = cli_run["root"]
    index_path = str(root / "index")
    r = _cli(RUN_INCREMENT, "init", "--run-dir", cli_run["run_dir"],
             "--index-out", index_path, "--cores", "4")
    assert r.returncode == 0, r.stderr[-3000:]
    assert _last_json(r.stdout)["index_rows"] == N_DOCS

    asg_out = str(root / "inc_assignments.parquet")
    index2 = str(root / "index2")
    r = _cli(RUN_INCREMENT, "probe", "--index", index_path,
             "--new", cli_run["batch"], "--assignments-out", asg_out,
             "--index-out", index2, "--base-docs", cli_run["docs"],
             "--cores", "4")
    assert r.returncode == 0, r.stderr[-3000:]
    assert _last_json(r.stdout)["new_docs"] == 10

    # every planted exact copy joins its source's cluster
    base = pd.read_parquet(cli_run["assignments"]).set_index("doc_id")
    inc = pd.read_parquet(asg_out).set_index("doc_id")
    for src, new in cli_run["truth"].items():
        assert inc.loc[new, "cluster_id"] == base.loc[src, "cluster_id"]

    # updated index: base ∪ batch memberships, still pinned so a
    # chained probe gets the ConfigMismatch guard
    sys.path.insert(0, REPO)
    from deduplication_spark.config import DedupConfig
    from deduplication_spark.increment import _sig_fingerprint
    from deduplication_spark.session import get_spark

    spark = get_spark(cores=4)
    idx2 = spark.read.parquet(index2)
    assert idx2.count() == N_DOCS + 10
    assert idx2.schema["minhash"].metadata.get("sig_cfg") == _sig_fingerprint(
        DedupConfig()
    )


def test_probe_rejects_drifted_config(cli_run):
    root = cli_run["root"]
    index_path = str(root / "index_drift")
    r = _cli(RUN_INCREMENT, "init", "--run-dir", cli_run["run_dir"],
             "--index-out", index_path, "--cores", "4")
    assert r.returncode == 0, r.stderr[-3000:]

    from deduplication_spark.config import DedupConfig

    drifted = str(root / "drifted.json")
    with open(drifted, "w") as f:
        f.write(DedupConfig(num_perm=64, bands=16, rows_per_band=4).to_json())
    r = _cli(RUN_INCREMENT, "probe", "--index", index_path,
             "--new", cli_run["batch"],
             "--assignments-out", str(root / "never.parquet"),
             "--config", drifted, "--cores", "4")
    assert r.returncode != 0
    assert "ConfigMismatch" in r.stderr
    assert not os.path.exists(str(root / "never.parquet"))