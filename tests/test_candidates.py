"""bucket_pairs skew handling + verification operators."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from deduplication_spark.operators.candidates import (
    bucket_pairs,
    estimate_prefilter,
    verify_jaccard,
)
from deduplication_spark.operators.components import connected_components


def test_small_bucket_all_pairs(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [3, 1, 2], "k": ["x", "x", "x"]})
    )
    res = bucket_pairs(df, ["k"], cap=10)
    pairs = {(r["a"], r["b"]) for r in res.pairs.collect()}
    assert pairs == {(1, 2), (1, 3), (2, 3)}
    # the accounting resolves in the job that materialized the pairs
    m = res.accounting.get
    assert m["n_buckets"] == 1 and m["dropped_pairs"] == 0


def test_capped_bucket_chains_but_stays_connected(spark):
    n = 50
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(n)), "k": ["hot"] * n})
    )
    res = bucket_pairs(df, ["k"], cap=10)
    pairs = res.pairs
    n_pairs = pairs.count()
    # head all-pairs C(10,2)=45 + 40 chain edges, never C(50,2)=1225
    assert n_pairs == 45 + 40
    # observed on the ranked frame that feeds both the head and the tail
    # branch: one bucket, counted once
    m = res.accounting.get
    assert m["n_buckets"] == 1
    assert m["n_capped_buckets"] == 1
    assert m["n_candidate_edges"] == 85
    assert m["dropped_pairs"] == 1225 - 85
    # connectivity preserved: one component spanning all 50
    comp = connected_components(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == n


def test_pairs_deduped_across_buckets(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 1, 2], "k": ["x", "x", "y", "y"]})
    )
    res = bucket_pairs(df, ["k"], cap=10)
    assert res.pairs.count() == 1


def test_verify_jaccard_exact_values(spark):
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "shingles": [[1, 2, 3, 4], [1, 2, 3, 5], [9, 10, 11, 12]],
            }
        )
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"a": [1, 1], "b": [2, 3]})
    )
    out = {
        (r["a"], r["b"]): r["jaccard"]
        for r in verify_jaccard(pairs, feats, threshold=0.5).collect()
    }
    assert out == {(1, 2): pytest.approx(3 / 5)}


def test_estimate_prefilter_keeps_equal_sigs(spark):
    sigs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "minhash": [[7] * 16, [7] * 16, list(range(16))],
            }
        )
    )
    pairs = spark.createDataFrame(pd.DataFrame({"a": [1, 1], "b": [2, 3]}))
    kept = {
        (r["a"], r["b"])
        for r in estimate_prefilter(pairs, sigs, min_estimate=0.5).collect()
    }
    assert kept == {(1, 2)}
