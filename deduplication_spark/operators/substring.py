"""Near-duplicate tier 4: long exact-substring duplicates.

Catches pairs sharing a verbatim span >= cfg.substring_min_len chars
that shingle/MinHash misses (the span being a small fraction of either
doc keeps Jaccard far below threshold). Two stages:

1. **Candidates** — content-defined chunking (functions/chunking.py):
   each doc -> chunks with content fingerprints; docs sharing any
   fully-interior chunk of a shared span get identical fingerprints,
   so a groupBy(chunk_fp) bucket join finds them. Same skew-capped
   bucket_pairs machinery as the LSH tier (giant buckets = boilerplate).
2. **Verification** — exact common-substring test at L = substring_min_len
   via Rabin-Karp L-gram fingerprint intersection (vectorized numpy in a
   pandas UDF; a pair passes iff the docs share some length-L substring).
   This replaces the SURVEY's per-group suffix-array sketch with an
   equivalent-semantics, fully-vectorizable check: "exists common
   substring >= L" needs only ONE fingerprint-set intersection, not the
   full suffix array (monotonicity: any longer common span contains an
   L-gram).

Scale: the verify join carries text for candidate pairs only (post-cap),
never for the full corpus. The pipeline verifies every candidate pair,
even one another tier already linked: an anti-join against the other
tiers' edges would serialize the critical path behind them.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..config import DedupConfig
from ..functions.chunking import cdc_chunks_batch
from .candidates import CandidateResult, bucket_pairs


def _chunked(
    it: Iterator[pd.Series], cfg: DedupConfig
) -> Iterator[tuple[pd.Series, list]]:
    """(texts, cdc_chunks_batch output) per Arrow batch — the one batch
    runner of the chunk UDFs. Batch-global kernel: one gear matmul + one
    prefix-poly per Arrow batch (the per-doc cdc_chunks call was numpy-
    call-overhead-bound on ~1 KB web docs, measured 5x on the 1M-doc
    cand_substring stage; bit-identical output, property-tested)."""
    for series in it:
        payloads = [t.encode("utf-8") if t is not None else None for t in series]
        yield series, cdc_chunks_batch(
            payloads, cfg.chunk_min_len, cfg.chunk_avg_len, cfg.chunk_max_len
        )


def make_chunk_udf(cfg: DedupConfig):
    """pandas UDF: text -> array<bigint>: the doc's DISTINCT fingerprints
    of CDC chunks >= chunk_min_len (NULL for NULL text).

    Shorter chunks exist only at forced boundaries and are too
    collision-prone as candidate keys; all fingerprints are content-only
    (offset-independent). The UDF emits the bucket keys themselves, so
    no chunk struct crosses into the JVM only to be filtered there.
    """
    min_len = cfg.chunk_min_len

    @pandas_udf("array<bigint>")
    def cdc_chunk_fps(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series, chunked in _chunked(it, cfg):
            keys = [
                None if c is None
                else list(dict.fromkeys(fp for _s, ln, fp in c if ln >= min_len))
                for c in chunked
            ]
            yield pd.Series(keys, dtype=object, index=series.index)

    return cdc_chunk_fps


def make_chunk_shape_udf(cfg: DedupConfig):
    """pandas UDF: text -> struct<covered_bytes:bigint, max_len_ok:boolean,
    head_min_len_ok:boolean, n_chunks_bounded:boolean> — the chunk-geometry
    invariants of q_cdc_chunks computed INSIDE the chunk UDF pass.

    The unfused formulation shipped the full chunk array back to the JVM
    and then re-evaluated `transform(coalesce(chunks, []))` once per
    invariant in an interpreted Project (8 traversals/row — higher-order
    functions don't codegen). Folding the geometry checks into the same
    Python batch that computes the chunks removes the array Arrow
    transfer and the interpreted traversals entirely (guide §4.1/§4.2);
    the arithmetic mirrors the Catalyst expressions exactly:
    ceil/floor over float division matches Spark's double `/` for any
    realistic byte length (exact in float64 below 2^53)."""
    import math

    min_len, max_len = cfg.chunk_min_len, cfg.chunk_max_len

    @pandas_udf(
        "struct<covered_bytes:bigint,max_len_ok:boolean,"
        "head_min_len_ok:boolean,n_chunks_bounded:boolean>"
    )
    def chunk_shape(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for series, chunked in _chunked(it, cfg):
            rows = []
            for chunks in chunked:
                lens = (
                    [ln for (_s, ln, _fp) in chunks] if chunks is not None else []
                )
                s, n = sum(lens), len(lens)
                rows.append(
                    (
                        s,
                        all(ln <= max_len for ln in lens),
                        all(ln >= min_len for ln in lens[:-1]),
                        n >= math.ceil(s / max_len)
                        and n <= math.floor((s - 1) / min_len) + 1,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "covered_bytes",
                    "max_len_ok",
                    "head_min_len_ok",
                    "n_chunks_bounded",
                ],
                index=series.index,
            )

    return chunk_shape


def chunk_buckets(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, chunk_fp) memberships, chunks >= chunk_min_len only;
    distinct per doc_id because the UDF emits each doc's distinct keys
    (dedup() makes doc_ids unique)."""
    fps = make_chunk_udf(cfg)(F.col("text"))
    return docs.select("doc_id", F.explode(fps).alias("chunk_fp"))


def substring_candidates(docs: DataFrame, cfg: DedupConfig) -> CandidateResult:
    return bucket_pairs(chunk_buckets(docs, cfg), ["chunk_fp"], cap=cfg.bucket_pair_cap)


def verify_substring(pairs: DataFrame, docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(a, b) pairs that share an exact substring of length >=
    substring_min_len (utf-8 byte-level; exact for ASCII text)."""
    L = cfg.substring_min_len
    # per-row Rabin-Karp cost, not per-byte: spread the pairs past AQE's
    # byte-based coalescing (see candidates.verify_jaccard). That sets
    # the verify parallelism only while the pairs stream through the
    # joins. When AQE broadcasts them (a BroadcastExchange over this
    # Exchange, as at 1,000 short docs), the UDF runs on the streamed
    # text side's partitions, which pipeline.doc_texts sizes by bytes.
    spark = pairs.sparkSession
    pairs = pairs.repartition(2 * spark.sparkContext.defaultParallelism, "a")
    t = docs.select(F.col("doc_id").alias("_id"), F.col("text").alias("_t"))
    joined = (
        pairs.join(t.select(F.col("_id").alias("a"), F.col("_t").alias("_ta")), "a")
        .join(t.select(F.col("_id").alias("b"), F.col("_t").alias("_tb")), "b")
    )

    @pandas_udf("boolean")
    def shares_long_span(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        from deduplication_spark.functions.chunking import has_common_gram

        for frame in it:
            ta, tb = frame.iloc[:, 0], frame.iloc[:, 1]
            yield pd.Series(
                [
                    has_common_gram(x.encode("utf-8"), y.encode("utf-8"), L)
                    if x is not None and y is not None
                    else False
                    for x, y in zip(ta, tb)
                ]
            )

    return (
        joined.withColumn("_ok", shares_long_span(F.struct("_ta", "_tb")))
        .filter(F.col("_ok"))
        .select("a", "b")
    )

