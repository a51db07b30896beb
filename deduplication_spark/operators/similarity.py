"""Similarity search over embedding columns (array<float>).

Three paths, sharing one scoring definition:

- `cosine_topk` — brute-force exact top-k: cross join + sequential-fold
  dot products (JVM codegen; no Python). The correctness baseline and
  the right choice when the query set is small.
- `lsh_topk` — scale path 1: random-hyperplane (sign) LSH buckets
  candidates first, so each query scores only vectors sharing a bucket
  in some table. Same bucket_pairs-style grouping discipline as the
  text tiers; recall is tunable via (n_tables, n_bits).
- `ivf_topk` — scale path 2: IVF-Flat. A bounded sampled-centroid
  "train" step partitions the corpus into n_list inverted lists (each
  vector in exactly ONE list — no distinct exchange needed, unlike
  LSH's multi-table buckets); queries probe their nprobe nearest lists.
  Candidate volume per query is ~nprobe/n_list of the corpus, tuned
  independently of recall-per-candidate (LSH couples both to n_bits).

Random hyperplanes are drawn from a seeded generator inside an
Arrow-batched pandas UDF (one matmul per batch), so bucketing is
deterministic: sign bit b of table t = sign(v . h[t*bits+b]), packed
into one long per table. Candidate shuffles carry ids + buckets only;
vector payloads are joined back per surviving pair.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(c):
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))


def with_cosine(pairs: DataFrame, a_col: str = "qv", b_col: str = "v") -> DataFrame:
    """Sequential-fold cosine (Catalyst HOF): bit-matches DuckDB's
    list_dot_product fold order, so the brute/oracle paths stay
    value-exact vs the SQL oracle. One interpreted fold per pair — fine
    for oracle baselines, use `with_cosine_vec` on the scale paths.

    Zero-norm/NaN guard (same contract as `with_cosine_vec`): 0/0 would
    be NaN, and Spark orders NaN ABOVE every double AND evaluates
    NaN > 0 as TRUE — so both a zero vector and a vector with a NaN
    component would rank FIRST in top-k and pass every >= threshold
    filter. `den > 0` alone does not catch the NaN case (the when-branch
    is taken); nanvl folds any NaN that slips through the division into
    SQL NULL, which every filter/ordering then drops."""
    den = _norm(F.col(a_col)) * _norm(F.col(b_col))
    return pairs.withColumn(
        "cos_sim",
        F.nanvl(
            F.when(den > 0, _dot(F.col(a_col), F.col(b_col)) / den),
            F.lit(None).cast("double"),
        ),
    )


def _lens(vals: np.ndarray) -> np.ndarray:
    """Per-row vector width of an Arrow batch; -1 for NULL rows."""
    return np.array([-1 if x is None else len(x) for x in vals], dtype=np.int64)


def _width_groups(lens: np.ndarray) -> list[tuple[int, np.ndarray]]:
    """(width, row positions) for each present vector width of a batch.
    NULL (-1) and empty (0) rows belong to no group. The one grouping of
    every Arrow-batched vector kernel here: a batch may mix widths, and
    each width is stacked and multiplied on its own."""
    return [(int(w), np.flatnonzero(lens == w)) for w in np.unique(lens[lens > 0])]


def with_cosine_vec(
    pairs: DataFrame, a_col: str = "qv", b_col: str = "v"
) -> DataFrame:
    """Arrow-batched cosine (numpy einsum + BLAS norms): no interpreted
    HOF in the hot path. Used by the LSH scale paths, where results are
    approximate-by-construction; may differ from the fold version in the
    last ulp (summation order), invisible at round(4). (UDF built here,
    not at module scope — pandas_udf needs an active session.)

    Pairs are stacked per width group (`_width_groups`), so a batch
    holding same-width pairs of several widths scores each group; a
    ragged pair (two widths) belongs to no group."""

    @pandas_udf("double")
    def _cos_batch(qv: pd.Series, v: pd.Series) -> pd.Series:
        av, bv = qv.to_numpy(), v.to_numpy()
        la, lb = _lens(av), _lens(bv)
        out = np.full(len(av), np.nan)
        for _, rows in _width_groups(np.where(la == lb, la, -1)):
            a, b = np.vstack(av[rows]), np.vstack(bv[rows])
            num = np.einsum("ij,ij->i", a, b)
            den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            # a zero vector would make 0/0 = NaN — and Spark orders NaN
            # ABOVE every double, so it would rank first and pass >=
            # filters; fold zero-norm rows into the NULL branch instead.
            # Same for NaN/Inf COMPONENTS (den or num non-finite, or an
            # inf/inf quotient): any non-finite score must become SQL
            # NULL, never a NaN that outranks every real neighbor.
            nz = (den > 0) & np.isfinite(den) & np.isfinite(num)
            out[rows[nz]] = num[nz] / den[nz]
        ok = np.isfinite(out)
        if ok.all():  # fast path: no boxing on well-formed batches
            return pd.Series(out)
        # NULL/ragged/zero-norm pairs score SQL NULL — dropped by any
        # filter or ordering, like a null Catalyst fold
        return pd.Series(
            [float(x) if k else None for x, k in zip(out, ok)], dtype=object
        )

    return pairs.withColumn("cos_sim", _cos_batch(F.col(a_col), F.col(b_col)))


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(_id, _v): the id and the vector as array<double>, the one
    projection every search path reads its inputs through."""
    return df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )


def _scored(pair_ids: DataFrame, left: DataFrame, right: DataFrame) -> DataFrame:
    """Candidate pairs (left id, right id) with both vectors joined back
    ONCE, as qv and v, and scored by `with_cosine_vec`. Candidate
    exchanges (bucket joins, distincts) carry ids only; `left` and
    `right` are `_vectors` frames."""
    lid, rid = pair_ids.columns
    return with_cosine_vec(
        pair_ids.join(left.toDF(lid, "qv"), lid).join(right.toDF(rid, "v"), rid)
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force: (query_id, neighbor_id, cos_sim, rank)."""
    pairs = _vectors(queries, id_col, vec_col).toDF("query_id", "qv").crossJoin(
        _vectors(embeddings, id_col, vec_col).toDF("neighbor_id", "v")
    )
    return _top_k(
        with_cosine(pairs.filter(F.col("neighbor_id") != F.col("query_id"))), k
    )


def _top_k(sims: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rank): each query's k best
    neighbors, ties broken by neighbor_id.

    NULL-scored pairs (zero-norm/NaN/ragged) are dropped BEFORE the
    window: desc ordering sorts NULLs last but still ASSIGNS ranks, so
    without the filter unscoreable neighbors would pad a sparse query's
    top-k with NULL rows."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.filter(F.col("cos_sim").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def hyperplane_buckets(
    df: DataFrame,
    dim: int | None = None,
    n_tables: int = 16,
    n_bits: int = 8,
    seed: int = 0x5EED,
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds (table_idx, bucket) rows per input row — one per hash table.
    (Defaults = the recall-first 16x8 config every caller in this
    package uses; see lsh_topk.)

    bucket = the n_bits sign pattern of the vector against that table's
    hyperplanes, packed into a long.

    All tables' sign bits come from ONE Arrow-batched matmul per batch —
    (batch x dim) @ (dim x tables*bits) — in a pandas UDF, then a
    posexplode fans the packed array out to (table_idx, bucket) rows.
    The previous formulation (per-bit Catalyst `aggregate(zip_with(...))`
    dots) ran 64-128 INTERPRETED higher-order folds per row — the same
    trap SURVEY §8 measured ~200x slower than vectorized numpy for
    shingling. The matmul stays narrow (no shuffle): recomputing it on
    both sides of a self-join is one scan+BLAS pass, cheaper at scale
    than materializing a checkpoint barrier.

    `dim` is optional and only validates. The hyperplanes are drawn
    from the seeded generator INSIDE the UDF at each row's own width
    (deterministic — same seed, same width, same planes in every batch;
    ~16k randoms, negligible per Arrow batch), so the result is
    row-local: independent of batch/partition composition, and a
    mixed-width table cannot bucket nondeterministically. No
    driver-side `.first()` sniff needed. NULL and empty rows bucket to
    NULL and are dropped by the posexplode — malformed rows degrade to
    "not bucketed" instead of crashing the Arrow batch. Rows of
    different widths share the bucket key space; a chance cross-width
    collision becomes a candidate pair that the ragged-pair NULL in
    with_cosine_vec then drops.
    """
    weights = 1 << np.arange(n_bits, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def _buckets(vs: pd.Series) -> pd.Series:
        vals = vs.to_numpy()
        groups = _width_groups(_lens(vals))
        widths = [w for w, _ in groups]
        if dim is not None and any(w != dim for w in widths):
            # a PRESENT vector whose width contradicts the declared dim
            # is a schema/config error (stale dim after a model swap) —
            # silently NULLing it would make a 100%-mismatch read as
            # "no neighbors found". NULL rows (missing data) degrade;
            # wrong-width data is loud. Callers with genuinely mixed
            # widths leave dim unset.
            raise ValueError(
                f"embeddings of width {widths} contradict declared dim {dim}"
            )
        out = [None] * len(vals)
        for width, rows in groups:
            planes = (
                np.random.default_rng(seed)
                .standard_normal((n_tables * n_bits, width))
                .T
            )  # (width, T*B) — deterministic per (seed, width)
            signs = (np.vstack(vals[rows]) @ planes) >= 0  # one BLAS call
            packed = (
                signs.reshape(len(rows), n_tables, n_bits).astype(np.int64)
                * weights
            ).sum(axis=2)
            if len(rows) == len(vals):  # uniform batch: no per-row scatter
                return pd.Series(list(packed))
            for i, j in enumerate(rows):
                out[j] = packed[i]
        return pd.Series(out, dtype=object)

    return (
        df.withColumn("_bk", _buckets(F.col(vec_col).cast("array<double>")))
        .select("*", F.posexplode("_bk").alias("table_idx", "bucket"))
        .drop("_bk")
    )


def cosine_near_dup(
    embeddings: DataFrame,
    threshold: float,
    method: str = "lsh",
    dim: int | None = None,
    n_tables: int = 16,
    n_bits: int = 8,
    seed: int = 0x5EED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a_id, b_id, cos_sim)
    with cos_sim >= threshold and a_id < b_id.

    The embedding analog of the text near-dup tiers (reference semantic:
    duplicate detection by content equality, src/dictionary.c:49-59,
    relaxed to angular similarity).

    method="brute" — exact all-pairs. O(n^2): the oracle baseline for
    small frames and correctness checks only, mirroring `cosine_topk`.

    method="lsh" — the scale path: self-join on hyperplane-LSH
    (table_idx, bucket) so only vectors sharing a bucket in some table
    are ever scored; no cross join materializes. Recall is governed by
    (n_tables, n_bits) against the threshold's angle: with the defaults
    (16 tables x 8 bits) a cos >= 0.9 pair collides in >= 1 table with
    p ~= 0.996. Meant for high thresholds (>= ~0.9) — at low thresholds
    the collision probability (and thus recall) collapses, which is why
    the brute path stays the oracle.
    """
    e = _vectors(embeddings, id_col, vec_col)
    if method == "brute":
        cand = with_cosine(
            e.toDF("a_id", "qv")
            .crossJoin(e.toDF("b_id", "v"))
            .filter(F.col("a_id") < F.col("b_id"))
        )
    elif method == "lsh":
        # ids + buckets ONLY in the self-join and distinct exchanges —
        # the same "ids and hashes only in shuffles" discipline as the
        # text tiers. Carrying vectors through would ship each colliding
        # pair's array<double> payload up to n_tables times into the
        # distinct; instead dedup (a_id, b_id) first, then join the
        # vectors back once per surviving pair for scoring.
        hb = hyperplane_buckets(e, dim, n_tables, n_bits, seed, "_v").select(
            "_id", "table_idx", "bucket"
        )
        pair_ids = (
            hb.toDF("a_id", "table_idx", "bucket")
            .join(hb.toDF("b_id", "table_idx", "bucket"), ["table_idx", "bucket"])
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
        )
        cand = _scored(pair_ids, e, e)
    else:
        raise ValueError(f"unknown method {method!r}")
    return cand.filter(F.round("cos_sim", 4) >= threshold).select(
        "a_id", "b_id", F.round("cos_sim", 4).alias("cos_sim")
    )


def _ivf_centroids(
    embeddings: DataFrame,
    n_list: int,
    seed: int,
    id_col: str,
    vec_col: str,
    train_factor: int = 16,
    train_iters: int = 5,
) -> np.ndarray | None:
    """IVF 'train' step: spherical k-means on a deterministic bounded
    sample, run DRIVER-side in numpy (the FAISS practice of training
    the coarse quantizer on a sample, not the corpus).

    Sampling: the n_list x train_factor corpus vectors with the
    smallest xxhash64(id, seed) — a seeded uniform sample that is
    stable across runs, partitionings, and parallelism levels (unlike
    TABLESAMPLE). Init = the first n_list sampled rows; train_iters
    fixed Lloyd iterations refine them (empty lists keep their
    centroid). Everything downstream of the sample is single-process
    numpy over a hash-ordered array, so training is deterministic —
    a corpus-side distributed Lloyd pass would be cheaper per byte but
    its float summation order is partition-dependent, and a drifting
    quantizer breaks run-to-run reproducibility of the index.
    train_iters=0 degrades to plain sampled centroids (use for very
    large n_list where the driver matmul would dominate: train cost is
    O(n_list^2 x train_factor x dim x iters) flops).

    Driver-side collect is BOUNDED by config at n_list x train_factor
    x dim doubles (32 x 16 x 768 ~= 3 MB; 1024 x 16 x 768 ~= 100 MB
    — size train_factor down as n_list grows), the same
    justified-small-collect class as the components convergence probe:
    index construction, not per-row data movement. Centroids are
    L2-normalized (spherical quantizer: nearest-by-dot ==
    nearest-by-cosine); NULL, empty, zero-norm and non-finite sampled
    rows are dropped BEFORE width grouping (so an all-degenerate
    majority width cannot mask a usable minority width); among usable
    rows the majority width wins (off-width corpus rows then degrade
    to unassigned, exactly like the LSH NULL-bucket path). Returns
    None when no usable vector exists."""
    rows = (
        _vectors(embeddings, id_col, vec_col)
        .filter(F.col("_v").isNotNull() & (F.size("_v") > 0))
        .orderBy(F.xxhash64(F.col("_id"), F.lit(seed)), F.col("_id"))
        .limit(n_list * max(train_factor, 1))
        .collect()
    )
    by_width: dict[int, list] = {}
    for r in rows:
        # NULL array elements become NaN under the float64 cast and are
        # dropped by the finite check
        a = np.asarray(r["_v"], dtype=np.float64)
        n = float(np.linalg.norm(a))
        if np.isfinite(n) and n > 0 and np.isfinite(a).all():
            by_width.setdefault(len(a), []).append(a / n)
    if not by_width:
        return None
    vecs = max(by_width.values(), key=lambda v: (len(v), -len(v[0])))
    s = np.asarray(vecs, dtype=np.float64)
    c = s[:n_list].copy()
    for _ in range(max(train_iters, 0)):
        assign = np.argmax(s @ c.T, axis=1)
        prev = c.copy()
        for j in range(len(c)):
            members = s[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
        cn = np.linalg.norm(c, axis=1)
        # a zero-mean list (e.g. an antipodal member pair) keeps its
        # previous direction — prev rows are already unit-norm
        dead = cn <= 0
        c[dead] = prev[dead]
        cn[dead] = 1.0
        c = c / cn[:, None]
    return c


def _ivf_assign(vec_col, centroids: np.ndarray, m: int):
    """Column of the m nearest centroid indices (array<int>, nearest
    first) for each vector — ONE Arrow-batched matmul per batch against
    the broadcast centroid matrix, the same kernel shape as
    hyperplane_buckets. argmax of dot(v, c_norm) == argmax cosine (the
    |v| factor is constant per row), so input rows are not normalized.
    Ties break toward the lower centroid index (stable argsort) so
    assignment is fully deterministic. NULL / off-width / non-finite
    rows get NULL (degrade to unassigned, not a crash)."""
    d = centroids.shape[1]
    m = min(m, centroids.shape[0])

    @pandas_udf("array<int>")
    def _assign(vs: pd.Series) -> pd.Series:
        vals = vs.to_numpy()
        ok = _lens(vals) == d
        if not ok.any():
            return pd.Series([None] * len(vals), dtype=object)
        v = np.vstack(vals[ok])
        finite = np.isfinite(v).all(axis=1)
        sims = v[finite] @ centroids.T
        order = np.argsort(-sims, axis=1, kind="stable")[:, :m].astype(np.int32)
        out = [None] * len(vals)
        rows = np.flatnonzero(ok)[finite]
        for i, j in enumerate(rows):
            out[j] = order[i]
        return pd.Series(out, dtype=object)

    return _assign(vec_col)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_list: int = 32,
    nprobe: int = 4,
    seed: int = 0x5EED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_factor: int = 16,
    train_iters: int = 5,
) -> DataFrame:
    """Approximate top-k via IVF-Flat: (query_id, neighbor_id, cos_sim,
    rank), exact cosine within the probed lists.

    The 100 TB plan: the centroid matrix is a broadcast-sized config
    artifact (n_list x dim); every corpus vector is assigned to exactly
    ONE inverted list by a single scan + matmul (shuffle carries
    (id, list_id) only); each query probes its nprobe nearest lists and
    the candidate set is an equi-join on list_id — no cross join, no
    multi-table distinct (a vector appears once per probed list by
    construction, the structural dedup LSH needs a distinct exchange
    for). Expected candidates per query ~= nprobe/n_list of the corpus,
    so cost and recall are tuned by (n_list, nprobe) independently:
    recall comes from probing more lists, cost per candidate stays
    exact-cosine. A true neighbor is missed only when its single list
    is outside the query's probed set — near-duplicate neighbors
    (cos ~> 0.9) share the query's OWN top list with high probability,
    which is why dup-shaped recall stays high at small nprobe
    (measured: BENCH/ann_recall.json `ivf` section).

    Vectors are joined back once per surviving candidate for scoring
    (ids-only discipline in every exchange, as lsh_topk).

    Skew bound: a clustered corpus can concentrate in few lists (the
    IVF analog of the LSH boilerplate swarm, SURVEY §4.1), but the
    per-query worst case is capped at the CORPUS size — i.e. degrades
    toward brute, never past it, because the probe side carries k-sized
    query sets, not a self-join (AQE splits the hot list_id's join
    partitions). All-pairs near-dup over a swarm-shaped corpus is the
    job of cosine_near_dup / the capped text tiers, whose bucket_pairs
    cap + chain-linking bound the quadratic case; use those, not a
    corpus-sized query set here."""
    c = _ivf_centroids(
        embeddings, n_list, seed, id_col, vec_col, train_factor, train_iters
    )
    if c is None:
        # no usable corpus vector: every query has zero neighbors
        return (
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(id_col).alias("neighbor_id"),
                F.lit(None).cast("double").alias("cos_sim"),
                F.lit(None).cast("int").alias("rank"),
            ).limit(0)
        )
    e, q = _vectors(embeddings, id_col, vec_col), _vectors(queries, id_col, vec_col)
    # corpus side: one list per vector (element_at on the m=1 array)
    el = e.select(
        F.col("_id").alias("neighbor_id"),
        F.element_at(_ivf_assign(F.col("_v"), c, 1), 1).alias("list_id"),
    ).filter(F.col("list_id").isNotNull())
    # query side: nprobe lists per query
    ql = q.select(
        F.col("_id").alias("query_id"),
        F.explode(_ivf_assign(F.col("_v"), c, nprobe)).alias("list_id"),
    )
    pair_ids = (
        ql.join(el, "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    return _top_k(_scored(pair_ids, q, e), k)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int | None = None,
    k: int = 10,
    n_tables: int = 16,
    n_bits: int = 8,
    seed: int = 0x5EED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only (query, vector) pairs sharing an LSH
    bucket in at least one table. Equi-join on (table_idx, bucket) — the
    100 TB-shaped plan: no cross join ever materializes.

    Defaults match cosine_near_dup's recall-first 16x8 config: at
    cos 0.91 the per-table collision prob is (1-acos(.91)/pi)^8 ~ 0.31,
    so 16 tables miss a planted near-dup with prob (1-0.31)^16 ~ 0.3%
    (the earlier 8x12 default measured 0.76 dup-recall at the 100k
    drill — a top-k index tuned for candidate volume, not the
    dedup-shaped recall bar; BENCH/ann_scale_drill.json carries the
    measured wall/recall/pair-volume trade for both families)."""
    # bucket join + distinct carry ids only (see cosine_near_dup);
    # vectors are joined back once per surviving (query, neighbor) pair
    e, q = _vectors(embeddings, id_col, vec_col), _vectors(queries, id_col, vec_col)
    eb, qb = (
        hyperplane_buckets(x, dim, n_tables, n_bits, seed, "_v").select(
            "_id", "table_idx", "bucket"
        )
        for x in (e, q)
    )
    pair_ids = (
        qb.toDF("query_id", "table_idx", "bucket")
        .join(eb.toDF("neighbor_id", "table_idx", "bucket"), ["table_idx", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _top_k(_scored(pair_ids, q, e), k)
