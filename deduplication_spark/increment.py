"""Batch-incremental dedup: assign a NEW batch of documents against an
EXISTING deduplicated index without re-clustering the corpus.

The production loop for an append-only crawl: a full `pipeline.dedup`
run establishes the base clustering once; each subsequent crawl
increment runs `dedup_increment`, which touches only

  O(|new|)            enrichment (hash + MinHash) of the new batch, and
  O(|new| x bands)    band-bucket joins against the index —

never the base corpus's text (except to exact-verify the borderline
sliver, when `base_docs` is supplied). This is the batch generalization
of the reference's insert-if-absent dictionary probe
(/root/reference/src/dictionary.c:61-78): probe the existing dictionary
first, extend it only with genuinely-new entries.

The index has MEMBER granularity — one row per base document, one
schema for every index (`INDEX_SCHEMA`): (member_id, cluster_id,
content_hash, minhash, simhash, band_keys), ~1.3 KB/row, no text, and
the signature-config pin on `minhash`.
Per-cluster (canonical-only) indexing is NOT sufficient: a new doc's
exact twin or >=0.8-Jaccard neighbor is often a non-canonical member
whose own hash/signature must be probe-able (cluster membership is
transitive — the member may sit far from its canonical). Member rows
are what the reference dictionary stores too: every distinct block,
not one per run.

Increment tiers: exact (hash join vs index + window-min within new),
MinHash-LSH (band join over index ∪ new memberships, capped, estimate-
screened, exact-Jaccard verified when `base_docs` is supplied) and,
when asked for, SimHash (chunk-bucket join over index ∪ new, Hamming
verified). They run through the full pipeline's own stage runner and
tier run (`pipeline._Stages`, `pipeline._Tiers`) with the index as
the one extra input: only the bucket probe is increment-shaped
(operators.candidates.probe_pairs). A first run is the same probe
over an empty index. The substring tier is
full-run-only by design: a periodic full re-run picks up the residual
long-span duplicates.

ID contract: new doc_ids must all be GREATER than every base member id
(natural for append-only crawls): the enriched stage observes the
batch's min id, and one small query reads the index's max member id.
Connected components elects the min id per component, so a component
touching an existing cluster keeps that cluster's id — assignments are
STABLE across increments. A new doc bridging two existing clusters
merges them; the merge is reported explicitly in
`IncrementResult.merges`, never applied silently.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DedupConfig
from .functions.hashing import band_key_col
from .io import ConfigMismatch, MemoryStore
from .operators.components import component_assignments, label_components
from .pipeline import _enriched, _job_tag, _Stages, _Tiers, doc_texts, enrich


def _sig_fingerprint(cfg: DedupConfig) -> str:
    """Fingerprint of the config fields that determine signature bytes.
    Two configs with equal fingerprints produce bit-equal minhash
    signatures; anything else makes index and increment signatures
    incomparable (zip_with over mismatched lengths null-pads — LSH
    recall silently collapses to ~0)."""
    return (
        f"perm={cfg.num_perm};seed={cfg.hash_seed};k={cfg.shingle_k};"
        f"bands={cfg.bands};rows={cfg.rows_per_band};ckey=sha256/16"
    )


def _check_pin(index: DataFrame, cfg: DedupConfig) -> str:
    """cfg's signature fingerprint; ConfigMismatch if `index` is pinned
    to another."""
    fp = _sig_fingerprint(cfg)
    existing = index.schema["minhash"].metadata.get("sig_cfg")
    if existing is not None and existing != fp:
        raise ConfigMismatch(
            f"index is pinned to signature config [{existing}] but the "
            f"current config fingerprints as [{fp}]"
        )
    return fp


def pin_sig_config(index: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Attach the signature-config fingerprint as minhash column
    metadata (survives parquet round trips; `dedup_increment` validates
    it before probing). ONE helper for every index-producing surface —
    `index_from_enriched`, the index `dedup_increment` returns and the
    stream's initial version — so the pin format cannot drift between
    them. An index already pinned to cfg is returned as is.

    An EXISTING pin is validated, never overwritten (round-4 advice):
    stamping cfg's fingerprint over an index pinned with a different
    config would persist a FORGED pin — a later restart would read it
    back, pass the guard, and let LSH recall collapse silently, the
    exact failure the pin exists to catch. Raise BEFORE anything is
    persisted instead."""
    fp = _check_pin(index, cfg)
    if index.schema["minhash"].metadata.get("sig_cfg") == fp:
        return index
    return index.select(
        *[
            F.col(c).alias("minhash", metadata={"sig_cfg": fp})
            if c == "minhash"
            else F.col(c)
            for c in index.columns
        ]
    )


@dataclass
class IncrementResult:
    assignments: DataFrame  # new batch: (doc_id, cluster_id, is_canonical)
    merges: DataFrame       # (old_cluster_id, merged_into) — base clusters
                            # bridged by a new doc; empty most increments
    index: DataFrame        # updated member-level index incl. the new batch,
                            # INDEX_SCHEMA, pinned to the increment's cfg.
                            # LAZY: when threading it through a LONG chain of
                            # increments, cut lineage every batch (write+read
                            # parquet — what streaming/increment_stream.py
                            # does — or localCheckpoint), else the logical
                            # plan deepens per batch (join + union each)
    metrics: dict = field(default_factory=dict)


# The one member-index schema: every index `index_from_enriched`,
# `build_index`, `empty_index` and `dedup_increment` produce has exactly
# these columns. `band_keys` are the precomputed LSH band keys
# (array<long>[bands], ~260 bytes/row, r06): stored once at build
# time, so the probe explodes this 4x-narrower column
# instead of re-deriving every member's keys from the ~1 KB minhash
# column each increment. The sig_cfg pin covers every parameter band
# keys derive from, so a config drift fails fast before stale keys
# could be probed.
INDEX_SCHEMA = (
    "member_id bigint, cluster_id bigint, content_hash binary, "
    "minhash array<bigint>, simhash bigint, band_keys array<bigint>"
)


def _check_index(index: DataFrame, cfg: DedupConfig) -> None:
    """The index contract, checked from the schema alone (no job):
    every `INDEX_SCHEMA` column at its type, and no sig_cfg pin other
    than cfg's (ConfigMismatch). Types compare as simpleString, which
    leaves nullability out (a built index's band_keys is
    containsNull=false). A hex-string content_hash (an older index
    shape) is refused here: a string==binary probe would silently
    match nothing."""
    want = [f.split() for f in INDEX_SCHEMA.split(", ")]
    have = {f.name: f.dataType.simpleString() for f in index.schema}
    missing = [c for c, _ in want if c not in have]
    if missing:
        raise ValueError(
            f"index lacks columns {missing} of INDEX_SCHEMA — rebuild it "
            "with build_index/index_from_enriched"
        )
    wrong = [f"{c} {have[c]}" for c, t in want if have[c] != t]
    if wrong:
        raise ValueError(
            f"index columns {wrong} do not match INDEX_SCHEMA "
            f"({INDEX_SCHEMA}) — rebuild it with build_index/index_from_enriched"
        )
    _check_pin(index, cfg)


def empty_index(spark: SparkSession) -> DataFrame:
    """A zero-row member index (cold start: no base corpus). Unpinned:
    an empty index is the one index `dedup_increment` accepts without a
    sig_cfg pin, and the index it returns carries the pin."""
    return spark.createDataFrame([], INDEX_SCHEMA)


def build_index(
    docs: DataFrame,
    assignments: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Member-level increment index (`INDEX_SCHEMA`) from a full run's
    output: one row per base doc.

    This RECOMPUTES the enrichment UDF pass over the base corpus (the
    dominant cost — measured 157 s for 120k docs at local[32], more
    than the increment itself). When the base run's enriched stage is
    at hand — `DedupResult.enriched`, or the `enriched` snapshot of a
    `run_dir` StageStore — use `index_from_enriched` instead: a join,
    zero UDF passes."""
    return index_from_enriched(
        enrich(doc_texts(docs, id_col, text_col), cfg, True),
        assignments,
        cfg=cfg,
    )


def index_from_enriched(
    enriched: DataFrame, assignments: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Zero-recompute index build (`INDEX_SCHEMA`) from a full run's
    enriched stage ((doc_id, content_hash, minhash, simhash) — e.g.
    `DedupResult.enriched` or `StageStore.read("enriched")`) + its
    assignments.

    The signature config fingerprint is pinned as column metadata on
    `minhash` (it survives a parquet round trip), so `dedup_increment`
    can fail fast on a config mismatch — the DDP1 header check applied
    to the increment index."""
    # NULL-guarded: xxhash64 SKIPS null arguments, so band_key_col over a
    # NULL signature would emit identical non-null garbage keys for every
    # short doc — one giant junk bucket per band. NULL keys instead; the
    # probe's explode drops them (the same contract as band_key_buckets'
    # isNotNull filter).
    band_keys = F.when(
        F.col("minhash").isNotNull(),
        band_key_col("minhash", cfg.rows_per_band, cfg.bands, cfg.hash_seed),
    )
    rows = enriched.select("doc_id", "content_hash", "minhash", "simhash").join(
        assignments.select("doc_id", "cluster_id"), "doc_id"
    )
    return pin_sig_config(
        rows.select(
            F.col("doc_id").alias("member_id"),
            "cluster_id",
            "content_hash",
            "minhash",
            "simhash",
            band_keys.alias("band_keys"),
        ),
        cfg,
    )


def dedup_increment(
    spark: SparkSession,
    new_docs: DataFrame,
    index: DataFrame,
    cfg: DedupConfig | None = None,
    base_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    tiers: tuple[str, ...] = ("exact", "minhash"),
) -> IncrementResult:
    """Dedup `new_docs` against `index` (and within themselves).

    `tiers`: which increment tiers run — a subset of
    ("exact", "minhash", "simhash"); "exact" is always required (the
    dictionary probe is the identity of the operation). "simhash"
    (off by default) probes the index's 8-byte simhash fingerprints
    with the same pigeonhole chunk bucketing as the full pipeline —
    it closes the residual recall gap for high-bit-agreement pairs
    whose Jaccard sits just under the LSH S-curve, for ~1% extra
    index width. The substring tier remains full-run-only by design.

    `index` must have every `INDEX_SCHEMA` column at its type (ValueError
    otherwise) and, unless it is empty, the sig_cfg pin of `index_from_enriched`
    matching `cfg` (ConfigMismatch otherwise). The returned index is
    `INDEX_SCHEMA`, pinned to `cfg`.

    `base_docs`: optional (doc_id, text) covering the base corpus. When
    given, borderline LSH candidates get the same exact-Jaccard
    verification as a full run (texts are fetched for just the
    borderline docs). When omitted, borderline pairs are decided by the
    MinHash estimate at the threshold itself — unbiased, but a pair
    within ~sigma (0.035 at 128 perms) of the threshold may flip vs a
    full run. Documented trade for running increments without
    base-corpus access.

    The tiers run through `pipeline._Tiers`, the full run's tier run,
    concurrently and as stages of `pipeline._Stages` (each materialized
    once); a refused bound or a failing tier stops the call's other
    tiers and raises at once. `metrics` always carries `n_new_docs` and
    `{stage}_rows` for each stage (`enriched`, `edges_exact`,
    `cand_minhash`, `sigs_minhash`, `edges_minhash`, `edges_simhash`,
    `components`, as the tiers run); `doc_ids` (min, duplicates: the
    batch's doc_id facts, `pipeline._enriched`); `cc_rounds` (union-find
    rounds of the components); and for each candidate tier
    that runs its bucket accounting over the touched buckets
    (`minhash_candidates`, `simhash_candidates`: n_buckets,
    n_capped_buckets, n_candidate_edges, dropped_pairs) — the same
    honest-skew accounting the full pipeline reports. All of it is
    observed by the stage writes, so it costs no job. An empty batch
    reports `enriched_rows`, `doc_ids` and `n_new_docs` only.
    """
    cfg = cfg or DedupConfig()

    allowed = {"exact", "minhash", "simhash"}
    if not set(tiers) <= allowed or "exact" not in tiers:
        raise ValueError(
            f"increment tiers must be a subset of {sorted(allowed)} "
            f"containing 'exact', got {tiers!r}"
        )
    # --- index contract, incl. the signature-config guard
    # (ConfigMismatch fail-fast, as for resume): a num_perm/hash_seed/
    # shingle_k drift vs the index-building config makes signatures
    # incomparable and LSH recall ~0, silently.
    _check_index(index, cfg)

    new_base = doc_texts(new_docs, id_col, text_col)
    stage = _Stages(MemoryStore(spark, cfg), {})
    metrics = stage.metrics
    texts = None
    if base_docs is not None:
        texts = new_base.union(
            base_docs.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            )
        )
    # one tier run, as dedup()'s: a refused bound or a failing tier
    # leaves through its one exit path
    with _Tiers(stage, new_base, cfg, tiers) as run:
        # the new side of the ID contract (unique ids, their min) is checked
        # and observed by the enriched stage's own write
        enriched = _enriched(stage, new_base, cfg, True)
        min_new = metrics["doc_ids"]["min"]
        n_new = metrics["n_new_docs"] = metrics["enriched_rows"]

        # --- the index side: every new id above every base member id, the
        # pin, the width sample. The two one-row aggregates join as a
        # cartesian product: a broadcast nested-loop join would run a
        # broadcast job of its own
        with _job_tag(spark, "bounds"):
            bounds = (
                index.agg(
                    F.max("member_id").alias("hi"),
                    F.count(F.lit(1)).alias("n_index"),
                )
                .crossJoin(
                    # legacy-shape guard on a BOUNDED sample (r06): an index
                    # whose signatures have a different width than cfg.num_perm
                    # (a secondary check behind the pin) must fail fast. Widths
                    # are uniform per index by construction (one enrich kernel
                    # wrote every row) and the sig_cfg pin above is the primary
                    # guard — scanning the FULL 1 KB/row minhash column just to
                    # take size() cost one whole-index read per increment, the
                    # single biggest base-coupled read of the probe path.
                    index.limit(1024).agg(
                        F.min(F.size("minhash")).alias("sig_lo"),
                        F.max(F.size("minhash")).alias("sig_hi"),
                    ).hint("shuffle_replicate_nl")
                )
                .first()
            )
        if bounds["n_index"] and "sig_cfg" not in index.schema["minhash"].metadata:
            raise ConfigMismatch(
                f"index has {bounds['n_index']} rows but no signature config "
                "pin on minhash — build it with build_index/index_from_enriched"
            )
        if bounds["sig_lo"] is not None and (
            bounds["sig_lo"] != cfg.num_perm or bounds["sig_hi"] != cfg.num_perm
        ):
            raise ConfigMismatch(
                f"index minhash width {bounds['sig_lo']}..{bounds['sig_hi']} "
                f"!= cfg.num_perm {cfg.num_perm}; signatures are incomparable"
            )
        if n_new == 0:
            # empty increment: the probe would find no pair (it only
            # examines buckets the batch touches), so skip it and return
            # the index object unchanged
            empty_assign = enriched.select(
                "doc_id",
                F.col("doc_id").alias("cluster_id"),
                F.lit(True).alias("is_canonical"),
            )
            empty_merges = index.select(
                F.col("cluster_id").alias("old_cluster_id"),
                F.col("cluster_id").alias("merged_into"),
            ).filter(F.lit(False))
            return IncrementResult(
                assignments=empty_assign,
                merges=empty_merges,
                index=pin_sig_config(index, cfg),
                metrics=metrics,
            )
        if bounds["hi"] is not None and min_new <= bounds["hi"]:
            raise ValueError(
                f"increment ids must exceed base member ids "
                f"(min new {min_new} <= max base {bounds['hi']}); "
                "cluster-id stability relies on min-id election"
            )
        # the full run's tiers, probing the index; the SimHash auto-flip
        # reads the size of the corpus the index and this batch make
        # together, so the probe buckets like a full run over the same docs
        edges = run.edges(enriched, texts, bounds["n_index"] + n_new, index, min_new)

    # --- components over the increment edge set ------------------------
    # edges touch old MEMBERS; lift them to their cluster id so the
    # component election lands on the stable existing id. A new id is
    # no member, and a live cluster id is a member that maps to itself
    m2c = index.select(F.col("member_id").alias("a"), F.col("cluster_id").alias("_c"))
    lifted = edges.join(m2c, "a", "left").select(
        F.coalesce("_c", "a").alias("src"), F.col("b").alias("dst")
    )

    def build_components() -> tuple:
        comp, rounds = label_components(
            lifted, cfg.cc_max_iterations, cfg.cc_checkpoint_mode
        )
        return comp, {"cc_rounds": rounds}

    comp = stage("components", build_components)
    assignments = component_assignments(enriched, comp)

    # --- explicit merge report: base clusters bridged by a new doc -----
    # old nodes in the component graph are cluster ids (every edge is
    # lifted): any old node not electing itself was merged into another
    # base cluster
    merges = comp.filter(
        (F.col("node") < min_new) & (F.col("node") != F.col("component"))
    ).select(
        F.col("node").alias("old_cluster_id"),
        F.col("component").alias("merged_into"),
    )

    # --- updated index: remap merged base rows, append the new batch ---
    # appended rows are built like any index rows. A union keeps only
    # its first side's column metadata, so the result is re-pinned
    idx_kept = index.join(
        merges, index.cluster_id == merges.old_cluster_id, "left"
    ).select(
        "member_id",
        F.coalesce("merged_into", "cluster_id").alias("cluster_id"),
        "content_hash",
        "minhash",
        "simhash",
        "band_keys",
    )
    new_rows = index_from_enriched(enriched, assignments, cfg)

    return IncrementResult(
        assignments=assignments,
        merges=merges,
        index=pin_sig_config(idx_kept.union(new_rows), cfg),
        metrics=metrics,
    )
