"""Pipeline configuration — the analog of the reference's self-describing
DDP1 header (/root/reference/src/compressor.c:30-39): every parameter that
affects the dedup output is pinned here, persisted with every run, and
validated on resume (compressor.c:246-252 validates the persisted header
the same way).

Defaults match FIXTURES.md §4 (`run_config`), the "same shingle/signature
config" that all oracle comparisons use.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling (FIXTURES.md §4) ---
    shingle_k: int = 5          # word shingles
    hash_seed: int = 0x5EED     # seed for shingle/band hashing

    # --- MinHash-LSH ---
    # b=32 x r=4: catch probability at jaccard 0.8 is 1-(1-0.8^4)^32
    # ~= 1 - 5e-8 (b=16 x r=8 reaches only 0.947 — cannot meet the
    # >= 0.99 recall target). The low S-curve midpoint ((1/32)^(1/4)
    # ~= 0.42) admits more candidates; exact-Jaccard verification
    # prunes them, trading bounded compute for guaranteed recall.
    num_perm: int = 128
    bands: int = 32
    rows_per_band: int = 4      # bands * rows_per_band == num_perm

    # --- SimHash (64-bit fingerprints) ---
    hamming_radius: int = 3
    simhash_chunks: int = 4     # pigeonhole chunks; radius < chunks, 64 % chunks
                                # == 0. Buckets key on every (chunks-radius)-
                                # subset of chunks (operators/simhash.py).
                                # MEASURED trade at 1M docs: 4 (=radius+1,
                                # single 16-bit chunks) -> 35.4M junk candidate
                                # pairs, 137 s; 8 -> C(8,5)=56 combos of 40-bit
                                # keys, 58k pairs but 56M windowed membership
                                # rows, 478 s. 4 is faster while n/2^16 stays
                                # far under bucket_pair_cap; flip to 8 beyond
                                # ~10M docs, where 16-bit buckets saturate
                                # (cap-chained, recall degrades) and the junk
                                # volume ~n^2/2^17 dwarfs the 56n memberships.

    # Auto-flip rule (r05 verdict #4, r06): at n/2^16 ~ cap the 16-bit
    # single-chunk buckets saturate — the all-pairs expansion goes
    # ~quadratic (n^2*c/2^17 junk pairs) while capped chains start
    # dropping real pairs. Corpora with >= this many docs use
    # simhash_chunks = 8 (C(8,5) = 56 combinatorial 40-bit keys:
    # membership volume 56n, junk ~n^2*56/2^41). The rule is a pure
    # function of (config, corpus size), so a resume re-derives the
    # same effective setting; the verified EDGE SET is unchanged
    # wherever no cap engages (both settings are exact covers at the
    # same Hamming radius). 0 disables the flip. The 2M default puts
    # the flip where expected bucket occupancy (2M/2^16 ~ 31) makes
    # the quadratic term ~C(31,2)*2^16 ~ 30M junk pairs — past the
    # measured 1M trade point, well before the 10M saturation.
    simhash_auto_chunks_from: int = 2_000_000

    # --- chunk (suffix/substring) tier: content-defined chunking ---
    chunk_min_len: int = 32     # min chunk length (chars)
    chunk_avg_len: int = 128    # anchor density ~ 1/avg; POWER OF TWO
                                # (the anchor test is `hash & (avg-1) == 0`)
    chunk_max_len: int = 512    # forced cut
    substring_min_len: int = 512  # spans >= this are caught w.h.p., not
                                  # deterministically: the tier needs one
                                  # boundary-synchronized interior chunk
                                  # inside the span. MEASURED (tools/
                                  # substring_missrate.py, 2000 planted
                                  # pairs x 10 seeds, adversarial
                                  # offsets incl. doc-start/doc-end
                                  # flush): ~0.6-0.8% miss at exactly
                                  # 512 bytes, 0.0% at >= 768; pytest-
                                  # bound <= 5% (test_chunking.py).
                                  # Residual
                                  # risk is the standard CDC trade
                                  # (LBFS) — verified pairs are exact.

    # --- verification & routing ---
    jaccard_verify_threshold: float = 0.8
    # signature-estimate confidence bands around the threshold t
    # (sigma = sqrt(t(1-t)/num_perm) ~= 0.035 at 128 perms):
    #   est < t - est_reject_margin  -> reject without exact check
    #     (0.10 = 2.9 sigma: a true j=t pair is lost w.p. ~0.2%; pairs at
    #      j >= t+0.05 are >4 sigma safe — recall impact ~0.04% overall,
    #      while cheaply rejecting the boilerplate swarm at est ~0.6
    #      that otherwise dominates exact-verification cost)
    #   est >= t + est_accept_margin -> accept without exact check
    #     (4+ sigma; false accepts cost precision only, never recall)
    est_reject_margin: float = 0.10
    est_accept_margin: float = 0.15
    min_doc_tokens: int = 5     # shorter docs -> exact tier only
                                # (analog of partial-block drop,
                                #  compressor.c:88-93: explicit, logged)

    # --- skew handling ---
    bucket_pair_cap: int = 200  # a bucket's first `cap` members (by doc_id)
                                # get all pairs; each later member chain-links
                                # to its predecessor (operators/candidates.py)

    # --- connected components ---
    cc_max_iterations: int = 50  # union-find rounds before RuntimeError
    # How the CC input and each union-find round are materialized
    # (r05 verdict #5 / r06):
    #   "local"    — localCheckpoint: executor-resident, fastest;
    #                measured optimal in local mode, but NOT
    #                fault-tolerant — on a real cluster an executor
    #                loss mid-round kills the lineage and the job.
    #   "reliable" — df.checkpoint() to spark.sparkContext's
    #                checkpoint dir (caller must setCheckpointDir to
    #                HDFS/object storage on a cluster): survives
    #                executor loss at the cost of a write+read per
    #                round. Identical output (pytest-pinned).
    cc_checkpoint_mode: str = "local"

    # --- execution ---
    shuffle_partitions: int = 32

    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        # Param predicate — analog of compressor.c:46-54 width/block checks.
        if self.num_perm <= 0 or self.bands <= 0 or self.rows_per_band <= 0:
            # positivity first: the product check alone admits 0*r==0
            # and (-b)*(-r)==num_perm, and band_key_col would then build
            # F.sequence(0, bands-1) — for bands=0 a DESCENDING [0, -1]
            # sequence hashing empty signature slices into two garbage
            # band keys shared by every doc
            raise ValueError(
                f"num_perm/bands/rows_per_band must be positive, got "
                f"{self.num_perm}/{self.bands}/{self.rows_per_band}"
            )
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}*{self.rows_per_band}) "
                f"!= num_perm ({self.num_perm})"
            )
        if not (0 <= self.hamming_radius < self.simhash_chunks):
            # a negative radius would make comb() below return 0 and
            # silently disable the tier (zero bucket keys emitted)
            raise ValueError(
                "pigeonhole needs 0 <= hamming_radius < simhash_chunks"
            )
        if 64 % self.simhash_chunks != 0:
            raise ValueError("simhash_chunks must divide 64")
        from math import comb

        n_combos = comb(self.simhash_chunks, self.simhash_chunks - self.hamming_radius)
        if n_combos > 256:
            # membership rows per doc == n_combos; an accidental
            # (chunks, radius) pairing like (16, 8) would emit 12870
            # rows/doc — loud beats a silently 3000x-wider shuffle
            raise ValueError(
                f"C(simhash_chunks, simhash_chunks-hamming_radius) = "
                f"{n_combos} combinatorial bucket keys per doc (max 256); "
                "use fewer chunks or a smaller radius"
            )
        if not (0 < self.chunk_min_len <= self.chunk_avg_len <= self.chunk_max_len):
            raise ValueError("chunk lengths must satisfy min <= avg <= max")
        if self.chunk_avg_len & (self.chunk_avg_len - 1):
            # the CDC anchor test is a bitmask (hash & (avg-1) == 0):
            # a non-power-of-two silently yields the wrong anchor density
            raise ValueError(
                f"chunk_avg_len must be a power of two, got {self.chunk_avg_len}"
            )
        if self.shingle_k <= 0 or self.min_doc_tokens < self.shingle_k:
            raise ValueError("min_doc_tokens must be >= shingle_k > 0")
        if self.cc_checkpoint_mode not in ("local", "reliable"):
            raise ValueError(
                f"cc_checkpoint_mode must be 'local' or 'reliable', "
                f"got {self.cc_checkpoint_mode!r}"
            )
        if self.simhash_auto_chunks_from < 0:
            raise ValueError("simhash_auto_chunks_from must be >= 0")
        if self.simhash_auto_chunks_from:
            # the flipped setting must itself be a valid pigeonhole
            # config, or the flip would crash mid-run on a big corpus
            if not (0 <= self.hamming_radius < 8):
                raise ValueError(
                    "simhash auto-flip targets simhash_chunks=8; "
                    "hamming_radius must be < 8"
                )

    def effective_simhash_chunks(self, n_docs: int) -> int:
        """The pigeonhole chunk count actually used for a corpus of
        `n_docs` documents — `simhash_chunks` below the auto-flip
        threshold, 8 at or above it (see simhash_auto_chunks_from).
        Deterministic in (config, corpus size): a resume or re-run of
        the same corpus derives the same setting."""
        if (
            self.simhash_auto_chunks_from
            and n_docs >= self.simhash_auto_chunks_from
            and self.simhash_chunks < 8
        ):
            return 8
        return self.simhash_chunks

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "DedupConfig":
        return cls(**json.loads(s))
