"""Empirical miss rate of the substring tier's CDC candidate stage
(round-3 verdict item 3).

config.py documents the substring tier's probabilistic guarantee: a
shared span >= substring_min_len (512) bytes is caught with high
probability, not deterministically — the candidate stage needs at least
one boundary-synchronized CDC chunk (>= chunk_min_len) fully interior
to the span, which a span can lack (no anchor lands inside, or the
edges desynchronize). The "~2%" figure there was analytical. This
experiment measures it:

- For each seed, plant `pairs_per_seed` document pairs sharing exactly
  one verbatim span, at independently random (adversarial: including
  doc-start, doc-end, anchor-straddling) offsets inside otherwise
  independent random text of 1.5-3.5 KB.
- A pair is MISSED iff the two docs share no (>= chunk_min_len) chunk
  fingerprint — the exact candidate condition of
  operators/substring.py:chunk_buckets (computed here with the SAME
  `cdc_chunks` kernel the pandas UDF calls). Verification
  (has_common_gram) is exact at span >= L, so candidate misses ARE
  tier misses; this is asserted per-pair below.
- Sweep span lengths 512 (the guarantee boundary), 768, 1024 to show
  how the miss rate decays once spans can hold more chunks.
- One seed's corpus is additionally pushed through the REAL Spark
  operators (`substring_candidates` -> `verify_substring`) to pin the python-level measurement to
  the production path (caught sets must be identical).

Writes BENCH/substring_missrate.json. tests/test_chunking.py bounds
the L=512 rate at <= 5%.
"""

from __future__ import annotations

import json
import os
import random
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deduplication_spark.config import DedupConfig  # noqa: E402
from deduplication_spark.functions.chunking import (  # noqa: E402
    cdc_chunks,
    has_common_gram,
)

ALPHA = string.ascii_lowercase + string.digits + " "


def _rand_text(rng: random.Random, n: int) -> str:
    return "".join(rng.choices(ALPHA, k=n))


def planted_pair(rng: random.Random, span_len: int) -> tuple[str, str]:
    """Two docs sharing exactly one span_len-byte verbatim span at
    independent offsets. Offsets are drawn to include the adversarial
    placements: span at byte 0, span at the very end, and every
    alignment mod chunk_avg_len in between."""
    span = _rand_text(rng, span_len)

    def mk() -> str:
        total = rng.randrange(1500, 3500)
        # placements include both flush boundaries: span at byte 0
        # (pre=0), span ending the doc exactly (pre=total-span_len,
        # where the forced trailing cut meets the span edge), and
        # uniform interior offsets
        pre = rng.choice(
            [
                0,
                total - span_len,
                rng.randrange(0, 64),
                rng.randrange(0, total - span_len),
            ]
        )
        suf = max(0, total - pre - span_len)
        return _rand_text(rng, pre) + span + _rand_text(rng, suf)

    return mk(), mk()


def candidate_caught(a: str, b: str, cfg: DedupConfig) -> bool:
    """The chunk_buckets condition: docs share a chunk fingerprint of
    length >= chunk_min_len."""

    def fps(t: str) -> set[int]:
        return {
            fp
            for (_s, ln, fp) in cdc_chunks(
                t.encode("utf-8"),
                cfg.chunk_min_len,
                cfg.chunk_avg_len,
                cfg.chunk_max_len,
            )
            if ln >= cfg.chunk_min_len
        }

    return bool(fps(a) & fps(b))


def measure(
    cfg: DedupConfig, span_len: int, n_seeds: int, pairs_per_seed: int
) -> dict:
    per_seed = []
    for seed in range(n_seeds):
        rng = random.Random(0xC0FFEE + seed)
        misses = 0
        for _ in range(pairs_per_seed):
            a, b = planted_pair(rng, span_len)
            # verification is exact at span >= L: a candidate hit IS a
            # tier hit (the planted span is a real >= L common substring)
            assert has_common_gram(
                a.encode("utf-8"), b.encode("utf-8"), cfg.substring_min_len
            )
            if not candidate_caught(a, b, cfg):
                misses += 1
        per_seed.append(misses / pairs_per_seed)
    n = n_seeds * pairs_per_seed
    return {
        "span_len": span_len,
        "n_pairs": n,
        "miss_rate": round(sum(per_seed) / n_seeds, 4),
        "per_seed_miss": [round(m, 4) for m in per_seed],
    }


def spark_crosscheck(cfg: DedupConfig, n_pairs: int = 150) -> dict:
    """Push one seeded corpus through the real operator: the set of
    planted pairs the Spark tier finds must equal the set the python
    candidate predicate predicts."""
    import pandas as pd

    from deduplication_spark.operators.substring import (
        substring_candidates,
        verify_substring,
    )
    from deduplication_spark.session import get_spark

    rng = random.Random(0xC0FFEE)
    rows, predicted = [], set()
    for i in range(n_pairs):
        a, b = planted_pair(rng, cfg.substring_min_len)
        ia, ib = 2 * i, 2 * i + 1
        rows.append({"doc_id": ia, "text": a})
        rows.append({"doc_id": ib, "text": b})
        if candidate_caught(a, b, cfg):
            predicted.add((ia, ib))

    spark = get_spark(app_name="substring_missrate")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.createDataFrame(pd.DataFrame(rows))
    edges = verify_substring(substring_candidates(docs, cfg).pairs, docs, cfg)
    found = {
        (min(r["a"], r["b"]), max(r["a"], r["b"])) for r in edges.collect()
    }
    # the operator may also catch chance cross-pair collisions; planted
    # pairs are (2i, 2i+1) — compare on those
    found_planted = {p for p in found if p[1] == p[0] + 1 and p[0] % 2 == 0}
    return {
        "n_pairs": n_pairs,
        "predicted_caught": len(predicted),
        "spark_caught": len(found_planted),
        "agree": found_planted == predicted,
    }


def main() -> None:
    cfg = DedupConfig()
    out = {
        "config": {
            "chunk_min_len": cfg.chunk_min_len,
            "chunk_avg_len": cfg.chunk_avg_len,
            "chunk_max_len": cfg.chunk_max_len,
            "substring_min_len": cfg.substring_min_len,
        },
        "sweep": [
            measure(cfg, span, n_seeds=10, pairs_per_seed=200)
            for span in (512, 768, 1024)
        ],
        "spark_crosscheck": spark_crosscheck(cfg),
    }
    dest = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "substring_missrate.json",
    )
    with open(dest, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
