"""Multimodal columns: image/audio/video as opaque BINARY payloads with
typed metadata, processed through mapInPandas.

The Spark-side plumbing — schema, Arrow batch shape, partitioning,
metadata extraction — is real and tested. The actual media DECODE is
stubbed behind `decoders`, because no image/audio libraries ship in
this container: `fake_decoder` produces a deterministic feature vector
from the payload bytes (so tests have stable expectations), and
`strict_decoder` raises NotImplementedError with the integration point
documented. Swapping in a real decoder (PIL/torchaudio/ffmpeg) changes
ONE function — none of the Spark plumbing.

At 100 TB: payloads stay columnar (parquet binary), batches stream
through mapInPandas (never a full-partition materialization), and the
repartition keys on the id so decode load spreads evenly regardless of
file layout.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

META_SCHEMA = (
    "id long, n_bytes int, magic_hex string, modality string, "
    "feature array<float>"
)

_MAGIC = {
    b"\xff\xd8\xff": "image/jpeg",
    b"\x89PNG": "image/png",
    b"RIFF": "audio/wav",
    b"ID3": "audio/mp3",
    b"\x1aE\xdf\xa3": "video/webm",
}


def sniff_modality(payload: bytes) -> str:
    for magic, modality in _MAGIC.items():
        if payload[: len(magic)] == magic:
            return modality
    return "application/octet-stream"


_FAKE_PROJ_DIM = 8
_FAKE_PROJ = np.random.default_rng(0xDEC0DE).standard_normal((256, _FAKE_PROJ_DIM))


def fake_decoder(payload: bytes, n_features: int = _FAKE_PROJ_DIM) -> list[float]:
    """Deterministic stand-in for a real media decode + feature extract:
    a seeded projection of the byte histogram. Stable across runs,
    partitions, and platforms — good enough to test plumbing and rank
    stability, obviously NOT a perceptual feature."""
    hist = np.bincount(
        np.frombuffer(payload, dtype=np.uint8), minlength=256
    ).astype(np.float64)
    return _project(hist, n_features)


try:  # real image decoding is OPTIONAL: PIL is not in this container,
    # but a deployment that has it gets real features with no code
    # change (round-3 verdict item 5). The guard is import-time so the
    # decode path carries no per-call try.
    from PIL import Image as _PIL_Image  # type: ignore
except ImportError:  # pragma: no cover — exercised only where PIL exists
    _PIL_Image = None


def _project(vec: np.ndarray, n_features: int) -> list[float]:
    """Shared tail of every decoder: seeded projection of a 256-value
    vector to n_features + L2-normalize. ONE copy so the projection
    contract (seed, fast-path, zero-denom guard) cannot desynchronize
    between the fake/PIL/strict paths."""
    proj = (
        _FAKE_PROJ
        if n_features == _FAKE_PROJ_DIM
        else np.random.default_rng(0xDEC0DE).standard_normal((256, n_features))
    )
    feat = vec @ proj
    denom = np.linalg.norm(feat)
    return (feat / denom if denom else feat).astype(np.float32).tolist()


def _pil_pixels(payload: bytes) -> np.ndarray:
    """Decode -> 16x16 grayscale -> 256 pixel values. Raises on a
    missing PIL (callers decide the policy) or an undecodable payload."""
    if _PIL_Image is None:
        raise RuntimeError(
            "PIL decode requested but PIL is not importable in this "
            "process. On a cluster this means the driver has Pillow and "
            "an executor does not — a SILENT per-process fallback would "
            "make the same payload decode differently depending on which "
            "executor got it; install Pillow on all executors or pass "
            "decoder=fake_decoder explicitly."
        )
    import io

    with _PIL_Image.open(io.BytesIO(payload)) as im:
        return np.asarray(
            im.convert("L").resize((16, 16)), dtype=np.float64
        ).ravel()


def pil_decoder(payload: bytes, n_features: int = _FAKE_PROJ_DIM) -> list[float]:
    """Real image decode: _pil_pixels -> seeded projection (the same
    output contract as fake_decoder, so downstream similarity plumbing
    is identical). Payloads PIL cannot decode (audio, video, corrupt
    images) fall back PER PAYLOAD to the deterministic byte-histogram
    stand-in — the pipeline stays total over mixed-modality tables.
    A MISSING PIL is not a fallback case: it raises (per-process
    fallback on a mixed cluster would decode the same payload
    differently per executor)."""
    try:
        px = _pil_pixels(payload)
    except RuntimeError:  # PIL missing — env error, never silent
        raise
    except Exception:  # noqa: BLE001 — undecodable payload, not a bug
        return fake_decoder(payload, n_features)
    return _project(px, n_features)


# what extract_features uses by default: real features where PIL
# exists, the deterministic stand-in otherwise — resolved ONCE at
# import on the submitting process (tests in this container stay
# hermetic); if the choice lands on pil_decoder, executors without PIL
# raise rather than silently diverge
default_decoder = fake_decoder if _PIL_Image is None else pil_decoder


def strict_decoder(payload: bytes, n_features: int = _FAKE_PROJ_DIM) -> list[float]:
    """Decode-or-raise: with PIL, an undecodable payload is an ERROR
    (no silent fallback — for image-only tables where a fallback would
    mask corruption); without PIL, always raises with the integration
    point documented."""
    if _PIL_Image is None:
        raise NotImplementedError(
            "real media decode requires PIL/torchaudio/ffmpeg (not in this "
            "container); plug the decoder in via extract_features(decoder=...)"
        )
    return _project(_pil_pixels(payload), n_features)


FRAME_SCHEMA = "id long, frame_idx int, frame binary"
RESIZE_SCHEMA = "id long, payload binary, n_bytes int"


def byte_window_frames(payload: bytes, n_frames: int) -> list[bytes]:
    """Deterministic stand-in for real keyframe extraction (no ffmpeg in
    this container): n contiguous byte windows with floor-split
    boundaries, so the windows cover every byte exactly once — the
    coverage invariant tests (and the DuckDB oracle) rely on that.
    A real extractor (ffmpeg keyframes / PIL tiles) swaps THIS function
    only; the Spark fan-out plumbing is unchanged."""
    n = len(payload)
    return [
        payload[(n * i) // n_frames : (n * (i + 1)) // n_frames]
        for i in range(n_frames)
    ]


def byte_stride_resize(payload: bytes, factor: int) -> bytes:
    """Deterministic stand-in for a real image/audio resize (PIL /
    resampling not in this container): every factor-th byte. Preserves
    determinism and the ~1/factor size contract the tests assert."""
    return payload[::factor]


def _chunked(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    batch_rows: int,
    per_chunk: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """The one mapInPandas runner of the media operators: (id, payload)
    spread by an id-keyed repartition, each Arrow batch re-chunked to
    `batch_rows` inside the iterator (a partition of large payloads
    never materializes at once), `per_chunk` applied to every chunk."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for frame in it:
            for s in range(0, len(frame), batch_rows):
                yield per_chunk(frame.iloc[s : s + batch_rows])

    spread = df.select(id_col, payload_col).repartition(
        2 * df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    return spread.mapInPandas(run, schema)


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    id_col: str = "id",
    payload_col: str = "payload",
    extractor: Callable[[bytes, int], list[bytes]] = byte_window_frames,
    batch_rows: int = 256,
) -> DataFrame:
    """Frame sampling as a 1->n_frames row fan-out through mapInPandas:
    (id, frame_idx, frame). The expansion happens inside the Arrow
    iterator (never a full-partition materialization); load is spread
    by an id-keyed repartition exactly as in extract_features."""

    def frames_of(chunk: pd.DataFrame) -> pd.DataFrame:
        ids, idxs, frames = [], [], []
        for i, p in zip(chunk[id_col].astype("int64"), chunk[payload_col]):
            if p is None:  # missing media -> no frames, no crash
                continue
            for j, fr in enumerate(extractor(p, n_frames)):
                ids.append(i)
                idxs.append(j)
                frames.append(fr)
        return pd.DataFrame(
            {
                "id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame": pd.Series(frames, dtype=object),
            }
        )

    return _chunked(df, id_col, payload_col, batch_rows, frames_of, FRAME_SCHEMA)


def resize_media(
    df: DataFrame,
    factor: int = 4,
    id_col: str = "id",
    payload_col: str = "payload",
    resizer: Callable[[bytes, int], bytes] = byte_stride_resize,
    batch_rows: int = 256,
) -> DataFrame:
    """Binary->binary resize plumbing: (id, payload, n_bytes) via
    mapInPandas with in-iterator re-chunking (same shape as
    extract_features; the resize kernel is the swappable stub)."""

    def resized(chunk: pd.DataFrame) -> pd.DataFrame:
        # NULL payload -> NULL output row (id preserved), same
        # missing-media contract as extract_features
        out = chunk[payload_col].map(
            lambda p: None if p is None else resizer(p, factor)
        )
        return pd.DataFrame(
            {
                "id": chunk[id_col].astype("int64"),
                "payload": out,
                "n_bytes": pd.Series(
                    [None if p is None else len(p) for p in out],
                    dtype=object,
                    index=chunk.index,
                ),
            }
        )

    return _chunked(df, id_col, payload_col, batch_rows, resized, RESIZE_SCHEMA)


def extract_features(
    df: DataFrame,
    id_col: str = "id",
    payload_col: str = "payload",
    decoder: Callable[[bytes], list[float]] | None = None,
    batch_rows: int = 256,
) -> DataFrame:
    """(id, n_bytes, magic_hex, modality, feature) via mapInPandas.

    Batches are re-chunked to `batch_rows` inside the iterator so a
    partition of large payloads never materializes at once.

    `decoder` defaults to `default_decoder`: real PIL features when PIL
    is importable on the executors, the deterministic byte-histogram
    stand-in otherwise.
    """
    decoder = decoder or default_decoder

    def metadata(chunk: pd.DataFrame) -> pd.DataFrame:
        payloads = chunk[payload_col]
        # NULL payloads degrade to an all-NULL metadata row (id
        # preserved) instead of a len(None) TypeError that kills the
        # task — the pipeline stays total over tables with missing media
        return pd.DataFrame(
            {
                "id": chunk[id_col].astype("int64"),
                "n_bytes": pd.Series(
                    [None if p is None else len(p) for p in payloads],
                    dtype=object,
                    index=chunk.index,
                ),
                "magic_hex": payloads.map(
                    lambda p: None if p is None else p[:2].hex().upper()
                ),
                "modality": payloads.map(
                    lambda p: None if p is None else sniff_modality(p)
                ),
                "feature": payloads.map(
                    lambda p: None if p is None else decoder(p)
                ),
            }
        )

    return _chunked(df, id_col, payload_col, batch_rows, metadata, META_SCHEMA)
