"""Multimodal columns (SURVEY.md §2.14): images/audio/video as opaque
``binary`` payloads with typed metadata, processed via Arrow-batched
``mapInPandas``.

The decode kernels themselves are STUBBED — image/audio libraries are not
in this environment — behind ``set_decoder``: the default
``fake_decoder`` derives deterministic metadata from the bytes (so the
Spark-side plumbing — schema, batching, partitioning — is real and
testable end-to-end), and a real decoder (PIL/ffmpeg/librosa) drops into
the same slot in production. ``strict=True`` raises NotImplementedError
instead, making the stub explicit.

Scale notes: payloads stay in executor memory one Arrow batch at a time
(``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch bytes);
no payload ever moves to the driver. Feature extraction emits only the
small metadata struct, so downstream stages shuffle metadata, not blobs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import ddl, ident

DECODED_FIELDS = (
    "width bigint, height bigint, n_channels bigint, "
    "n_frames bigint, sample_rate bigint, byte_len bigint, sha256 string"
)


def fake_decoder(payload: bytes, modality: str) -> dict:
    """Deterministic stand-in for a real media decoder. Metadata is a pure
    function of the payload bytes — reproducible across engines, which is
    what makes the plumbing oracle-checkable."""
    n = len(payload)
    meta = {
        "width": None,
        "height": None,
        "n_channels": None,
        "n_frames": None,
        "sample_rate": None,
        "byte_len": n,
        "sha256": hashlib.sha256(payload).hexdigest(),
    }
    if modality == "image":
        meta.update(width=1 + n % 640, height=1 + n % 480, n_channels=3)
    elif modality == "video":
        meta.update(
            width=1 + n % 640, height=1 + n % 480, n_channels=3, n_frames=1 + n % 32
        )
    elif modality == "audio":
        meta.update(n_channels=1 + n % 2, sample_rate=16000, n_frames=1 + n % 48000)
    return meta


_DECODER: Callable[[bytes, str], dict] = fake_decoder


def set_decoder(fn: Callable[[bytes, str], dict]) -> None:
    global _DECODER
    _DECODER = fn


def decode_media(
    df: DataFrame,
    payload_col: str = "payload",
    modality_col: str = "modality",
    strict: bool = False,
) -> DataFrame:
    """Attach a ``media`` metadata struct decoded from the binary payload.

    Runs as mapInPandas: one Arrow batch of payloads in, the same rows +
    metadata columns out. With ``strict=True`` the stub refuses to decode
    (NotImplementedError) — the honest mode until a real decoder is set.
    """
    if strict and _DECODER is fake_decoder:
        raise NotImplementedError(
            "no real media decoder installed in this environment; "
            "use set_decoder(...) or strict=False for the deterministic stub"
        )
    decoder = _DECODER
    out_schema = f"{ddl(df.schema, df.columns)}, {DECODED_FIELDS}"

    meta_cols = [s.split()[0] for s in DECODED_FIELDS.split(", ")]

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                decoder(bytes(p) if p is not None else b"", m)
                for p, m in zip(pdf[payload_col], pdf[modality_col])
            ]
            for c in meta_cols:
                pdf[c] = [meta[c] for meta in metas]
            yield pdf

    return df.mapInPandas(decode_batches, schema=out_schema)


def with_binary_payload(
    df: DataFrame, source_col: str = "text", modality: str = "image"
) -> DataFrame:
    """Testdata adapter: wrap a string column as an opaque binary payload
    plus modality tag (the testdata ships no real media bytes)."""
    return df.withColumn("payload", F.encode(F.col(source_col), "UTF-8")).withColumn(
        "modality", F.lit(modality)
    )


def fake_feature_extractor(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for an image/audio feature model: feature j
    = j-th hex digit of sha256(payload) / 15.0. Pure function of the
    bytes (oracle-reproducible); a real CLIP/VGG-ish extractor drops into
    :func:`set_feature_extractor` and emits the same array<double>."""
    hx = hashlib.sha256(payload).hexdigest()
    return [int(hx[j % 64], 16) / 15.0 for j in range(dim)]


_FEATURE_EXTRACTOR: Callable[[bytes, int], list[float]] = fake_feature_extractor


def set_feature_extractor(fn: Callable[[bytes, int], list[float]]) -> None:
    global _FEATURE_EXTRACTOR
    _FEATURE_EXTRACTOR = fn


def extract_media_features(
    df: DataFrame,
    dim: int = 16,
    payload_col: str = "payload",
    feature_col: str = "features",
) -> DataFrame:
    """Media feature extraction over ``mapInPandas``: binary payload in,
    fixed-``dim`` ``array<double>`` out, batch-at-a-time.

    The payload never leaves the executor; downstream similarity stages
    (:mod:`~..operators.similarity`) consume only the small vector. The
    batch shape is exactly what a real model wants (one forward pass per
    Arrow batch).
    """
    extractor = _FEATURE_EXTRACTOR
    out_schema = f"{ddl(df.schema, df.columns)}, {ident(feature_col)} array<double>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[feature_col] = [
                extractor(bytes(p) if p is not None else b"", dim)
                for p in pdf[payload_col]
            ]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def fake_frame_sampler(payload: bytes, stride: int):
    """Deterministic stand-in for a real frame sampler: frame count =
    1 + byte_len % 32, frame fingerprint = sha256(payload || ':' || idx)
    — a pure function of the bytes (oracle-reproducible)."""
    n_frames = 1 + len(payload) % 32
    for i in range(0, n_frames, stride):
        yield i, hashlib.sha256(payload + b":" + str(i).encode()).hexdigest()


def real_frame_sampler(payload: bytes, stride: int):
    """REAL frame sampler for :func:`sample_frames`' slot: the payload
    is decoded as an animated GIF (:mod:`.gif` — pure-stdlib LZW +
    compositing) and every ``stride``-th COMPOSITED frame's raw RGB
    bytes are fingerprinted. A payload that is not a GIF raises — a
    real sampler does not guess. (Real video codecs are out of stdlib
    scope; GIF is the animation format the standard library can carry
    end-to-end, making the strict path real the way PNG/WAV did for
    decode.)"""
    from .gif import gif_decode

    d = gif_decode(bytes(payload))
    for i in range(0, d["n_frames"], stride):
        yield i, hashlib.sha256(d["frames"][i]).hexdigest()


_FRAME_SAMPLER: Callable = fake_frame_sampler


def set_frame_sampler(fn: Callable) -> None:
    global _FRAME_SAMPLER
    _FRAME_SAMPLER = fn


def sample_frames(
    df: DataFrame,
    stride: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    strict: bool = False,
) -> DataFrame:
    """Frame sampling: one row per sampled frame of each video payload —
    the row-exploding ``mapInPandas`` shape (N payload rows in, ~N *
    frames/stride frame rows out; Arrow bounds the inflation per batch).

    The per-payload kernel is a slot (mirroring ``set_decoder``): the
    default :func:`fake_frame_sampler` derives deterministic frames from
    the bytes; :func:`real_frame_sampler` (``set_frame_sampler``)
    actually decodes animated GIFs and fingerprints composited RGB
    frames. ``strict=True`` refuses to run on the stub.
    """
    if strict and _FRAME_SAMPLER is fake_frame_sampler:
        raise NotImplementedError(
            "no real frame sampler installed; use set_frame_sampler("
            "real_frame_sampler) for GIF payloads or strict=False for "
            "the deterministic stub"
        )
    sampler = _FRAME_SAMPLER
    out_schema = f"{ident(id_col)} bigint, frame_idx bigint, frame_sha string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, shas = [], [], []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                payload = bytes(p) if p is not None else b""
                for i, sha in sampler(payload, stride):
                    ids.append(did)
                    idxs.append(i)
                    shas.append(sha)
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": idxs, "frame_sha": shas}
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=out_schema)


def real_decoder(payload: bytes, modality: str) -> dict:
    """The combined REAL decode kernel for :func:`decode_media`'s slot
    (``set_decoder(real_decoder)``): images decode through the
    pure-stdlib PNG codec (:mod:`.png`), audio through the PCM WAV
    codec (:mod:`.wav`), video through the animated-GIF codec
    (:mod:`.gif` — LZW + frame compositing); other modalities report
    byte-level metadata only. A payload that is not its modality's
    supported format raises — a real decoder does not guess."""
    from .gif import gif_decoder
    from .png import png_decoder
    from .wav import wav_decoder

    if modality == "image":
        return png_decoder(payload, modality)
    if modality == "audio":
        return wav_decoder(payload, modality)
    if modality == "video":
        return gif_decoder(payload, modality)
    import hashlib as _h

    return {
        "width": None,
        "height": None,
        "n_channels": None,
        "n_frames": None,
        "sample_rate": None,
        "byte_len": len(payload),
        "sha256": _h.sha256(payload).hexdigest(),
    }
