"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
typed metadata struct; decode / feature-extraction are Arrow-batched
``mapInPandas`` stages. The decode codecs (Pillow/ffmpeg/librosa) are NOT in
this container, so the codec call is stubbed behind ``decoder=`` — the
DEFAULT decoder raises NotImplementedError (clearly marked), and
``fake_decoder`` provides a deterministic byte-derived stand-in so the Spark
plumbing (schemas, batch iteration, partitioning, feature shapes) is real
and tested end-to-end.

At 100 TB the operative design points are:
- binary payloads stay columnar (parquet BYTE_ARRAY) and are NEVER collected;
- ``spark.sql.files.maxPartitionBytes`` bounds per-task payload volume;
- mapInPandas streams record batches, so one task never holds more than a
  batch of payloads in Python memory;
- metadata (dims, duration, codec) travels in a sibling struct column so
  filters on it prune without touching bytes (columnar projection).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id long, kind string, width int, height int, n_frames int, "
    "feature array<float>"
)

FEATURE_DIM = 8


def attach_binary(docs: DataFrame) -> DataFrame:
    """Stand-in media table from the documents fixture: utf-8 bytes as the
    opaque payload + typed metadata struct (real pipelines load image/audio
    bytes from object storage the same way)."""
    data = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.lit("blob").alias("kind"),
        data.alias("data"),
        F.struct(
            F.octet_length(data).alias("n_bytes"),
            F.sha2(data, 256).alias("checksum"),
        ).alias("meta"),
    )


def real_decoder(kind: str, payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """The codec seam. Pillow/ffmpeg are not installed in this container."""
    raise NotImplementedError(
        "media codecs (Pillow/ffmpeg/librosa) are not available in this "
        "environment — pass decoder=fake_decoder for the deterministic stub"
    )


def fake_decoder(kind: str, payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Deterministic stand-in: dims from payload length, features from a
    blake2b digest — pure function of bytes, so tests are reproducible."""
    n = len(payload)
    width, height = (n % 640) + 1, (n % 480) + 1
    n_frames = 1
    digest = hashlib.blake2b(payload, digest_size=FEATURE_DIM * 4).digest()
    feat = np.frombuffer(digest, dtype=np.uint32).astype(np.float32)
    feat = feat / np.float32(2**32)
    return width, height, n_frames, feat


def decode_media(media: DataFrame, decoder=real_decoder) -> DataFrame:
    """mapInPandas decode/feature-extract: batch in, batch out; payload bytes
    never leave the executor, output is fixed-width features + dims."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, kind, data in zip(pdf["doc_id"], pdf["kind"], pdf["data"]):
                w, h, nf, feat = decoder(kind, bytes(data))
                rows.append((doc_id, kind, w, h, nf, feat.tolist()))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "kind", "width", "height", "n_frames", "feature"],
            )

    return media.mapInPandas(run, schema=DECODED_SCHEMA)


def media_summary(media: DataFrame) -> DataFrame:
    """Metadata-only aggregate — must not touch the payload column (check
    the plan: ReadSchema excludes `data` when reading from parquet)."""
    return media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
        F.max(F.col("meta.n_bytes")).alias("max_bytes"),
    )


RESIZED_SCHEMA = (
    "doc_id long, kind string, data binary, "
    "meta struct<n_bytes: long, checksum: string, width: int, height: int>"
)
FRAME_SCHEMA = "doc_id long, frame_idx int, data binary, n_bytes long"


def real_resizer(kind: str, payload: bytes, width: int, height: int) -> bytes:
    """The resize codec seam (Pillow absent in this container)."""
    raise NotImplementedError(
        "image resize needs Pillow — pass resizer=fake_resizer for the "
        "deterministic stub"
    )


def fake_resizer(kind: str, payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in: a width*height-byte pseudo-pixel buffer
    generated from a blake2b stream seeded by the payload — pure function
    of (payload, dims), so the plumbing tests are exact."""
    need = width * height
    seed = hashlib.blake2b(payload, digest_size=32).digest()
    out = bytearray()
    i = 0
    while len(out) < need:
        out += hashlib.blake2b(
            seed + i.to_bytes(4, "little"), digest_size=64
        ).digest()
        i += 1
    return bytes(out[:need])


def resize_media(
    media: DataFrame, width: int = 64, height: int = 48, resizer=real_resizer
) -> DataFrame:
    """mapInPandas resize stage: payload in, fixed-dims payload out, with
    refreshed metadata (n_bytes, checksum, dims). Same batch-streaming
    contract as decode_media — bytes never leave the executor."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, kind, data in zip(pdf["doc_id"], pdf["kind"], pdf["data"]):
                nb = resizer(kind, bytes(data), width, height)
                rows.append(
                    (
                        doc_id, kind, nb,
                        (len(nb), hashlib.sha256(nb).hexdigest(), width, height),
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "kind", "data", "meta"])

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling as a ONE-TO-MANY mapInPandas stage: each payload is
    split into ``min(n_frames, n_bytes)`` deterministic contiguous chunks
    (the codec-free stand-in for ffmpeg keyframe extraction); empty payloads
    emit no frames. Chunk lengths are a pure function of (n_bytes,
    n_frames): floor(n/k) plus one for the first n%k frames — which is what
    lets the harness value-verify the fan-out without a codec."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                b = bytes(data)
                n = len(b)
                if n == 0:
                    continue
                k = min(n_frames, n)
                base, rem = divmod(n, k)
                off = 0
                for i in range(k):
                    ln = base + (1 if i < rem else 0)
                    rows.append((doc_id, i, b[off:off + ln], ln))
                    off += ln
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "data", "n_bytes"]
            )

    return media.mapInPandas(run, schema=FRAME_SCHEMA)
