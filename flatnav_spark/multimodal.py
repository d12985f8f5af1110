"""Multimodal (image/audio/video) column plumbing for training-data
pipelines: opaque ``binary`` payload columns with typed metadata, processed
by Arrow-batched ``mapInPandas`` kernels.

The Spark-side machinery — schemas, partitioning, UDF signatures, batch
shapes, deterministic feature extraction — is REAL and tested. The actual
media decoding is STUBBED: this container has no image/audio libraries, so
``decode_image`` understands only the synthetic ``FNV1`` fixture format
below and raises ``NotImplementedError`` for real formats (PNG/JPEG/...),
clearly marking the integration point.

Fixture format (deterministic, self-describing):
    b"FNV1" | kind:1 byte (0=image,1=audio) | width:2 BE | height:2 BE |
    channels:1 | payload bytes (width*height*channels, generated by a
    seeded counter)
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd

MAGIC = b"FNV1"

ASSET_SCHEMA = "asset_id long, kind string, data binary, meta map<string,string>"
DECODED_SCHEMA = (
    "asset_id long, width int, height int, channels int, n_bytes long, payload_sha string"
)
FEATURE_DIM = 16
FEATURES_SCHEMA = f"asset_id long, features array<double>"


def synth_asset_bytes(asset_id: int, width: int, height: int, channels: int = 3) -> bytes:
    """Deterministic fake media payload for fixtures."""
    n = width * height * channels
    seed = np.frombuffer(hashlib.sha256(str(asset_id).encode()).digest()[:8], dtype=np.uint64)[0]
    rng = np.random.default_rng(int(seed))
    payload = rng.integers(0, 256, size=n, dtype=np.uint8).tobytes()
    header = MAGIC + struct.pack(">BHHB", 0, width, height, channels)
    return header + payload


def synth_assets(spark, n_assets: int):
    """Asset table fixture: (asset_id, kind, data, meta)."""
    rows: List[Tuple] = []
    for i in range(n_assets):
        w, h = 8 + (i % 5), 8 + (i % 7)
        rows.append(
            (
                i,
                "image",
                bytearray(synth_asset_bytes(i, w, h)),
                {"source": f"org{i % 3}", "format": "fnv1"},
            )
        )
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def _decode_one(data: bytes) -> Tuple[int, int, int, bytes]:
    """Parse the fixture header; real formats are the stubbed integration
    point (PIL/ffmpeg would slot in here on a real cluster)."""
    if data[:4] != MAGIC:
        raise NotImplementedError(
            "real media decoding (PNG/JPEG/WAV/...) is stubbed in this "
            "environment; only the FNV1 fixture format is implemented"
        )
    _kind, width, height, channels = struct.unpack(">BHHB", data[4:10])
    return width, height, channels, data[10:]


def decode_images(assets_df):
    """mapInPandas decode: (asset_id, width, height, channels, n_bytes,
    payload_sha). Batch-shaped like a real decoder: one Arrow batch in,
    one DataFrame out, no per-row Spark calls."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "width": [], "height": [], "channels": [],
                   "n_bytes": [], "payload_sha": []}
            for asset_id, data in zip(pdf["asset_id"], pdf["data"]):
                w, h, c, payload = _decode_one(bytes(data))
                out["asset_id"].append(asset_id)
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(c)
                out["n_bytes"].append(len(payload))
                out["payload_sha"].append(hashlib.sha256(payload).hexdigest())
            yield pd.DataFrame(out)

    return assets_df.mapInPandas(decode, DECODED_SCHEMA)


def extract_features(assets_df, dim: int = FEATURE_DIM):
    """Deterministic fake feature extraction (byte-histogram projection) —
    the embedding-model integration point. Real models would run here per
    Arrow batch (GPU-friendly batch shape); the output schema and
    partitioning behavior are what downstream similarity search consumes."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for asset_id, data in zip(pdf["asset_id"], pdf["data"]):
                _w, _h, _c, payload = _decode_one(bytes(data))
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=dim)[:dim].astype(np.float64)
                norm = np.linalg.norm(hist)
                feats.append((hist / norm if norm else hist).tolist())
                ids.append(asset_id)
            yield pd.DataFrame({"asset_id": ids, "features": feats})

    return assets_df.mapInPandas(featurize, FEATURES_SCHEMA)


FEATURE_ROWS_SCHEMA = "asset_id long, dim int, count long"


def extract_feature_rows(assets_df, dim: int = FEATURE_DIM):
    """Exploded, hash-checkable projection of the feature extraction:
    (asset_id, dim, count) — the RAW integer byte-histogram per asset, one
    row per dimension. Integer outputs avoid any float canonicalization
    hazard in cross-engine comparison (round-1 lesson: array<double>
    columns are unhashable in the driver's canonicalizer)."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, dims, counts = [], [], []
            for asset_id, data in zip(pdf["asset_id"], pdf["data"]):
                _w, _h, _c, payload = _decode_one(bytes(data))
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=dim)[:dim]
                ids.append(np.full(dim, asset_id, dtype=np.int64))
                dims.append(np.arange(dim, dtype=np.int32))
                counts.append(hist.astype(np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        "asset_id": np.concatenate(ids),
                        "dim": np.concatenate(dims),
                        "count": np.concatenate(counts),
                    }
                )

    return assets_df.mapInPandas(featurize, FEATURE_ROWS_SCHEMA)


def golden_feature_rows(n_assets: int, dim: int = FEATURE_DIM) -> pd.DataFrame:
    """Driver-side (no Spark) reference computation of extract_feature_rows
    over the synth_assets fixture — used to generate the committed golden
    parquet the DuckDB oracle reads (the ground-truth-file pattern of the
    reference harness, experiments/README.md:205-211)."""
    ids, dims, counts = [], [], []
    for i in range(n_assets):
        w, h = 8 + (i % 5), 8 + (i % 7)
        _w, _h, _c, payload = _decode_one(synth_asset_bytes(i, w, h))
        arr = np.frombuffer(payload, dtype=np.uint8)
        hist = np.bincount(arr >> 4, minlength=dim)[:dim]
        ids.append(np.full(dim, i, dtype=np.int64))
        dims.append(np.arange(dim, dtype=np.int32))
        counts.append(hist.astype(np.int64))
    return pd.DataFrame(
        {
            "asset_id": np.concatenate(ids),
            "dim": np.concatenate(dims),
            "count": np.concatenate(counts),
        }
    )


def resize_stub(assets_df, width: int, height: int):
    """Resize operator: plumbing only — raises at execution for real media,
    passes fixture payloads through a deterministic down-sample."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"asset_id": [], "data": []}
            for asset_id, data in zip(pdf["asset_id"], pdf["data"]):
                w, h, c, payload = _decode_one(bytes(data))
                arr = np.frombuffer(payload, dtype=np.uint8).reshape(h, w, c)
                ys = np.linspace(0, h - 1, height).astype(int)
                xs = np.linspace(0, w - 1, width).astype(int)
                small = arr[np.ix_(ys, xs)].tobytes()
                header = MAGIC + struct.pack(">BHHB", 0, width, height, c)
                rows["asset_id"].append(asset_id)
                rows["data"].append(header + small)
            yield pd.DataFrame(rows)

    return assets_df.select("asset_id", "data").mapInPandas(
        resize, "asset_id long, data binary"
    )
