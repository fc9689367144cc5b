"""Multimodal (image/audio/video) column plumbing.

Design for a 100 TB training-data pipeline: media lives as opaque `binary`
columns with a typed metadata struct alongside; all byte-level work
(decode, resize, frame-sample, feature-extract) runs in `mapInPandas` so
one Arrow batch of blobs streams through Python per task with bounded
memory.  The feature kernel is a deterministic sha256-derived stand-in for
decode→model-embed (codec libraries are not a dependency) — the Spark-side
contract (schemas, batch shapes, partitioning, metadata extraction) is real
and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),        # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("magic", T.StringType(), True),
        # float64: the fake feature is u32/2^32 which float64 represents
        # EXACTLY — so feature checksums are engine-portable integers (a
        # float32 column would round to 24 bits and break the oracle)
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)

# magic-byte sniffing (pure bytes — no codec needed)
_MAGIC = (
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"GIF8", "image/gif"),
    (b"RIFF", "riff"),          # wav/webp/avi — disambiguated at offset 8
    (b"fLaC", "audio/flac"),
    (b"ID3", "audio/mpeg"),
    (b"\x00\x00\x00", "video/mp4?"),  # ftyp boxes start with size
)


def sniff_mime(payload: bytes | None) -> str | None:
    if payload is None:
        return None
    for magic, mime in _MAGIC:
        if payload.startswith(magic):
            if mime == "riff" and len(payload) >= 12:
                sub = payload[8:12]
                return {b"WAVE": "audio/wav", b"WEBP": "image/webp", b"AVI ": "video/avi"}.get(
                    sub, "application/riff"
                )
            return mime
    return "application/octet-stream"


def _fake_feature(payload: bytes) -> list[float]:
    """Deterministic stand-in feature: 8 sha256-derived unit-less floats
    in place of decode→model-embed."""
    h = hashlib.sha256(payload).digest()
    return [int.from_bytes(h[4 * i : 4 * i + 4], "big") / 2**32 for i in range(8)]


def extract_media_features(df: DataFrame) -> DataFrame:
    """media table → per-item features via mapInPandas (Arrow-batched).

    Scale contract: each task streams batches of (id, payload) and emits
    fixed-width features — payload bytes never shuffle (the output drops
    them), so downstream joins move only ids + small vectors.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "byte_len": pdf["payload"].map(lambda b: None if b is None else len(b)),
                "sha256": pdf["payload"].map(
                    lambda b: None if b is None else hashlib.sha256(b).hexdigest()
                ),
                "magic": pdf["payload"].map(sniff_mime),
                "feature": pdf["payload"].map(lambda b: None if b is None else _fake_feature(b)),
            }
            yield pd.DataFrame(out)

    return df.mapInPandas(gen, schema=FEATURE_SCHEMA)


_SYNTH_MAGICS = [b"\xff\xd8\xff\xe0", b"\x89PNG\r\n\x1a\n", b"RIFF1234WAVE", b"ID3\x04"]
_SYNTH_KINDS = ["image", "image", "audio", "audio"]


def synth_media_spec(i: int) -> tuple[str, bytes, str]:
    """The per-id payload SPEC for the synthetic media table: (kind,
    payload, width-meta).  Pure Python (`random.Random` is a platform-
    stable Mersenne Twister), shared by `synthesize_media` AND the driver
    oracle builder — the oracle re-derives features from this spec with
    hashlib alone, independently of the Spark/Arrow plumbing under test."""
    import random

    rng = random.Random(42 * 7_919 + int(i))
    k = rng.randrange(4)
    body = bytes(rng.getrandbits(8) for _ in range(rng.randrange(64, 256)))
    return _SYNTH_KINDS[k], _SYNTH_MAGICS[k] + body, str(rng.randrange(100, 2000))


def synthesize_media(spark, n: int) -> DataFrame:
    """Deterministic fake media table (payload = seeded pseudo-bytes with
    realistic magic numbers) for tests/benches."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                kind, payload, width = synth_media_spec(int(i))
                rows.append((int(i), kind, None, payload, {"w": width}))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "mime", "payload", "meta"]
            )

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)
