"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata, processed by Arrow-batched ``mapInPandas`` kernels.

This is the direct webtext-engine home for the reference's image operators
(decode ``/root/reference/modules/feature_extraction.py:41-51``, batch GPU
feature extraction ``53-106``, frame-ish sampling = their resize-to-600
pipeline) — except the codec step is STUBBED: the only payloads the repo
writes are the synthetic ones from ``media_from_documents`` (text bytes, not
images), so the kernel uses a clearly-marked DETERMINISTIC FAKE (dimensions/
features derived from the payload's md5) and the Spark-side plumbing —
schema, batch shape, partitioning, UDF signature — is real and testable.

Replace ``_fake_decode`` with a codec call on a real cluster; nothing else
changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), False),
        StructField("source_url", StringType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("n_bytes", IntegerType(), False),
        StructField("phash64", LongType(), False),
    ]
)

FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_frames", IntegerType(), False),
        StructField("sampled_frames", ArrayType(IntegerType(), False), False),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """DETERMINISTIC FAKE decode: (width, height, phash-ish) from md5 bytes.

    Stands in for cv2.imdecode (reference feature_extraction.py:41-51) in
    codec-less environments; byte-stable per payload, never raises.
    """
    d = hashlib.md5(payload).digest()
    width = 64 + int.from_bytes(d[0:2], "big") % 1984
    height = 64 + int.from_bytes(d[2:4], "big") % 1984
    phash = int.from_bytes(d[4:12], "big", signed=True)
    return width, height, phash


def image_features(media: DataFrame) -> DataFrame:
    """(media_id, kind, payload, ...) -> per-image features via mapInPandas.

    Arrow-batched; payloads never leave the executor; only small typed
    features come back.  The decode is the deterministic fake above
    (clearly marked); replace ``_fake_decode`` with a codec call on a real
    cluster.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["kind"] == "image"]
            if pdf.empty:
                continue
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, ph = _fake_decode(bytes(payload))
                rows.append((int(mid), int(w), int(h), len(payload), int(ph)))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "n_bytes", "phash64"]
            )

    return media.mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_k: int = 10, max_frames: int = 32) -> DataFrame:
    """Deterministic frame sampling for ``video`` payloads.

    Frame count derives from payload length (stub for container parsing);
    sampled indices are every k-th frame capped at max_frames — the Spark
    plumbing (explode-ready array column, Arrow batches) is the real part.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["kind"] == "video"]
            if pdf.empty:
                continue
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                n_frames = max(1, len(payload) // 1024)  # stub: 1 frame / KiB
                idx = list(range(0, n_frames, every_k))[:max_frames]
                rows.append((int(mid), int(n_frames), idx))
            yield pd.DataFrame(
                rows, columns=["media_id", "n_frames", "sampled_frames"]
            )

    return media.mapInPandas(kernel, FRAME_SAMPLE_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from a (doc_id, text) documents
    table: payload =
    UTF-8 bytes of the text, kind round-robins image/video/audio by id, and
    every ``id % 10 == 9`` row COPIES the payload of ``id - 9`` (same kind
    stratum, since 9 % 3 == 0) so duplicate-payload structure exists at any
    scale factor.

    This is the oracle-checkable media fixture: every downstream feature is
    a pure function of md5(payload), and the planting rule is a self-join —
    both DuckDB-expressible, so the multimodal plumbing is gated by the
    same hash-match parity as the text operators (not just pytest).
    """
    doc_id = F.col("doc_id")
    src = F.when((doc_id % 10 == 9) & (doc_id >= 9), doc_id - 9).otherwise(doc_id)
    base = docs.select(
        doc_id.cast("long").alias("media_id"),
        src.cast("long").alias("src_id"),
        F.col("text").alias("_own_text"),
    )
    texts = docs.select(
        doc_id.cast("long").alias("src_id"),
        F.col("text").alias("_payload_text"),
    )
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("video"), F.lit("audio")),
        (F.col("media_id") % 3 + 1).cast("int"),
    )
    # LEFT join + coalesce to the row's OWN text: an id-space gap (filtered
    # corpus where doc id-9 is absent) must not silently DROP the media row
    # — row preservation holds for any input; such a row simply has no
    # planted duplicate (mirrored in the DuckDB oracle's LEFT JOIN)
    return base.join(texts, "src_id", "left").select(
        "media_id",
        kind.alias("kind"),
        F.encode(F.coalesce("_payload_text", "_own_text"), "UTF-8").alias("payload"),
        F.lit(None).cast("string").alias("source_url"),
    )


def synthetic_media(spark, n_rows: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media corpus (binary payloads from a seeded PRNG)."""
    rng = np.random.RandomState(seed)
    kinds = ["image", "video", "audio"]
    rows = []
    for i in range(n_rows):
        kind = kinds[i % 3]
        size = int(rng.randint(512, 8192))
        payload = rng.bytes(size)
        if i % 7 == 0 and rows:  # plant exact-duplicate payloads
            payload = rows[max(0, i - 3)][2]
            kind = rows[max(0, i - 3)][1]
        rows.append((i, kind, payload, f"https://media.example/{i}"))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
