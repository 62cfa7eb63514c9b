"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with a typed metadata struct (north-star scope; absent in the reference).

The Spark-side plumbing is real and tested — schema convention, Arrow
batch shape, ``mapInPandas`` feature extraction, partition sizing. The
actual codecs are STUBBED (the image/audio libraries are not in this
container): deterministic byte-level stand-ins (``resize_images``'
nearest-neighbor resample, ``sample_frames``' fixed-size frames) take
their place so the distributed plumbing can be exercised end-to-end.

Schema convention:
    payload  BINARY                  -- the raw media bytes
    media    STRUCT<kind: STRING, mime: STRING, width: INT, height: INT,
                    duration_ms: BIGINT>

At 100 TB: payloads dominate row size → keep
``spark.sql.files.maxPartitionBytes`` small enough that one Arrow batch
of payloads fits executor memory, and always project metadata-only
queries BEFORE touching payload (nested pruning skips the bytes)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ._scan import spread

MEDIA_META = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("mime", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)


def attach_fake_payload(docs: DataFrame) -> DataFrame:
    """Deterministic binary payload derived from the text column — stands
    in for real media bytes so the binary-column plumbing is testable."""
    return docs.withColumn("payload", F.col("text").cast("binary")).withColumn(
        "media",
        F.struct(
            F.lit("image").alias("kind"),
            F.lit("image/fake").alias("mime"),
            (F.octet_length(F.col("text")) % 1920).cast("int").alias("width"),
            (F.octet_length(F.col("text")) % 1080).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ),
    )


FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("byte_checksum", LongType(), False),
        StructField("hist_0", LongType(), False),
    ]
)


def extract_features(media_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    ``mapInPandas`` — the pattern for any decode/resize/frame-sample op.
    Python touches each payload once per batch; no per-row round trips."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def checksum(b: bytes) -> int:
            # numpy byte view — a Python sum() loop over payload bytes is
            # ~50× slower and dominated the whole operator
            return int(np.frombuffer(b, dtype=np.uint8).sum(dtype=np.int64)) % 1_000_003

        def hist0(b: bytes) -> int:
            arr = np.frombuffer(b, dtype=np.uint8)
            return int(np.count_nonzero(arr % 8 == 0))

        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len),
                    "byte_checksum": payloads.map(checksum),
                    "hist_0": payloads.map(hist0),
                }
            )

    # NULL payloads are dropped at the plan level: len(None)/frombuffer
    # (None) would kill the Python worker, and a null medium has no
    # features to extract
    return spread(
        media_df.select("doc_id", "payload").filter(F.col("payload").isNotNull()), "doc_id"
    ).mapInPandas(_extract, FEATURE_SCHEMA)


def payload_sizes(media_df: DataFrame) -> DataFrame:
    """Metadata-only profile — stays entirely JVM-side (octet_length), and
    with parquet nested pruning never reads the payload bytes."""
    return media_df.select(
        F.col("doc_id"),
        F.octet_length("payload").alias("n_bytes"),
        F.col("media.kind").alias("kind"),
        F.col("media.width").alias("width"),
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
    ]
)


def resize_images(media_df: DataFrame) -> DataFrame:
    """Resize pass over image payloads to 32x32 via ``mapInPandas``. The
    real resample (PIL/opencv) is STUBBED with a deterministic stand-in —
    nearest-neighbor over the raw byte grid, so output size is exactly
    32*32 bytes and reruns agree byte-for-byte — but the Spark shape is
    the production one: Arrow batches in, fixed-size payloads out, and
    the output schema carries the new dimensions so downstream metadata
    queries never re-read the bytes."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        target = 32 * 32

        def fake_resample(b: bytes) -> bytes:
            arr = np.frombuffer(b, dtype=np.uint8)
            if arr.size == 0:
                return bytes(target)
            # nearest-neighbor index map — deterministic, shape-true
            idx = (np.arange(target) * arr.size) // target
            return arr[idx].tobytes()

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": pdf["payload"].map(fake_resample),
                    "width": 32,
                    "height": 32,
                }
            )

    return spread(
        # see extract_features
        media_df.select("doc_id", "payload").filter(F.col("payload").isNotNull()), "doc_id"
    ).mapInPandas(_resize, RESIZED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame", BinaryType(), False),
    ]
)


def sample_frames(media_df: DataFrame) -> DataFrame:
    """Frame sampling for video payloads: treat the payload as a run of
    64-byte frames and emit every 4th one as its own row —
    the 1→N explode shape every video pipeline needs. Real demuxing
    (ffmpeg) is STUBBED by the fixed-stride split; the distributed
    mechanics (Arrow batches, row multiplication inside the worker, tall
    output schema) are the production ones."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(payload) // 64
                for fi in range(0, n_frames, 4):
                    ids.append(doc_id)
                    idxs.append(fi)
                    frames.append(payload[fi * 64 : (fi + 1) * 64])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    return spread(
        # see extract_features
        media_df.select("doc_id", "payload").filter(F.col("payload").isNotNull()), "doc_id"
    ).mapInPandas(_sample, FRAME_SCHEMA)


def payload_dedup_stats(media: DataFrame) -> DataFrame:
    """Exact dedup audit for binary media payloads — the first pass of
    every multimodal ingest (image/audio corpora are 30-50% byte-exact
    duplicates; dedup BEFORE decode saves the GPU fleet, not after):
    per media kind, payload count, distinct-content count (md5 of the
    raw bytes — content-addressed, the CAS key), duplicate rate, and
    the bytes a content-addressed store reclaims
    (Σ (copies-1)·size per distinct payload).

    One groupBy on (kind, md5) then one on kind — integer sums only,
    hash-exact in any engine. The md5 runs on the BYTES (not a decoded
    form), so the audit works for any codec including ones this
    environment can't decode."""
    per_content = (
        media.select(
            F.col("media.kind").alias("kind"),
            F.md5(F.col("payload")).alias("h"),
            F.octet_length(F.col("payload")).alias("sz"),
        )
        .groupBy("kind", "h")
        .agg(
            F.count(F.lit(1)).alias("copies"),
            F.min("sz").alias("sz"),
        )
    )
    return (
        per_content.groupBy("kind")
        .agg(
            F.sum("copies").alias("n_payloads"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("copies") * F.col("sz")).alias("total_bytes"),
            F.sum((F.col("copies") - 1) * F.col("sz")).alias("reclaimable_bytes"),
        )
        .select(
            "kind",
            F.col("n_payloads").cast("bigint").alias("n_payloads"),
            "n_distinct",
            F.round(
                (F.col("n_payloads") - F.col("n_distinct"))
                / F.col("n_payloads").cast("double"),
                6,
            ).alias("dup_rate"),
            F.col("total_bytes").cast("bigint").alias("total_bytes"),
            F.col("reclaimable_bytes").cast("bigint").alias("reclaimable_bytes"),
        )
        .orderBy("kind")
    )
