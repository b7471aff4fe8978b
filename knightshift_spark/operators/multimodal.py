"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

Design (SURVEY north-star extension): media travels as a ``binary`` column
with a typed metadata struct; decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` stages so bytes never
round-trip through Python row-at-a-time. Codecs are pluggable through the
seam: real decode ships in ``operators.media_codecs`` for ALL THREE kinds
— images (numpy PPM/BMP always; Pillow for JPEG/PNG when installed),
audio (stdlib-``wave`` RIFF PCM), video (YUV4MPEG2) — so
``MediaCodecUnavailable`` gates only formats that genuinely need a
missing library (JPEG/PNG sans Pillow, compressed audio/video sans
ffmpeg). The deterministic fakes remain for contract tests that must not
depend on pixel math.

Scale notes: media rows are large → size partitions by *bytes* not rows
(``media_repartition``), keep metadata in separate small columns so
metadata-only queries never touch the blobs (parquet column pruning), and
push blob-free filters ahead of any decode stage.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


class MediaCodecUnavailable(NotImplementedError):
    """Raised when a codec for the payload's format is not available
    (e.g. JPEG/PNG without Pillow installed)."""


def decode_image(payload: bytes) -> object:
    """Decode an image payload to an (H, W, 3) uint8 numpy array.

    Real decode paths (``operators.media_codecs``): Pillow when installed
    (every PIL format), else the numpy codec for uncompressed formats
    (binary PPM, 24-bit BMP). Compressed formats without Pillow raise
    ``MediaCodecUnavailable`` naming the sniffed format — the gate is now
    scoped to exactly the formats that need an external library.
    """
    from knightshift_spark.operators.media_codecs import best_image_codec

    return best_image_codec().decode(payload)


def extract_features(media: DataFrame, dim: int = 8, codec=None) -> DataFrame:
    """Binary payload → feature vector via Arrow-batched ``mapInPandas``.

    ``codec`` is the pluggable ``MediaCodec`` seam
    (``knightshift_spark.seams``): default is the deterministic
    ``FakeHashCodec``; a real decoder (PIL → model features) drops in here
    without this function changing. Batches stream through pandas; only
    ``media_id``+``payload`` are selected so parquet prunes every other
    column — the blobs themselves — before the Python stage.
    """
    from knightshift_spark.seams import FakeHashCodec

    codec = codec if codec is not None else FakeHashCodec(dim)
    src = media.select("media_id", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "feature": pdf["payload"].map(codec.features),
                }
            )

    return src.mapInPandas(run, schema=FEATURE_SCHEMA)


def media_repartition(
    media: DataFrame,
    target_bytes: int = 128 << 20,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Repartition media rows so each partition holds ~``target_bytes`` of
    payload — row-count partitioning is wrong when rows are megabytes.

    Sizing reads ``meta.n_bytes`` ONLY (a metadata column parquet serves
    without touching the blobs). Rows with NULL ``n_bytes`` are estimated
    from the average of the sized rows — never via ``length(payload)``,
    which would force a full blob scan just to count bytes. If estimates
    are unacceptable, pass ``sample_fraction`` to measure payload length
    on a sample of the unsized rows (bounded scan), or populate
    ``n_bytes`` at ingest (the writer-side contract).
    """
    sized = media.agg(
        F.sum("meta.n_bytes").alias("b"),
        F.count("meta.n_bytes").alias("n_sized"),
        F.count(F.lit(1)).alias("n_rows"),
    ).collect()[0]
    total, n_sized, n_rows = sized["b"] or 0, sized["n_sized"], sized["n_rows"]
    n_unsized = n_rows - n_sized
    if n_unsized:
        if sample_fraction:
            est = (
                media.filter(F.col("meta.n_bytes").isNull())
                .sample(fraction=sample_fraction, seed=7)
                .agg(F.avg(F.length("payload")).alias("avg_b"))
                .collect()[0]["avg_b"]
            )
        else:
            est = (total / n_sized) if n_sized else None
        total += int((est or 0) * n_unsized)
    n = max(1, int(total // target_bytes) + 1)
    return media.repartition(n)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled timestamp,
    from duration METADATA only (sequence + explode, no Python, no blob
    read) — use it to cost/schedule a sampling job before paying decode.
    ``sample_frames`` is the decoding twin that emits real pixels.
    """
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_ts_ms", T.LongType(), False),
        T.StructField("frame", T.BinaryType(), True),  # PPM bytes
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def sample_frames(media: DataFrame, every_ms: int = 1000, codec=None) -> DataFrame:
    """REAL video frame sampling: decode each video payload once, emit the
    frame on screen at every ``every_ms`` tick as PPM bytes.

    Arrow-batched ``mapInPandas`` over (media_id, payload) only — parquet
    prunes every other column before the Python stage, and each payload
    is decoded exactly once regardless of how many frames it yields (the
    per-timestamp ``frame_at`` path would re-decode per tick). ``codec``
    is the seam: default ``Y4MVideoCodec`` (real, zero-dependency
    YUV4MPEG2 decode); an ffmpeg-backed codec drops in with the same
    ``decode(payload) -> (frames, fps)`` contract.
    """
    if codec is None:
        from knightshift_spark.operators.media_codecs import Y4MVideoCodec

        codec = Y4MVideoCodec()
    from knightshift_spark.operators.media_codecs import encode_ppm

    src = media.filter(F.col("kind") == "video").select("media_id", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                frames, fps = codec.decode(bytes(payload))
                n = len(frames)
                if not n:
                    continue
                duration_ms = int(round(n * 1000.0 / fps))
                for ts in range(0, duration_ms, every_ms):
                    idx = min(int(ts / 1000.0 * fps), n - 1)
                    f = frames[idx]
                    rows.append(
                        (int(mid), ts, encode_ppm(f), f.shape[1], f.shape[0])
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_ts_ms", "frame", "width", "height"]
            )

    return src.mapInPandas(run, schema=FRAME_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


class FakeResizeCodec:
    """Deterministic stand-in resizer: emits a payload of exactly
    width×height bytes by tiling/truncating the source bytes — wrong
    pixels, right SHAPES, so the Spark-side contract (schema, metadata
    update, batch iteration) is fully exercised. A real codec decodes
    with PIL and re-encodes; it drops in via the ``codec`` seam without
    ``resize_media`` changing."""

    def resize(self, payload: bytes | None, width: int, height: int) -> bytes | None:
        if payload is None:
            return None
        need = width * height
        if not payload:
            return b"\x00" * need
        reps = -(-need // len(payload))  # ceil-div tiling
        return (payload * reps)[:need]


def resize_media(
    media: DataFrame, width: int, height: int, codec=None
) -> DataFrame:
    """Resize image payloads to ``width``×``height`` via Arrow-batched
    ``mapInPandas`` — the third leg of the decode/feature/resize trio.

    ``codec`` is the pluggable seam (default: the deterministic fake;
    a PIL-backed implementation supplies real pixels). Only
    ``media_id``+``payload`` reach Python — parquet prunes the rest —
    and the output carries refreshed (width, height, n_bytes) metadata
    so downstream byte-based partitioning (``media_repartition``) sizes
    correctly without touching the new blobs.
    """
    codec = codec if codec is not None else FakeResizeCodec()
    src = media.select("media_id", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf["payload"].map(lambda p: codec.resize(p, width, height))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out,
                    "meta": out.map(
                        lambda p: {
                            "width": width,
                            "height": height,
                            "n_bytes": len(p) if p is not None else None,
                        }
                    ),
                }
            )

    return src.mapInPandas(run, schema=RESIZED_SCHEMA)


PHASH_SCHEMA = "media_id bigint, phash bigint"


def image_phash(media: DataFrame, codec=None) -> DataFrame:
    """(media_id, phash): 64-bit perceptual hash per image payload
    (``media_codecs.phash64``) through the Arrow seam — the image twin
    of the text corpus's SimHash. Only id+payload reach Python (column
    pruning keeps the other blobs in parquet)."""
    from knightshift_spark.operators.media_codecs import NumpyImageCodec, phash64

    codec = codec if codec is not None else NumpyImageCodec()
    src = media.select("media_id", "payload")

    def signed_hash(payload: bytes) -> int:
        h = phash64(codec.decode(payload))
        # signed view of the 64-bit hash (BIGINT column)
        return h - (1 << 64) if h >= (1 << 63) else h

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "phash": pdf["payload"].map(signed_hash).astype("int64"),
                }
            )

    return src.mapInPandas(run, schema=PHASH_SCHEMA)


def phash_neardup_pairs(
    hashes: DataFrame,
    max_distance: int = 3,
    bands: int = 4,
    id_col: str = "media_id",
    hash_col: str = "phash",
) -> DataFrame:
    """Near-duplicate image pairs by Hamming distance over pHashes:
    (id_a, id_b, distance) with id_a < id_b, distance ≤ ``max_distance``.

    Scale shape is the SimHash/LSH family's: the 64-bit hash splits into
    ``bands`` equal bit-slices and candidates join on (band, slice) —
    by pigeonhole, two hashes within Hamming distance < ``bands`` agree
    on at least one slice, so recall is EXACT for ``max_distance`` <
    ``bands`` (the default 3 < 4) and candidate volume is ∝ slice-bucket
    occupancy, never all-pairs. The rescore is one xor+bit_count."""
    if not 64 % bands == 0:
        raise ValueError(f"bands must divide 64, got {bands}")
    if max_distance >= bands:
        raise ValueError(
            f"max_distance {max_distance} >= bands {bands} breaks the "
            "pigeonhole recall guarantee; raise bands or lower the radius"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col(hash_col), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for b in range(bands)
        ]
    )
    keyed = hashes.select(
        F.col(id_col), F.col(hash_col), F.explode(slices).alias("bb")
    ).select(
        id_col, hash_col, F.col("bb.band").alias("band"), F.col("bb.key").alias("key")
    )
    a = keyed.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("__ha"), "band", "key"
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("__hb"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
        .distinct()
    )


def audio_phash(media: DataFrame) -> DataFrame:
    """(media_id, phash) for WAV payloads (``media_codecs.audio_hash64``)
    — same output contract as ``image_phash``, so
    ``phash_neardup_pairs`` dedups audio identically."""
    from knightshift_spark.operators.media_codecs import audio_hash64, decode_wav

    src = media.select("media_id", "payload")

    def signed_hash(payload: bytes) -> int:
        h = audio_hash64(*decode_wav(bytes(payload)))
        return h - (1 << 64) if h >= (1 << 63) else h

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "phash": pdf["payload"].map(signed_hash).astype("int64"),
                }
            )

    return src.mapInPandas(run, schema=PHASH_SCHEMA)


def video_phash(media: DataFrame, samples: int = 9) -> DataFrame:
    """(media_id, phash) for Y4M payloads: frame-sampled majority-vote
    pHash (``media_codecs.video_hash64``); same contract as the image
    and audio hashes — one ``phash_neardup_pairs`` family for all three
    modalities."""
    from knightshift_spark.operators.media_codecs import decode_y4m, video_hash64

    src = media.select("media_id", "payload")

    def signed_hash(payload: bytes) -> int:
        frames, _fps = decode_y4m(bytes(payload))
        h = video_hash64(frames, samples)
        return h - (1 << 64) if h >= (1 << 63) else h

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "phash": pdf["payload"].map(signed_hash).astype("int64"),
                }
            )

    return src.mapInPandas(run, schema=PHASH_SCHEMA)
