"""Multimodal columns: opaque binary payloads + typed metadata, processed
with Arrow-batched pandas functions (`mapInPandas`).

The container has no image/audio codecs, so the *decode* steps are
deterministic fakes (clearly marked) — but every piece of Spark plumbing is
real and is what matters at 100 TB:

- binary columns travel as `BinaryType` with a typed metadata struct
  alongside (format/n_bytes), the layout a petabyte-scale media lakehouse
  uses (payload + queryable metadata, partition-prunable without touching
  bytes);
- decode/feature-extract runs in `mapInPandas` over Arrow record batches —
  bytes never pass through row-at-a-time Python, and the UDF's output
  schema is explicit, so Catalyst can prune/push around it;
- the fake decode derives its outputs from the actual payload bytes
  (length + prefix checksum), so the oracle can verify the whole pipeline
  end-to-end in SQL.

A real deployment swaps `_fake_decode_image` / `_fake_sample_frames` for
PIL/ffmpeg calls with the same signatures; see the NotImplementedError
guards.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.batch import load_table

CHECKSUM_PREFIX = 16  # bytes of payload hashed into the checksum feature

DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("checksum16", IntegerType()),
        StructField("aspect_ratio", DoubleType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("n_sampled", IntegerType()),
        StructField("first_frame_offset", IntegerType()),
    ]
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the media layout from the documents fixture: payload =
    utf-8 bytes of the text (stand-in for image bytes), metadata struct
    with a format tag and byte length."""
    docs = load_table(spark, sf_dir, "documents")
    fmt = F.element_at(
        F.array(F.lit("png"), F.lit("jpg"), F.lit("webp")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            fmt.alias("format"), F.octet_length("text").alias("n_bytes")
        ).alias("meta"),
    )


def _fake_decode_image(payload: bytes) -> tuple[int, int, int]:
    """STUB for a real image decode (PIL.Image.open). Deterministic fake:
    dimensions derived from payload length, checksum from payload bytes —
    enough to prove the bytes actually reached the UDF."""
    n = len(payload)
    width = 64 + n % 512
    height = 64 + (n * 7) % 384
    checksum16 = sum(payload[:CHECKSUM_PREFIX]) % 65536
    return width, height, checksum16


def decode_image_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: Arrow batches in, feature rows out."""
    for pdf in batches:
        n = pdf["payload"].map(len)
        width = 64 + n % 512
        height = 64 + (n * 7) % 384
        checksum = pdf["payload"].map(
            lambda b: sum(b[:CHECKSUM_PREFIX]) % 65536
        )
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "format": pdf["format"],
                "n_bytes": n.astype("int32"),
                "width": width.astype("int32"),
                "height": height.astype("int32"),
                "checksum16": checksum.astype("int32"),
                "aspect_ratio": width.astype("float64") / height.astype("float64"),
            }
        )


def mm_decode_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode + feature extraction over binary media columns.

    Plan shape: parquet scan → project (payload, meta) → mapInPandas
    (Arrow) → small typed rows. At scale the scan partitions by file; the
    UDF is embarrassingly parallel; nothing shuffles until a consumer
    aggregates. The decode itself is a deterministic fake (no codecs in
    this environment) — swap `_fake_decode_image` for PIL to go real.
    """
    media = media_table(spark, sf_dir)
    flat = media.select(
        "doc_id", "payload", F.col("meta.format").alias("format")
    )
    return flat.mapInPandas(decode_image_batches, DECODE_SCHEMA).orderBy("doc_id")


# Text is ASCII in the fixture, so byte == char: the oracle recomputes the
# checksum with ascii(substr(..)) and the dimensions with octet_length.
MM_DECODE_SQL = f"""
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' ELSE 'webp' END AS format,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
       CAST(64 + (octet_length(encode(text)) * 7) % 384 AS INTEGER) AS height,
       CAST(COALESCE(list_sum(list_transform(range(1, least({CHECKSUM_PREFIX}, octet_length(encode(text))) + 1),
                                    i -> ascii(substr(text, i, 1)))), 0) % 65536 AS INTEGER)
         AS checksum16,
       CAST(64 + octet_length(encode(text)) % 512 AS DOUBLE)
         / CAST(64 + (octet_length(encode(text)) * 7) % 384 AS DOUBLE) AS aspect_ratio
FROM documents ORDER BY doc_id
"""


def sample_frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel for the video/audio frame-sampling stub: frame
    count derived from payload length; sample every 10th frame."""
    for pdf in batches:
        n = pdf["payload"].map(len)
        n_frames = (n % 100 + 1).astype("int32")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_frames": n_frames,
                "n_sampled": ((n_frames + 9) // 10).astype("int32"),
                "first_frame_offset": (n % 64).astype("int32"),
            }
        )


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video/audio frame sampling stub over binary payloads (every-10th
    strategy) — same mapInPandas plumbing as mm_decode_image."""
    media = media_table(spark, sf_dir)
    return (
        media.select("doc_id", "payload")
        .mapInPandas(sample_frame_batches, FRAME_SCHEMA)
        .orderBy("doc_id")
    )


MM_FRAME_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) % 100 + 1 AS INTEGER) AS n_frames,
       CAST((octet_length(encode(text)) % 100 + 1 + 9) // 10 AS INTEGER) AS n_sampled,
       CAST(octet_length(encode(text)) % 64 AS INTEGER) AS first_frame_offset
FROM documents ORDER BY doc_id
"""


RESIZE_TARGET = 224  # fit-inside bounding box (the standard vision-model side)

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("target_w", IntegerType()),
        StructField("target_h", IntegerType()),
        StructField("scale", DoubleType()),
    ]
)


def resize_image_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel for the resize stub: compute the fit-inside
    target geometry (what PIL's thumbnail() would use); the pixel resample
    itself would live here in a real deployment."""
    for pdf in batches:
        n = pdf["payload"].map(len)
        width = (64 + n % 512).astype("int64")
        height = (64 + (n * 7) % 384).astype("int64")
        longest = width.where(width >= height, height)
        scale = (RESIZE_TARGET / longest).clip(upper=1.0)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": width.astype("int32"),
                "height": height.astype("int32"),
                "target_w": (width * scale).astype("int64").astype("int32"),
                "target_h": (height * scale).astype("int64").astype("int32"),
                "scale": scale.astype("float64"),
            }
        )


def mm_resize_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing: fit-inside-224 target geometry per image
    (downscale only), over the same decode-dimension fakes. The arithmetic
    is integer + one double divide/multiply with floor — bit-identical in
    the SQL oracle."""
    media = media_table(spark, sf_dir)
    return (
        media.select("doc_id", "payload")
        .mapInPandas(resize_image_batches, RESIZE_SCHEMA)
        .orderBy("doc_id")
    )


MM_RESIZE_SQL = f"""
WITH dims AS (
  SELECT doc_id,
         64 + octet_length(encode(text)) % 512 AS w,
         64 + (octet_length(encode(text)) * 7) % 384 AS h
  FROM documents
),
s AS (
  SELECT doc_id, w, h,
         least(1.0, {RESIZE_TARGET} / CAST(greatest(w, h) AS DOUBLE)) AS scale
  FROM dims
)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(FLOOR(w * scale) AS INTEGER) AS target_w,
       CAST(FLOOR(h * scale) AS INTEGER) AS target_h,
       scale
FROM s ORDER BY doc_id
"""


# PCM-stand-in framing constants (25 ms window / 10 ms hop at 16 kHz).
AUDIO_WINDOW = 400
AUDIO_HOP = 160
AUDIO_RATE = 16_000
ENERGY_PREFIX = 64

AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", IntegerType()),
        StructField("duration_s", DoubleType()),
        StructField("n_windows", IntegerType()),
        StructField("energy_prefix", IntegerType()),
    ]
)


def audio_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel for the audio stub: payload bytes as 8-bit PCM —
    frame count from window/hop framing, energy from the byte prefix (an
    exact integer, proving the bytes reached the UDF)."""
    for pdf in batches:
        n = pdf["payload"].map(len).astype("int64")
        n_windows = (1 + (n - AUDIO_WINDOW).clip(lower=0) // AUDIO_HOP).where(
            n >= AUDIO_WINDOW, 0
        )
        energy = pdf["payload"].map(lambda b: int(sum(b[:ENERGY_PREFIX])))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_samples": n.astype("int32"),
                "duration_s": (n / AUDIO_RATE).astype("float64"),
                "n_windows": n_windows.astype("int32"),
                "energy_prefix": energy.astype("int32"),
            }
        )


def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction stub: 25 ms / 10 ms framing stats and a
    prefix energy over binary payloads — the librosa/torchaudio slot in a
    real pipeline, with the Spark plumbing (binary column → Arrow batches
    → typed feature rows) fully real."""
    media = media_table(spark, sf_dir)
    return (
        media.select("doc_id", "payload")
        .mapInPandas(audio_feature_batches, AUDIO_SCHEMA)
        .orderBy("doc_id")
    )


MM_AUDIO_SQL = f"""
WITH b AS (
  SELECT doc_id, octet_length(encode(text)) AS n, text FROM documents
)
SELECT doc_id,
       CAST(n AS INTEGER) AS n_samples,
       CAST(n AS DOUBLE) / {AUDIO_RATE} AS duration_s,
       CAST(CASE WHEN n >= {AUDIO_WINDOW}
                 THEN 1 + (n - {AUDIO_WINDOW}) // {AUDIO_HOP} ELSE 0 END
            AS INTEGER) AS n_windows,
       CAST(COALESCE(list_sum(list_transform(range(1, least({ENERGY_PREFIX}, n) + 1),
                                    i -> ascii(substr(text, i, 1)))), 0) AS INTEGER)
         AS energy_prefix
FROM b ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Perceptual-hash near-duplicate image pairs (banded Hamming blocking)
# ---------------------------------------------------------------------------

PHASH_BITS = 60  # fingerprint width (< 63: stays positive in BIGINT)
PHASH_BANDS = 6  # bands of PHASH_BITS / PHASH_BANDS bits each
BAND_WIDTH = PHASH_BITS // PHASH_BANDS  # 10 bits -> 1024 buckets per band
HAM_MAX = 5  # near-dup threshold; < PHASH_BANDS so banding is COMPLETE

PHASH_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("phash", LongType())]
)


def _fake_phash(payload: bytes) -> int:
    """STUB for a real perceptual hash (DCT-based pHash over decoded
    pixels). Deterministic fake: 60 interleaved byte-parity stripes, so a
    byte substitution flips at most one bit — near-identical payloads get
    near-identical hashes, which is the property a real pHash provides."""
    h = 0
    for i, b in enumerate(payload):
        h ^= (b & 1) << (i % PHASH_BITS)
    return h


def phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "phash": pdf["payload"].map(_fake_phash).astype("int64"),
            }
        )


def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs by perceptual-hash Hamming distance
    <= 5, found with BANDED blocking instead of an all-pairs join.

    The hash runs in `mapInPandas` over Arrow batches of the binary
    payloads (the pHash/DCT slot of a real dedup pipeline); pairing then
    never touches bytes again: each 60-bit hash splits into 6 bands of 10
    bits, candidates must agree exactly on >= 1 band (pigeonhole: <= 5
    differing bits among 6 bands forces one clean band, so recall is 100%
    by construction, same argument as MinHash banding in dedup.py), and
    the verify is a 2-instruction bit_count(xor). At 100 TB the plan is:
    narrow hash pass -> 6x band fan-out -> equi-join on (band, value)
    over 1024 buckets/band -> distinct pair -> cheap verify; never n^2.
    The oracle is the equivalent all-pairs query, equal by completeness.
    """
    media = media_table(spark, sf_dir)
    sig = media.select("doc_id", "payload").mapInPandas(phash_batches, PHASH_SCHEMA)
    bands = sig.select(
        "doc_id",
        "phash",
        F.explode(F.expr(f"sequence(0, {PHASH_BANDS - 1})")).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(f"shiftright(phash, band * {BAND_WIDTH}) & {2 ** BAND_WIDTH - 1}"),
    )
    left = bands.select(
        F.col("doc_id").alias("id_a"), F.col("phash").alias("ph_a"), "band", "band_val"
    )
    right = bands.select(
        F.col("doc_id").alias("id_b"), F.col("phash").alias("ph_b"), "band", "band_val"
    )
    pairs = (
        left.join(right, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ph_a", "ph_b")
        .distinct()
        .withColumn(
            "hamming",
            F.expr("CAST(bit_count(ph_a ^ ph_b) AS INTEGER)"),
        )
        .filter(F.col("hamming") <= HAM_MAX)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )
    return pairs


# ASCII fixture => byte == char; empty docs guarded by the 0 prepend.
_PHASH_SQL_EXPR = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(range(1, length(text) + 1),"
    f" i -> ((ascii(substr(text, i, 1)) & 1)::BIGINT << ((i - 1) % {PHASH_BITS})))),"
    " (a, b) -> xor(a, b))"
)

MM_PHASH_SQL = f"""
WITH ph AS (
  SELECT doc_id, {_PHASH_SQL_EXPR} AS phash FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM ph a JOIN ph b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {HAM_MAX}
ORDER BY id_a, id_b
"""


_MAGIC_HEX = {"png": "89504E470D0A1A0A", "jpeg": "FFD8FF", "wav": "52494646"}


def mm_modality_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-SNIFFING modality router: classify binary payloads by their
    real magic bytes (PNG/JPEG/RIFF signatures), never by the metadata
    tag — the ingestion gate that catches mislabeled and truncated media
    before a decoder segfaults on them. Payloads here are the fixture
    blobs with genuine magic prefixes planted by doc_id (and a slice
    deliberately left magic-less to exercise the quarantine class).

    The sniff is a pure JVM expression — ``hex(substring(payload, 1,
    8))`` prefix compare, no UDF — so at 100 TB routing is a scan-side
    map: one pass, predicate-pushable, and each modality's rows can flow
    straight to its own decoder/sink. Output is the per-modality audit
    (file count, byte volume, id range).
    """
    docs = load_table(spark, sf_dir, "documents")
    magic = F.element_at(
        F.array(*[F.unhex(F.lit(h)) for h in _MAGIC_HEX.values()]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    # every 7th blob ships WITHOUT its magic: the corrupt/unknown class
    payload = F.when(
        F.col("doc_id") % 7 == 0, F.encode("text", "UTF-8")
    ).otherwise(F.concat(magic, F.encode("text", "UTF-8")))
    head = F.hex(F.substring(payload, 1, 8))
    sniffed = (
        F.when(F.substring(head, 1, 16) == _MAGIC_HEX["png"], "png")
        .when(F.substring(head, 1, 6) == _MAGIC_HEX["jpeg"], "jpeg")
        .when(F.substring(head, 1, 8) == _MAGIC_HEX["wav"], "wav")
        .otherwise("unknown")
    )
    return (
        docs.select(
            "doc_id", sniffed.alias("modality"), F.octet_length(payload).alias("nb")
        )
        .groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("nb").alias("total_bytes"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("modality")
    )


MM_ROUTER_SQL = rf"""
WITH blobs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN encode(text)
              WHEN doc_id % 3 = 0
                THEN '\x89\x50\x4E\x47\x0D\x0A\x1A\x0A'::BLOB || encode(text)
              WHEN doc_id % 3 = 1
                THEN '\xFF\xD8\xFF'::BLOB || encode(text)
              ELSE '\x52\x49\x46\x46'::BLOB || encode(text)
         END AS payload
  FROM documents
),
sniffed AS (
  SELECT doc_id, octet_length(payload) AS nb,
         CASE WHEN left(hex(payload), 16) = '{_MAGIC_HEX["png"]}' THEN 'png'
              WHEN left(hex(payload), 6) = '{_MAGIC_HEX["jpeg"]}' THEN 'jpeg'
              WHEN left(hex(payload), 8) = '{_MAGIC_HEX["wav"]}' THEN 'wav'
              ELSE 'unknown' END AS modality
  FROM blobs
)
SELECT modality, COUNT(*) AS n_files,
       CAST(SUM(nb) AS BIGINT) AS total_bytes,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM sniffed GROUP BY modality ORDER BY modality
"""


def mm_arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-blob byte stats computed with ``mapInArrow`` — the
    lowest-overhead Python interop tier: the kernel receives raw Arrow
    RecordBatches (no pandas conversion at all) and answers with Arrow
    arrays, the shape a C++/Rust extension kernel (a real decoder,
    a tokenizer) plugs into. Completes the interop matrix below
    ``mapInPandas``; all compute here is pyarrow.compute (vectorized C),
    zero per-row Python.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    media = media_table(spark, sf_dir).select("doc_id", "payload")

    def kernel(batches):
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pc.cast(pc.binary_length(batch.column(1)), pa.int32()),
                ],
                ["doc_id", "n_bytes"],
            )

    return (
        media.mapInArrow(kernel, "doc_id long, n_bytes int")
        .orderBy("doc_id")
    )


MM_ARROW_BYTES_SQL = """
SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes
FROM documents ORDER BY doc_id
"""


QUERIES = {
    mm_arrow_byte_stats: MM_ARROW_BYTES_SQL,
    mm_modality_router: MM_ROUTER_SQL,
    mm_decode_image: MM_DECODE_SQL,
    mm_frame_sample: MM_FRAME_SQL,
    mm_resize_image: MM_RESIZE_SQL,
    mm_audio_features: MM_AUDIO_SQL,
    mm_phash_dedup: MM_PHASH_SQL,
}
