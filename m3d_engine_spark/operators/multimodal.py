"""Multimodal (image/audio/video) column plumbing.

Beyond-reference capability. Media ride as opaque ``binary`` payload
columns plus typed metadata; all heavy per-item work happens in
Arrow-batched ``mapInPandas`` kernels so 100 TB of blobs stream through
Python in columnar batches (never row-at-a-time pickling).

The actual codecs (PIL/ffmpeg/torchaudio) are NOT available in this
environment, so the decode step is STUBBED: ``decode_stub=True`` swaps a
deterministic fake decoder (metadata derived from the payload bytes) for
the real one, keeping schema/partitioning/batch-shape real and tested.
Wire a real decoder by replacing ``_decode_batch_stub``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("sha256", StringType()),
        StructField("width", IntegerType()),      # images/video
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),   # video/audio windows
    ]
)


def payload_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Cheap JVM-side metadata: byte length + content hashes. No Python."""
    p = F.col(payload_col)
    return df.withColumns(
        {
            "byte_len": F.length(p).cast("long"),
            "md5": F.md5(p),
            "sha256": F.sha2(p, 256),
        }
    )


def _decode_batch_stub(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic fake decode: dimensions derived from payload bytes.

    Stands in for PIL.Image.open / av.open — same output schema, same
    batch shape, so the surrounding Spark plan is production-real.
    """
    import hashlib

    out = {
        "media_id": pdf["media_id"],
        "media_type": pdf["media_type"],
        "byte_len": pdf["payload"].map(lambda b: len(b) if b is not None else 0),
        "sha256": pdf["payload"].map(
            lambda b: hashlib.sha256(b if b is not None else b"").hexdigest()
        ),
    }
    digests = pdf["payload"].map(
        lambda b: hashlib.md5(b if b is not None else b"").digest()
    )
    out["width"] = digests.map(lambda d: 16 + d[0] % 240).astype("int32")
    out["height"] = digests.map(lambda d: 16 + d[1] % 240).astype("int32")
    out["n_frames"] = digests.map(lambda d: 1 + d[2] % 64).astype("int32")
    return pd.DataFrame(out)


def _decode_batch_real(pdf: pd.DataFrame) -> pd.DataFrame:
    raise NotImplementedError(
        "real media decoding needs PIL/av/torchaudio, not present in this "
        "container; use decode_stub=True or replace this kernel"
    )


def decode_media(df: DataFrame, decode_stub: bool = True) -> DataFrame:
    """Decode media payloads to typed metadata via mapInPandas.

    Arrow-batched: each Python worker receives columnar batches; at
    cluster scale prefer `spark.sql.execution.arrow.maxRecordsPerBatch`
    tuned so one batch of blobs fits comfortably in worker memory.
    """
    kernel = _decode_batch_stub if decode_stub else _decode_batch_real

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield kernel(pdf)

    return df.mapInPandas(run, schema=DECODED_SCHEMA)


def synthesize_media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a deterministic media table from the documents fixture
    (text bytes as payload) — test scaffolding for the real plumbing."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.concat(F.lit("synthetic://docs/"), F.col("doc_id")).alias("source_uri"),
    )


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_sha", StringType()),
    ]
)


def sample_frames(
    decoded: DataFrame, every_k: int = 8, decode_stub: bool = True
) -> DataFrame:
    """Frame sampling for video payloads: one row per every-``k``-th
    frame of each decoded video.

    Division of labor is the scale-relevant part: the FAN-OUT (one row
    per sampled frame index) happens JVM-side as a
    ``sequence``+``explode`` over the decoded ``n_frames`` — no Python
    involved in multiplying rows, so a 10⁹-video corpus fans out inside
    whole-stage codegen. Only the per-frame EXTRACTION runs in the
    Arrow-batched kernel (stubbed here: a digest of the content hash
    and frame index stands in for the ffmpeg seek+decode; schema and
    batch shape are the production ones).
    """
    fanned = (
        decoded.filter(F.col("media_type") == "video")
        # A real decoder reports n_frames = 0 for corrupt/empty videos;
        # sequence(0, -1, k) is an illegal-boundaries error, so gate it.
        .filter(F.col("n_frames") > 0)
        .select(
            "media_id",
            F.col("sha256").alias("_sha"),
            F.explode(
                F.expr(f"sequence(0, n_frames - 1, {int(every_k)})")
            ).alias("_idx"),
        )
        .select(
            "media_id", "_sha", F.col("_idx").cast("int").alias("frame_idx")
        )
    )
    if not decode_stub:
        raise NotImplementedError(
            "real frame extraction needs av/ffmpeg, not present in this "
            "container; use decode_stub=True or replace the kernel"
        )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"].astype("int32"),
                    "frame_sha": [
                        hashlib.md5(f"{s}:{i}".encode()).hexdigest()
                        for s, i in zip(pdf["_sha"], pdf["frame_idx"])
                    ],
                }
            )

    return fanned.mapInPandas(extract, schema=FRAME_SCHEMA)


def chunk_audio(
    decoded: DataFrame,
    window_ms: int = 2000,
    hop_ms: int = 1000,
    ms_per_byte: int = 8,
) -> DataFrame:
    """Sliding-window segmentation for audio payloads — the
    Whisper-style prep step (fixed windows, overlapping hop) expressed
    as pure JVM fan-out: one row per (media, window), computed with
    ``sequence``+``explode`` inside whole-stage codegen, so a 10⁹-clip
    corpus fans out without any Python in the row-multiplying path.

    The stub decoder reports no duration, so duration_ms derives
    deterministically from the payload byte length (``ms_per_byte``);
    a real decoder (torchaudio/ffprobe) replaces ONE projected column,
    not the topology. The final window is kept iff it covers at least
    half a window (the standard drop-tail-sliver rule). ``chunk_key``
    is the JVM-side md5 of (sha256, chunk_idx) — the deterministic
    handle a downstream Arrow extraction kernel (the ``sample_frames``
    slot) would key its decoded tensors by.

    Returns (media_id, chunk_idx, start_ms, end_ms, chunk_key).
    """
    window_ms, hop_ms = int(window_ms), int(hop_ms)
    if window_ms <= 0 or hop_ms <= 0:
        raise ValueError("window_ms and hop_ms must be positive")
    dur = (F.col("byte_len").cast("long") * F.lit(int(ms_per_byte))).alias(
        "_dur"
    )
    fanned = (
        decoded.filter(F.col("media_type") == "audio")
        .select("media_id", F.col("sha256").alias("_sha"), dur)
        .filter(F.col("_dur") > 0)
        .select(
            "media_id",
            "_sha",
            "_dur",
            F.posexplode(
                F.expr(f"sequence(0L, _dur - 1, {hop_ms}L)")
            ).alias("chunk_idx", "start_ms"),
        )
        .select(
            "media_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            "start_ms",
            F.least(
                F.col("start_ms") + F.lit(window_ms), F.col("_dur")
            ).alias("end_ms"),
            "_sha",
        )
        .filter(
            (F.col("end_ms") - F.col("start_ms")) * 2 >= F.lit(window_ms)
        )
    )
    return fanned.select(
        "media_id",
        "chunk_idx",
        "start_ms",
        "end_ms",
        F.md5(
            F.concat_ws("|", F.col("_sha"), F.col("chunk_idx").cast("string"))
        ).alias("chunk_key"),
    )


def tile_images(decoded: DataFrame, tile: int = 64) -> DataFrame:
    """Tile-grid fan-out for image payloads — the ViT-style patching
    prep (and the detection-crop prep) as pure JVM row multiplication:
    ceil(w/tile) × ceil(h/tile) rows per image via two nested
    ``sequence``+``explode`` generators in whole-stage codegen. Edge
    tiles clamp to the image bounds (never padded here — padding is a
    kernel concern, and whether to pad is model-specific). ``tile_key``
    is the md5 handle the extraction kernel keys decoded pixel batches
    by, exactly as in ``chunk_audio``/``sample_frames``.

    Returns (media_id, tile_row, tile_col, x0, y0, x1, y1, tile_key).
    """
    t = int(tile)
    if t <= 0:
        raise ValueError("tile must be positive")
    return (
        decoded.filter(F.col("media_type") == "image")
        .filter((F.col("width") > 0) & (F.col("height") > 0))
        .select(
            "media_id",
            F.col("sha256").alias("_sha"),
            "width",
            "height",
            F.explode(
                F.expr(f"sequence(0, CAST(ceil(height / {t}.0) AS INT) - 1)")
            ).alias("tile_row"),
        )
        .select(
            "media_id",
            "_sha",
            "width",
            "height",
            "tile_row",
            F.explode(
                F.expr(f"sequence(0, CAST(ceil(width / {t}.0) AS INT) - 1)")
            ).alias("tile_col"),
        )
        .select(
            "media_id",
            "tile_row",
            "tile_col",
            (F.col("tile_col") * t).alias("x0"),
            (F.col("tile_row") * t).alias("y0"),
            F.least(F.col("tile_col") * t + t, F.col("width")).alias("x1"),
            F.least(F.col("tile_row") * t + t, F.col("height")).alias("y1"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("_sha"),
                    F.col("tile_row").cast("string"),
                    F.col("tile_col").cast("string"),
                )
            ).alias("tile_key"),
        )
    )


PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("dhash", LongType()),
    ]
)


def _phash_batch_stub(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in for a real dHash (PIL resize→gray→
    difference hash): average-pool the PAYLOAD BYTE STREAM into the
    8×9 grid a real dHash pools pixels into, then take the standard
    horizontal-difference bits. Locality-preserving by construction —
    payloads differing in a few bytes pool to nearly identical grids,
    so near-duplicate payloads land within small Hamming distance,
    which is the property the downstream banded join needs and a
    plain content hash destroys. Byte i belongs to cell i·72//len
    (invertible floor rule, same in the SQL twin)."""
    def dhash(b) -> int:
        b = b or b""
        L = len(b)
        sums = [0] * 72
        cnts = [0] * 72
        for i, byte in enumerate(b):
            j = i * 72 // L
            sums[j] += byte
            cnts[j] += 1
        m = [sums[j] // cnts[j] if cnts[j] else 0 for j in range(72)]
        h = 0
        for r in range(8):
            for c in range(8):
                h = (h << 1) | (1 if m[r * 9 + c] < m[r * 9 + c + 1] else 0)
        return h - (1 << 64) if h >= (1 << 63) else h

    return pd.DataFrame(
        {
            "media_id": pdf["media_id"],
            "dhash": pdf["payload"].map(dhash).astype("int64"),
        }
    )


def perceptual_hash(df: DataFrame, decode_stub: bool = True) -> DataFrame:
    """64-bit perceptual difference-hash per media payload via the
    Arrow kernel (the decode stand-in; swap ``_phash_batch_stub`` for
    a PIL-based kernel in a codec-equipped container — the Spark plan
    around it is identical). Returns (media_id, dhash)."""
    if not decode_stub:
        raise NotImplementedError(
            "real perceptual hashing needs PIL, not present here"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _phash_batch_stub(pdf)

    return df.select("media_id", "payload").mapInPandas(
        run, schema=PHASH_SCHEMA
    )


def banded_hamming_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    max_dist: int = 3,
    bands: int = 4,
) -> DataFrame:
    """All id pairs whose 64-bit signatures are within ``max_dist``
    Hamming bits — the generic banded join behind
    ``dedup.simhash64_hamming_pairs``, exposed for ANY precomputed
    signature column (perceptual hashes here). Pigeonhole: with
    ``max_dist < bands`` equal-width bands, a qualifying pair shares
    at least one full band, so candidates come from ``bands``
    equi-joins (one posexplode + one keyed self-join) and
    ``bit_count(xor)`` verifies only collisions. Never all-pairs.
    """
    if not 0 < bands <= 64 or 64 % bands:
        raise ValueError("bands must divide 64")
    if max_dist >= bands:
        raise ValueError("pigeonhole needs max_dist < bands")
    width = 64 // bands
    keys = F.array(
        *[
            F.shiftrightunsigned(F.col("_sig"), b * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for b in range(bands)
        ]
    )
    banded = df.select(
        F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig")
    ).select("_id", "_sig", F.posexplode(keys).alias("_b", "_k"))
    a = banded.select(
        F.col("_id").alias("id_a"), F.col("_sig").alias("_sa"), "_b", "_k"
    )
    b = banded.select(
        F.col("_id").alias("id_b"), F.col("_sig").alias("_sb"), "_b", "_k"
    )
    return (
        a.join(b, on=["_b", "_k"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_sa", "_sb")
        .distinct()
        .withColumn(
            "dist",
            F.bit_count(F.expr("_sa ^ _sb")).cast("int"),
        )
        .filter(F.col("dist") <= int(max_dist))
        .select("id_a", "id_b", "dist")
    )
