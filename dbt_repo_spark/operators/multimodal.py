"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Design: media travels as a ``binary`` column next to a typed metadata
struct; per-item decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages (the only place Python is allowed in
this engine — decode is inherently a Python/native-lib boundary).

Decode uses genuine stdlib parsers for the uncompressed container
formats — RIFF/PCM16 WAV, 24-bit BI_RGB BMP, P6 PPM
(operators/media_codecs.py) — bytes-in → typed values out, strict errors
on corrupt blobs. ``real_media_from_documents`` builds deterministic
blobs in those formats from the documents table, so the decoded
dimensions / durations / channel means are value-checkable against a SQL
oracle end to end.

Scale notes: binary payloads dominate partition size, so callers should
``repartition`` by a size-aware key or set ``maxRecordsPerBatch`` low
enough that an Arrow batch of blobs fits executor memory; metadata-only
transformations should ``select`` away the binary column first (column
pruning drops the blob bytes at the parquet scan).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_repo_spark.operators.ids import SYNTH_ID_TAG as TWIN_TAG
from dbt_repo_spark.session import fan_out
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("content", BinaryType(), True),
    ]
)


def sample_frames(
    media: DataFrame,
    every_n_bytes: int = 1024,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Frame-sampling shape: one row per sampled offset of each blob.

    For video this is where a real decoder would emit keyframes; this
    samples fixed byte offsets. Pure Spark: posexplode over an offset
    array computed from the blob length — no Python.
    """
    n = F.length(F.col(content_col))
    offsets = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(every_n_bytes))
    return media.select(
        F.col(id_col),
        F.posexplode(offsets).alias("frame_idx", "byte_offset"),
    )


def synthetic_media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media table from the documents fixture (text bytes as blob).

    Lets the multimodal plumbing be exercised on the driver's tables
    without binary fixtures: blob = utf-8 bytes of the text.
    """
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )


# ---------------------------------------------------------------------------
# REAL media: deterministic WAV/BMP/PPM blobs from the documents table and
# the oracle-checkable decode/resize/resample stages over them (r07).
# Every parameter below is a pure function of doc_id, so a SQL oracle can
# recompute the DECODED statistics without ever seeing the bytes — the
# Spark path proves encoder -> bytes -> parser -> stats inverts exactly.
# ---------------------------------------------------------------------------


def synth_pixel(doc_id: int, x: int, y: int, c: int) -> int:
    """Channel byte of the synthetic image grid (c: 0=R, 1=G, 2=B)."""
    return (doc_id * 7 + x * 13 + y * 31 + c * 101) % 256


def synth_sample(doc_id: int, i: int, c: int) -> int:
    """int16 PCM sample for frame ``i``, channel ``c``."""
    return (doc_id * 1103515245 + i * 40503 + c * 997) % 65536 - 32768


def media_params(doc_id: int) -> dict:
    """Format + dimensions/rates for a doc_id — the single source of
    truth the generators, the tests, and the SQL oracles all derive
    from (doc_id % 3: 0 -> bmp, 1 -> wav, 2 -> ppm)."""
    m = doc_id % 3
    if m == 0:
        return {"format": "bmp", "w": 4 + doc_id % 5, "h": 3 + doc_id % 4}
    if m == 1:
        return {
            "format": "wav",
            "channels": 1 + doc_id % 2,
            "rate": 8000 + (doc_id % 5) * 2000,  # doc_id % 3 == 1 for all wav docs, so the modulus must be coprime with 3 to vary
            "n_frames": 50 + doc_id % 40,
        }
    return {"format": "ppm", "w": 3 + doc_id % 6, "h": 2 + doc_id % 5}


def generate_media_blob(doc_id: int) -> tuple[str, bytes]:
    """(media_type, blob) in a REAL container format (wav/bmp/ppm)."""
    from dbt_repo_spark.operators import media_codecs

    p = media_params(doc_id)
    if p["format"] == "wav":
        frames = [
            tuple(synth_sample(doc_id, i, c) for c in range(p["channels"]))
            for i in range(p["n_frames"])
        ]
        return "audio", media_codecs.encode_wav(frames, p["rate"], p["channels"])
    px = [
        [tuple(synth_pixel(doc_id, x, y, c) for c in range(3)) for x in range(p["w"])]
        for y in range(p["h"])
    ]
    enc = media_codecs.encode_bmp if p["format"] == "bmp" else media_codecs.encode_ppm
    return "image", enc(px)


def real_media_from_documents(docs: DataFrame) -> DataFrame:
    """Media table with REAL container-format blobs, one per document.

    Arrow-batched generation (mapInPandas) — at scale this stage stands
    in for a binaryFile landing scan; everything downstream of it is
    production-shaped.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                mtype, blob = generate_media_blob(int(did))
                rows.append(
                    {"media_id": int(did), "media_type": mtype, "content": blob}
                )
            yield pd.DataFrame(rows, columns=["media_id", "media_type", "content"])

    return fan_out(docs.select("doc_id")).mapInPandas(gen, schema=MEDIA_SCHEMA)


IMAGE_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("format", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("channels", IntegerType(), False),
        StructField("mean_r", DoubleType(), False),
        StructField("mean_g", DoubleType(), False),
        StructField("mean_b", DoubleType(), False),
    ]
)

AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("channels", IntegerType(), False),
        StructField("sample_rate", IntegerType(), False),
        StructField("n_frames", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("duration_ms", DoubleType(), False),
        StructField("sample_mean", DoubleType(), False),
        StructField("sample_meansq", DoubleType(), False),
    ]
)


def decode_image_stats(media: DataFrame) -> DataFrame:
    """REAL image decode -> exact stats: dims + per-channel means, each
    mean ONE IEEE division of exact integer sums (bit-reproducible
    against a SQL oracle). Skips non-image blobs by magic sniff."""
    from dbt_repo_spark.operators import media_codecs

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                b = bytes(blob)
                if media_codecs.sniff_format(b) == "wav":
                    continue
                d = media_codecs.decode_any(b)
                n = d["n_pixels"]
                rows.append(
                    {
                        "media_id": int(mid),
                        "format": d["format"],
                        "n_bytes": len(b),
                        "width": d["width"],
                        "height": d["height"],
                        "channels": 3,
                        "mean_r": d["sum_r"] / n,
                        "mean_g": d["sum_g"] / n,
                        "mean_b": d["sum_b"] / n,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_STATS_SCHEMA.fields])

    return fan_out(media.select("media_id", "content")).mapInPandas(
        stats, schema=IMAGE_STATS_SCHEMA
    )


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """REAL WAV decode -> exact stats: layout (channels/rate/frames),
    duration, and mean / mean-square of the int16 samples — the
    embedding-health analog for audio columns."""
    from dbt_repo_spark.operators import media_codecs

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                b = bytes(blob)
                if media_codecs.sniff_format(b) != "wav":
                    continue
                d = media_codecs.decode_wav(b)
                ns = d["n_samples"]
                rows.append(
                    {
                        "media_id": int(mid),
                        "channels": d["channels"],
                        "sample_rate": d["sample_rate"],
                        "n_frames": d["n_frames"],
                        "n_bytes": len(b),
                        "duration_ms": d["duration_ms"],
                        "sample_mean": d["sample_sum"] / ns,
                        "sample_meansq": d["sample_sumsq"] / ns,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_STATS_SCHEMA.fields])

    return fan_out(media.select("media_id", "content")).mapInPandas(
        stats, schema=AUDIO_STATS_SCHEMA
    )


RESIZED_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("src_format", StringType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("mean_r", DoubleType(), False),
        StructField("mean_g", DoubleType(), False),
        StructField("mean_b", DoubleType(), False),
    ]
)


def resize_real_images(media: DataFrame, tw: int, th: int) -> DataFrame:
    """REAL resize roundtrip: decode -> nearest-neighbor resample ->
    re-encode as BMP -> decode AGAIN -> stats of the re-decoded bytes.

    The second decode is the point: the emitted statistics are computed
    from the re-encoded artifact, so a green oracle row certifies the
    whole encode/resample/encode/decode chain, not just the arithmetic.
    Early resize is the 100 TB pattern — shrink blobs BEFORE the first
    shuffle ever moves them.
    """
    from dbt_repo_spark.operators import media_codecs

    def rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                b = bytes(blob)
                if media_codecs.sniff_format(b) == "wav":
                    continue
                d = media_codecs.decode_any(b)
                out = media_codecs.encode_bmp(
                    media_codecs.resize_nearest(d["pixels"], tw, th)
                )
                rd = media_codecs.decode_bmp(out)
                n = rd["n_pixels"]
                rows.append(
                    {
                        "media_id": int(mid),
                        "src_format": d["format"],
                        "width": rd["width"],
                        "height": rd["height"],
                        "n_bytes": len(out),
                        "mean_r": rd["sum_r"] / n,
                        "mean_g": rd["sum_g"] / n,
                        "mean_b": rd["sum_b"] / n,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZED_STATS_SCHEMA.fields])

    return fan_out(media.select("media_id", "content")).mapInPandas(
        rs, schema=RESIZED_STATS_SCHEMA
    )


RESAMPLED_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("channels", IntegerType(), False),
        StructField("sample_rate", IntegerType(), False),
        StructField("n_frames", LongType(), False),
        StructField("duration_ms", DoubleType(), False),
        StructField("sample_mean", DoubleType(), False),
    ]
)


def resample_real_audio(media: DataFrame, factor: int) -> DataFrame:
    """REAL audio downsample roundtrip: decode -> keep every
    ``factor``-th frame -> re-encode at rate/factor -> decode AGAIN ->
    stats of the re-decoded bytes (duration is preserved up to the
    tail frame; the sample mean shifts to the kept frames')."""
    from dbt_repo_spark.operators import media_codecs

    def rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                b = bytes(blob)
                if media_codecs.sniff_format(b) != "wav":
                    continue
                d = media_codecs.decode_wav(b)
                frames = media_codecs.decimate_frames(
                    d["samples"], d["channels"], factor
                )
                out = media_codecs.encode_wav(
                    frames, d["sample_rate"] // factor, d["channels"]
                )
                rd = media_codecs.decode_wav(out)
                rows.append(
                    {
                        "media_id": int(mid),
                        "channels": rd["channels"],
                        "sample_rate": rd["sample_rate"],
                        "n_frames": rd["n_frames"],
                        "duration_ms": rd["duration_ms"],
                        "sample_mean": rd["sample_sum"] / rd["n_samples"],
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESAMPLED_STATS_SCHEMA.fields])

    return fan_out(media.select("media_id", "content")).mapInPandas(
        rs, schema=RESAMPLED_STATS_SCHEMA
    )


def real_media_with_format_twins(docs: DataFrame, every: int = 5) -> DataFrame:
    """Image media table with CROSS-FORMAT twins: every ``every``-th
    image doc also appears re-encoded in the OTHER container (bmp↔ppm,
    twin id = media_id + TWIN_TAG = media_id + 2^40) with IDENTICAL
    pixels. The twin set
    is the ground truth for perceptual (decoded-pixel) near-dup: a
    byte-level signature (multimodal_near_dedup's SimHash) CANNOT match
    a re-encoded blob — its bytes share nothing — while a pixel hash
    matches it exactly. Audio docs are excluded (images only).

    The twin namespace uses ids.SYNTH_ID_TAG (2^40), guarded per row: a
    doc_id at or above the tag raises instead of silently colliding
    with a twin id (the failure a fixed 1e6 offset invites at scale)."""
    from dbt_repo_spark.operators import media_codecs

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                if not 0 <= did < TWIN_TAG:
                    raise ValueError(
                        f"real_media_with_format_twins: doc_id {did} outside"
                        f" [0, 2^40) — twin ids would collide with real ids"
                    )
                if did % 3 == 1:
                    continue  # wav
                p = media_params(did)
                px = [
                    [
                        tuple(synth_pixel(did, x, y, c) for c in range(3))
                        for x in range(p["w"])
                    ]
                    for y in range(p["h"])
                ]
                enc = (
                    media_codecs.encode_bmp
                    if p["format"] == "bmp"
                    else media_codecs.encode_ppm
                )
                other = (
                    media_codecs.encode_ppm
                    if p["format"] == "bmp"
                    else media_codecs.encode_bmp
                )
                rows.append(
                    {"media_id": did, "media_type": "image", "content": enc(px)}
                )
                if did % every == 0:
                    rows.append(
                        {
                            "media_id": did + TWIN_TAG,
                            "media_type": "image",
                            "content": other(px),
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_id", "media_type", "content"])

    return fan_out(docs.select("doc_id")).mapInPandas(gen, schema=MEDIA_SCHEMA)


PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("band", IntegerType(), False),
        StructField("v", IntegerType(), False),
    ]
)


def phash_nibbles(media: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual average-hash over DECODED pixels, emitted as 4-bit
    band values (the aHash: nearest-sample the image to ``grid``×
    ``grid``, gray = r+g+b, bit_p = [gray_p·grid² > Σ gray] — integer
    compare, no division) — 16 nibble rows per image for grid=8, ready
    for the pair-band candidate join without any 64-bit packing (nibble
    XOR + bit_count gives Hamming distance bandwise).

    The decode (container → pixel grid) is the sanctioned Arrow seam
    (real stdlib codecs, same as decode_image_stats); everything
    downstream — banding, candidate join, Hamming verify — is JVM-side
    relational algebra. Container-invariant by construction: a bmp and
    a ppm of the same pixels produce identical nibbles.
    """
    from dbt_repo_spark.operators import media_codecs

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_pos = grid * grid
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                d = media_codecs.decode_any(bytes(blob))
                if "pixels" not in d:
                    continue  # non-image blob
                px, w, h = d["pixels"], d["width"], d["height"]
                grays = []
                for ty in range(grid):
                    sy = (ty * h) // grid
                    for tx in range(grid):
                        sx = (tx * w) // grid
                        r, g, b = px[sy][sx]
                        grays.append(r + g + b)
                total = sum(grays)
                nib = [0] * (n_pos // 4)
                for p, gray in enumerate(grays):
                    if gray * n_pos > total:
                        nib[p // 4] |= 1 << (p % 4)
                for band, v in enumerate(nib):
                    rows.append({"media_id": int(mid), "band": band, "v": v})
            yield pd.DataFrame(rows, columns=["media_id", "band", "v"])

    return media.select("media_id", "content").mapInPandas(
        hash_batches, schema=PHASH_SCHEMA
    )
