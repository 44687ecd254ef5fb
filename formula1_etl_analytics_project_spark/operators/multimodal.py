"""Multimodal column plumbing (SURVEY.md M6 extras).

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct; decode / feature-extract / frame-sample run as
Arrow-batched ``mapInPandas`` operators. PPM (P6) images decode for
REAL via the pure-Python ``decode_ppm`` (no codec library needed, and
``media_decode_stats``' oracle verifies the decoded pixel values);
formats that need a codec library (JPEG/PNG/ffmpeg/torchaudio - not
in this container) fall back to a deterministic digest stub behind
the same ``_decode_image`` seam - the Spark-side contract (schema,
batch shape, partitioning, UDF signature) is identical either way, so
swapping in a real codec changes one pure function.

Scale notes: mapInPandas streams Arrow batches - constant memory per
task regardless of corpus size; binary payloads never hit the driver.
Keep ``spark.sql.files.maxPartitionBytes`` modest for fat binary rows
so a task's batch fits executor memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 8


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Encode raw interleaved RGB bytes as a binary PPM (P6) image.

    P6 is the trivial uncompressed format: an ASCII header
    ``P6\\n<w> <h>\\n255\\n`` followed by ``3*w*h`` raw sample bytes.
    No codec library needed - which is exactly why it closes the
    container's no-PIL codec seam with a REAL encoder.
    """
    if len(rgb) != 3 * width * height:
        raise ValueError(
            f"P6 {width}x{height} needs {3 * width * height} bytes, "
            f"got {len(rgb)}"
        )
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a binary PPM (P6) image -> (width, height, rgb bytes).

    A real pure-Python decoder (header parse + sample extraction),
    not a digest stub: the pixel values it returns are the ones the
    encoder wrote, and `media_decode_stats`' oracle cross-checks
    statistics of those decoded values against an independent
    recomputation. Only maxval 255 (1 byte/sample) is supported -
    the P6 common case.
    """
    # Sniff = magic + mandatory whitespace: bare b"P6" is a plausible
    # prefix of ordinary text (an F1 position token), and committing
    # to the codec on 2 bytes made the branch data-dependent.
    if (
        payload is None
        or payload[:2] != b"P6"
        or not payload[2:3].isspace()
    ):
        raise ValueError("not a P6 PPM payload")
    # Header = magic, width, height, maxval as whitespace-separated
    # ASCII tokens (comments are #-to-EOL); pixel data starts after
    # the single whitespace byte following maxval.
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    width, height, maxval = tokens
    if width <= 0 or height <= 0:
        # Zero-area payloads must fail the same explicit way as other
        # undecodable inputs (an empty rgb slice passes the length
        # check below, then downstream means divide by n = 0).
        raise ValueError(f"non-positive dimensions {width}x{height}")
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    rgb = payload[pos : pos + 3 * width * height]
    if len(rgb) != 3 * width * height:
        raise ValueError("truncated P6 pixel data")
    return width, height, rgb


def _decode_image(payload: bytes) -> list[float]:
    """Decode kernel. P6/PPM payloads decode for REAL (pure-Python,
    `decode_ppm`): the feature is the per-channel pixel means. Other
    formats still hit the documented stub seam - a deterministic
    digest of the bytes (no PIL/ffmpeg in this container); swapping in
    a real codec changes this one pure function.
    """
    if payload is None:
        raise NotImplementedError("image decode requires a codec library")
    payload = bytes(payload)
    try:
        # decode_ppm owns the single copy of the codec-commit
        # predicate (magic + whitespace sniff, parseable header,
        # positive dims); anything it rejects - including utf-8 text
        # that merely starts "P6 " - falls back to the digest feature.
        # Duplicating the sniff here is how the original 2-byte-prefix
        # divergence happened.
        width, height, rgb = decode_ppm(payload)
    except ValueError:
        digest = hashlib.sha256(payload).digest()
        return [b / 255.0 for b in digest[:FEATURE_DIM]]
    n = width * height
    feats = [
        sum(rgb[c::3]) / (255.0 * n) for c in range(3)
    ]  # mean r, g, b in [0, 1]
    return (feats + [0.0] * FEATURE_DIM)[:FEATURE_DIM]


def ppm_pixel_stats(df: DataFrame) -> DataFrame:
    """(media_id, payload) -> per-image decoded-pixel statistics.

    Arrow-batched mapInPandas over binary P6 payloads; emits the
    dimensions and EXACT integer channel sums of the decoded samples
    (BIGINT - bounded by 255 * w * h, no float accumulation), so an
    oracle can verify the decode bit-for-bit. Undecodable payloads
    yield NULL stats (F6 skip semantics), never a task failure.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("sum_r", T.LongType(), True),
            T.StructField("sum_g", T.LongType(), True),
            T.StructField("sum_b", T.LongType(), True),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, rgb = decode_ppm(bytes(payload))
                    rows.append(
                        (mid, w, h, sum(rgb[0::3]), sum(rgb[1::3]), sum(rgb[2::3]))
                    )
                except (ValueError, TypeError):
                    rows.append((mid, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "sum_r",
                    "sum_g",
                    "sum_b",
                ],
            )

    return df.mapInPandas(op, schema=out_schema)


def extract_features(df: DataFrame) -> DataFrame:
    """media rows -> (media_id, media_type, feature: array<float>).

    Arrow-batched, per-partition; failures (undecodable payloads) yield
    NULL features instead of killing the task - the reference's
    try/except-skip semantics (F6) at batch granularity.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), True),
            T.StructField("feature", T.ArrayType(T.FloatType()), True),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                try:
                    feats.append(_decode_image(payload))
                except (NotImplementedError, Exception):
                    feats.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "feature": feats,
                }
            )

    return df.mapInPandas(op, schema=out_schema)


def frame_sample(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video -> sampled frame rows: (media_id, frame_idx, frame_ts_ms).

    Frame *timing* comes from metadata (native expressions - sequence +
    explode, no UDF); actual pixel extraction would plug into
    ``_decode_image`` per frame."""
    frames = F.sequence(
        F.lit(0), F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)), F.lit(every_ms)
    )
    return (
        df.filter(F.col("media_type") == "video")
        .select(
            "media_id",
            F.posexplode(frames).alias("frame_idx", "frame_ts_ms"),
        )
    )
