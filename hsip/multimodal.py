"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed through Arrow-batched mapInPandas.

The Spark-side contract is real and tested — schemas, partition-size
control, UDF signatures, batch iteration, metadata-driven frame sampling,
and phash near-dup clustering reusing the Hamming blocking core. Image
and audio decode dispatch on library availability at worker import time:
with Pillow / soundfile installed (a real cluster) the _decode_*_real
branches run — exercised in tests by monkeypatching fake codec modules —
and without them (this container, FIXTURES.md) deterministic stub
decoders keep the rest of the path testable. Only video frame decode
(av/ffmpeg) remains a hard NotImplementedError.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .barrier import Regime

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta_json", T.StringType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("ok", T.BooleanType(), False),
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.DoubleType(), True),
        T.StructField("zero_cross_rate", T.DoubleType(), True),
        T.StructField("n_windows", T.IntegerType(), True),
        T.StructField("ok", T.BooleanType(), False),
    ]
)

# typed metadata carried in meta_json per kind (video: frame geometry;
# audio: sample rate) — parsed JVM-side with from_json, never in Python
VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("fps", T.DoubleType(), True),
    ]
)
AUDIO_META_SCHEMA = T.StructType(
    [T.StructField("sample_rate", T.IntegerType(), True)]
)

try:  # pragma: no cover - not present in this container
    from PIL import Image

    _HAVE_PIL = True
except Exception:
    Image = None
    _HAVE_PIL = False

try:  # pragma: no cover - not present in this container
    import soundfile

    _HAVE_SOUNDFILE = True
except Exception:
    soundfile = None
    _HAVE_SOUNDFILE = False

try:  # pragma: no cover - not present in this container
    import av  # noqa: F401

    _HAVE_AV = True
except Exception:
    _HAVE_AV = False


# ---------------------------------------------------------------------------
# image
# ---------------------------------------------------------------------------

def _decode_image_stub(payload: bytes) -> tuple[int, int, np.ndarray]:
    """STUB decode: deterministic fake pixels derived from the payload
    hash — used only when PIL is absent (this container). Raises on
    empty payload like a real decoder would."""
    if not payload:
        raise ValueError("empty payload")
    h = hashlib.sha256(payload).digest()
    w = 16 + h[0] % 64
    ht = 16 + h[1] % 64
    gen = np.random.default_rng(int.from_bytes(h[:8], "little"))
    return w, ht, gen.integers(0, 256, size=(ht, w), dtype=np.uint8)


def _decode_image_real(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Real decode via PIL: bytes -> (width, height, grayscale uint8).
    Selected automatically when Pillow is importable (real cluster);
    unit-tested by monkeypatching a fake ``Image`` module, so the branch
    is exercised without shipping codecs in this container."""
    import io

    img = Image.open(io.BytesIO(payload))
    gray = np.asarray(img.convert("L"), dtype=np.uint8)
    if gray.ndim != 2 or gray.size == 0:
        raise ValueError(f"bad decode shape {gray.shape}")
    ht, w = gray.shape
    return w, ht, gray


def _phash64(gray: np.ndarray) -> int:
    """Average-hash style perceptual hash over an 8x8 downsample —
    real math (works on stub or real pixels alike). Vectorized: both
    axis reductions are one np.add.reduceat pass (no Python cell loop).
    Images narrower than 8px on either axis are nearest-neighbor
    upsampled first — np.linspace over a <8 extent would emit duplicate
    reduceat offsets (empty segments, zero cell areas)."""
    hh, ww = gray.shape
    if hh < 8 or ww < 8:
        ry = np.linspace(0, hh - 1, max(hh, 8)).round().astype(int)
        rx = np.linspace(0, ww - 1, max(ww, 8)).round().astype(int)
        gray = gray[np.ix_(ry, rx)]
        hh, ww = gray.shape
    ys = np.linspace(0, hh, 9).astype(int)
    xs = np.linspace(0, ww, 9).astype(int)
    sums = np.add.reduceat(
        np.add.reduceat(gray.astype(np.int64), ys[:8], axis=0), xs[:8], axis=1
    )
    areas = np.outer(np.diff(ys), np.diff(xs))
    cells = sums / areas
    bits = (cells > cells.mean()).flatten()
    return int(np.packbits(bits).view(">u8")[0].astype(np.int64))


def _image_feature_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """One Arrow batch -> feature rows. The decoder is chosen OUTSIDE the
    per-row try (real PIL when importable, stub otherwise), so installing
    codecs upgrades the path rather than silently zeroing it; per-row
    failures (truncated/corrupt bytes) degrade to ok=False as a real
    ingest must."""
    decode = _decode_image_real if _HAVE_PIL else _decode_image_stub
    rows = []
    for mid, payload in zip(pdf["media_id"], pdf["payload"]):
        try:
            w, h, gray = decode(payload)
            rows.append((mid, w, h, _phash64(gray), True))
        except Exception:
            rows.append((mid, None, None, None, False))
    # construct via object dtype, then nullable Int64: the default
    # constructor coerces an int column containing any None to float64,
    # silently corrupting the low bits of every GOOD row's 64-bit hash
    # whenever one row in the batch fails to decode
    out = pd.DataFrame(
        rows, columns=["media_id", "width", "height", "phash", "ok"],
        dtype=object,
    )
    return out.astype(
        {"width": "Int32", "height": "Int32", "phash": "Int64", "ok": "bool"}
    )


def extract_image_features(media: DataFrame) -> DataFrame:
    """mapInPandas image decode + feature pass.

    Scale shape: binary payloads dominate partition size, so callers
    repartition by size upstream (maxPartitionBytes / repartition) — the
    UDF itself streams Arrow batches and never holds more than one batch
    of payloads in memory.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _image_feature_rows(pdf)

    return media.filter(F.col("kind") == "image").select(
        "media_id", "payload"
    ).mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


def phash_near_dup_pairs(feats: DataFrame, max_hamming: int = 3,
                         bucket_cap: int = 64, *, regime: Regime) -> DataFrame:
    """Image near-duplicate pairs by perceptual-hash Hamming distance.

    Reuses the transcript pipeline's Hamming core end-to-end: the 64-bit
    phash rides through hamming_block_table's C(B, B-d) multi-table keys
    (guaranteed recall within max_hamming by pigeonhole), bucket pairing
    inherits the hot-bucket cap, and verification is a projection over
    the payload the pair rows already carry — the same scale shape that
    cleared the text channels' audits applies to images for free. The
    block table joins ``regime``'s sweep.
    """
    from hsip.config import DedupConfig
    from hsip.simhash import simhash_candidates
    from hsip.verify import verify_hamming

    cfg = DedupConfig(hamming_d=max_hamming, bucket_cap=bucket_cap)
    sim = feats.filter(F.col("ok") & F.col("phash").isNotNull()).select(
        F.col("media_id").alias("id"), F.col("phash").alias("simhash")
    )
    pairs, _truncated = simhash_candidates(sim, cfg, regime)
    return (
        verify_hamming(pairs, cfg)
        .filter("verdict")
        .select(F.col("a").alias("media_a"), F.col("b").alias("media_b"), "hamming")
    )


# ---------------------------------------------------------------------------
# audio
# ---------------------------------------------------------------------------

def _decode_audio_stub(payload: bytes, sample_rate: int) -> tuple[np.ndarray, int]:
    """STUB decode: deterministic fake PCM derived from the payload hash
    (length proportional to payload size, like a fixed-bitrate codec) —
    used only when soundfile is absent (this container)."""
    if not payload:
        raise ValueError("empty payload")
    h = hashlib.sha256(payload).digest()
    n = max(sample_rate // 8, len(payload) * 4)
    gen = np.random.default_rng(int.from_bytes(h[8:16], "little"))
    return gen.standard_normal(n).astype(np.float32) * 0.25, sample_rate


def _decode_audio_real(payload: bytes, sample_rate: int) -> tuple[np.ndarray, int]:
    """Real decode via soundfile: bytes -> (mono float32 PCM, true rate).
    The container's sample_rate metadata is a hint; the codec's own rate
    wins. Channels are mean-downmixed to mono in one vectorized pass.
    Unit-tested by monkeypatching a fake ``soundfile`` module."""
    import io

    pcm, sr = soundfile.read(io.BytesIO(payload), dtype="float32")
    pcm = np.asarray(pcm, dtype=np.float32)
    if pcm.ndim == 2:
        pcm = pcm.mean(axis=1)
    if pcm.size == 0:
        raise ValueError("empty decode")
    return pcm, int(sr)


def _audio_feature_rows(pdf: pd.DataFrame, window: int = 1024) -> pd.DataFrame:
    """One Arrow batch -> audio feature rows; decoder chosen OUTSIDE the
    per-row try (see _image_feature_rows for the rationale)."""
    decode = _decode_audio_real if _HAVE_SOUNDFILE else _decode_audio_stub
    rows = []
    for mid, payload, sr in zip(
        pdf["media_id"], pdf["payload"], pdf["sample_rate"]
    ):
        try:
            sr = int(sr) if sr and sr > 0 else 16000
            pcm, sr = decode(payload, sr)
            n_win = len(pcm) // window
            rms = float(np.sqrt(np.mean(pcm**2)))
            peak = float(np.max(np.abs(pcm)))
            zc = float(np.mean(np.diff(np.signbit(pcm)) != 0))
            rows.append((mid, len(pcm) / sr, rms, peak, zc, n_win, True))
        except Exception:
            rows.append((mid, None, None, None, None, None, False))
    out = pd.DataFrame(
        rows,
        columns=[
            "media_id", "duration_s", "rms", "peak",
            "zero_cross_rate", "n_windows", "ok",
        ],
        dtype=object,
    )
    return out.astype(
        {
            "duration_s": "Float64", "rms": "Float64", "peak": "Float64",
            "zero_cross_rate": "Float64", "n_windows": "Int32", "ok": "bool",
        }
    )


def extract_audio_features(media: DataFrame, window: int = 1024) -> DataFrame:
    """mapInPandas audio decode + windowed feature pass.

    The feature math is real (RMS, peak, zero-crossing rate, window count —
    one vectorized numpy pass per clip); only the byte->PCM decode is
    stubbed. sample_rate arrives via typed metadata parsed JVM-side, so
    the Python worker never touches JSON.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _audio_feature_rows(pdf, window)

    src = (
        media.filter(F.col("kind") == "audio")
        .withColumn("m", F.from_json("meta_json", AUDIO_META_SCHEMA))
        .select("media_id", "payload", F.col("m.sample_rate").alias("sample_rate"))
    )
    return src.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# video
# ---------------------------------------------------------------------------

def frame_sample_plan(frames_meta: DataFrame, every_n: int = 30) -> DataFrame:
    """(media_id, n_frames, fps) -> one row per sampled frame index.

    Pure SQL — sequence() + posexplode, no UDF: the sampling plan for a
    10^12-frame corpus is a Catalyst projection whose output volume is
    n_frames/every_n rows, computed where the data lives. The byte-level
    frame decode consuming this plan is decode_video_frames (stubbed).
    """
    idx = F.sequence(
        F.lit(0), F.col("n_frames") - 1, F.lit(int(every_n))
    )
    return (
        frames_meta.filter(F.col("n_frames") > 0)
        .select(
            "media_id", "fps",
            F.posexplode(idx).alias("sample_idx", "frame_idx"),
        )
        .select(
            "media_id",
            "sample_idx",
            "frame_idx",
            (F.col("frame_idx") / F.col("fps")).alias("ts_sec"),
        )
    )


def sample_video_frames(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Metadata-driven frame sampling over the media table: parse the
    typed (n_frames, fps) video metadata JVM-side and emit the sampled
    frame plan. No Python runs anywhere in this operator."""
    meta = (
        media.filter(F.col("kind") == "video")
        .withColumn("m", F.from_json("meta_json", VIDEO_META_SCHEMA))
        .select(
            "media_id",
            F.coalesce(F.col("m.n_frames"), F.lit(0)).alias("n_frames"),
            F.coalesce(F.col("m.fps"), F.lit(30.0)).alias("fps"),
        )
    )
    return frame_sample_plan(meta, every_n)


def decode_video_frames(media: DataFrame, frame_plan: DataFrame) -> DataFrame:
    """Byte-level frame decode for the sampled plan. Requires av/ffmpeg —
    not shipped in this container, so this raises until deployed on a
    cluster with codecs installed; the plan side (sample_video_frames)
    and the join shape below are the real, tested plumbing."""
    if not _HAVE_AV:
        raise NotImplementedError(
            "video frame decode requires av/ffmpeg on the cluster "
            "(container ships no codecs; FIXTURES.md)"
        )
    return frame_plan.join(media.select("media_id", "payload"), "media_id")


# ---------------------------------------------------------------------------
# fixtures
# ---------------------------------------------------------------------------

def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests: image/audio/video mix
    with kind-appropriate typed metadata."""
    gen = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        payload = gen.integers(0, 256, size=int(gen.integers(64, 512)), dtype=np.uint8)
        kind = ("image", "image", "audio", "video")[i % 4]
        if kind == "video":
            meta = (
                f'{{"src": "synthetic", "n_frames": {int(gen.integers(1, 900))},'
                f' "fps": {float(gen.choice([24.0, 25.0, 30.0]))}}}'
            )
        elif kind == "audio":
            meta = f'{{"src": "synthetic", "sample_rate": {int(gen.choice([8000, 16000, 44100]))}}}'
        else:
            meta = '{"src": "synthetic"}'
        rows.append((f"m{i:05d}", kind, f"{kind}/fake", bytes(payload.tobytes()), meta))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
