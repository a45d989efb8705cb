"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct; decode /
feature-extract run as Arrow-batched ``mapInPandas`` stages.

Two decode paths:

* ``extract_media_features(...)`` — deterministic fake decoder
  (features derived from the payload digest); exercises the full Spark-side
  plumbing and is exactly mirrored by the DuckDB oracle.
* ``decode_media_features(...)`` — REAL decoders for the formats the
  container's stdlib + numpy can handle: binary netpbm images (P5 PGM / P6
  PPM) and PCM WAV audio.  Decoded images get a 64-bit perceptual average
  hash (aHash: 8×8 block-mean, threshold at the mean — public algorithm);
  decoded audio gets a 64-band spectral-energy hash (threshold at the median,
  amplitude-invariant).  Near-duplicate media then reuses the SAME pigeonhole
  Hamming join as text SimHash (operators/simhash.py) — one skew-capped
  distributed join serves both modalities.  Other formats (JPEG/PNG/MP3)
  surface as ``ok=false`` error rows (north-rule B3 error-skip semantics);
  a Pillow/ffmpeg codec would plug into ``_decode_one``.
"""

from __future__ import annotations

import hashlib
import io
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("url", StringType(), True),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("payload_sha256", StringType(), False),
        StructField("feature", ArrayType(FloatType()), False),
    ]
)

FEATURE_DIM = 16


# --------------------------------------------------------------------------
# Real stdlib/numpy codecs (no Pillow/ffmpeg in this container)
# --------------------------------------------------------------------------

def decode_image_pillow(payload: bytes) -> np.ndarray:
    """JPEG/PNG/WEBP/… → float32 H×W×C in [0, 1] via Pillow, when the
    library is installed (VERDICT r2 item 6: the optional-import branch of
    the codec seam — netpbm stays the always-on stdlib path).  Raises
    ImportError where Pillow is absent; callers treat that like any other
    undecodable payload (ok=false, north rule B3)."""
    import io

    from PIL import Image  # optional dependency; import-guarded by caller

    with Image.open(io.BytesIO(payload)) as im:
        im = im.convert("RGB") if im.mode not in ("L", "RGB") else im
        arr = np.asarray(im, dtype=np.float32) / np.float32(255.0)
    return arr[:, :, None] if arr.ndim == 2 else arr


def decode_pnm(payload: bytes) -> np.ndarray:
    """Binary netpbm P5 (grayscale) / P6 (RGB) → float32 H×W×C in [0, 1].

    Pure numpy; supports 8-bit and 16-bit (big-endian, per spec) samples.
    """
    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary PGM/PPM payload (magic {magic!r})")
    pos, vals, n = 2, [], len(payload)
    while len(vals) < 3:
        while pos < n and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            nl = payload.find(b"\n", pos)
            if nl < 0:
                raise ValueError("truncated netpbm header (comment)")
            pos = nl + 1
            continue
        start = pos
        while pos < n and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated netpbm header")
        vals.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte separates maxval from raster
    width, height, maxval = vals
    if not (0 < maxval < 65536) or width <= 0 or height <= 0:
        raise ValueError(f"bad netpbm dimensions {width}x{height}@{maxval}")
    channels = 3 if magic == b"P6" else 1
    count = width * height * channels
    dtype = np.uint8 if maxval < 256 else np.dtype(">u2")
    arr = np.frombuffer(payload, dtype=dtype, count=-1, offset=pos)
    if arr.shape[0] < count:
        raise ValueError(f"truncated raster: {arr.shape[0]} < {count} samples")
    return (arr[:count].astype(np.float32) / np.float32(maxval)).reshape(
        height, width, channels
    )


def encode_pnm(img: np.ndarray) -> bytes:
    """uint8 H×W (→P5) or H×W×3 (→P6) → binary netpbm payload (for datagen
    and tests; real corpora carry externally produced payloads)."""
    if img.dtype != np.uint8:
        raise ValueError("encode_pnm expects uint8")
    if img.ndim == 2:
        magic, h, w = b"P5", *img.shape
    elif img.ndim == 3 and img.shape[2] == 3:
        magic, (h, w) = b"P6", img.shape[:2]
    else:
        raise ValueError(f"unsupported image shape {img.shape}")
    return magic + f"\n{w} {h}\n255\n".encode() + img.tobytes()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV → (float32 mono samples in [-1, 1], sample_rate) — stdlib
    ``wave`` for the container format, numpy for the PCM frames."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        rate = w.getframerate()
        ch = w.getnchannels()
        sw = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if sw == 2:
        s = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif sw == 1:  # 8-bit WAV is unsigned
        s = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif sw == 4:
        s = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width {sw}")
    if ch > 1:
        s = s.reshape(-1, ch).mean(axis=1)
    return s, rate


def _block_means(gray: np.ndarray, hs: int) -> np.ndarray:
    """hs×hs block-mean downsample of an arbitrary-size 2-D array via a
    summed-area table — O(pixels), no interpolation dependency."""
    h, w = gray.shape
    if h < hs or w < hs:  # tiny image: nearest-neighbor upscale first
        gray = np.repeat(
            np.repeat(gray, -(-hs // h), axis=0), -(-hs // w), axis=1
        )
        h, w = gray.shape
    sat = np.zeros((h + 1, w + 1), dtype=np.float64)
    np.cumsum(np.cumsum(gray, axis=0), axis=1, out=sat[1:, 1:])
    ys = (np.arange(hs + 1) * h) // hs
    xs = (np.arange(hs + 1) * w) // hs
    s = sat[np.ix_(ys, xs)]
    areas = np.outer(np.diff(ys), np.diff(xs))
    return (s[1:, 1:] - s[:-1, 1:] - s[1:, :-1] + s[:-1, :-1]) / areas


def _pack_bits64(bits: np.ndarray) -> int:
    """64 bools → int64 (bit i = bits[i]), wrapped to signed for LongType."""
    word = np.uint64(0)
    for i, b in enumerate(bits.ravel()[:64]):
        if b:
            word |= np.uint64(1) << np.uint64(i)
    return int(word.astype(np.int64))


def average_hash(img: np.ndarray) -> int:
    """64-bit perceptual aHash: grayscale → 8×8 block means → threshold at
    the mean.  Invariant to global brightness/contrast scaling; small local
    edits flip few bits, so Hamming distance ranks visual similarity."""
    gray = img.mean(axis=2) if img.ndim == 3 else img
    blocks = _block_means(gray.astype(np.float64), 8)
    return _pack_bits64(blocks.ravel() > blocks.mean())


def audio_spectral_hash(samples: np.ndarray, n_bands: int = 64) -> int:
    """64-bit audio fingerprint: spectral OCCUPANCY — bit i set iff band i's
    mean |rfft| energy exceeds 5% of the strongest band.

    Amplitude-invariant (the gate scales with the signal) and numerically
    stable: every comparison is against a level 20× above the leakage floor,
    so no bit rides on the sign of a ~0 difference (adjacent-band difference
    schemes à la Haitsma–Kalker flip arbitrarily on sparse spectra, where
    empty-band energies are equal up to float noise).  Best for tonal/sparse
    content; broadband audio would want the difference scheme layered on a
    stabilized log floor."""
    if samples.shape[0] < 2 * n_bands:
        samples = np.pad(samples, (0, 2 * n_bands - samples.shape[0]))
    spec = np.abs(np.fft.rfft(samples.astype(np.float64)))[1:]  # drop DC
    edges = (np.arange(n_bands + 1) * spec.shape[0]) // n_bands
    band = np.add.reduceat(spec, edges[:-1]) / np.maximum(np.diff(edges), 1)
    return _pack_bits64(band > 0.05 * band.max())


def _decode_one(media_type: str, payload: bytes) -> dict:
    """Decode one payload → features dict; raises on undecodable input.
    Images: netpbm P5/P6 always (stdlib/numpy); other formats (JPEG/PNG/…)
    through the import-guarded Pillow branch where the library exists.
    (An ffmpeg codec for MP3/MP4 would plug in the same way.)"""
    if media_type == "image":
        if payload[:2] in (b"P5", b"P6"):
            img = decode_pnm(payload)
        else:
            img = decode_image_pillow(payload)
        gray = img.mean(axis=2) if img.ndim == 3 else img
        return {
            "phash": average_hash(img),
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
            "duration_ms": None,
            "feature": np.array(
                [gray.mean(), gray.std(), img.shape[1], img.shape[0]],
                dtype=np.float32,
            ),
        }
    if media_type == "audio":
        samples, rate = decode_wav(payload)
        dur = samples.shape[0] / rate if rate else 0.0
        zcr = (
            float(np.mean(np.signbit(samples[1:]) != np.signbit(samples[:-1])))
            if samples.shape[0] > 1
            else 0.0
        )
        return {
            "phash": audio_spectral_hash(samples),
            "width": None,
            "height": None,
            "duration_ms": int(dur * 1000),
            "feature": np.array(
                [float(np.sqrt(np.mean(samples**2))), zcr, rate, dur],
                dtype=np.float32,
            ),
        }
    raise ValueError(f"no stdlib decoder for media_type {media_type!r}")


DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("ok", BooleanType(), False),
        StructField("err", StringType(), True),
        StructField("phash", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)


def decode_media_features(media: DataFrame) -> DataFrame:
    """REAL decode path (netpbm images, PCM WAV audio) via Arrow-batched
    ``mapInPandas``.  Undecodable rows come back ``ok=false`` with the error
    message — scan-level error-skip semantics (north rule B3), never a
    task failure from one bad payload."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in DECODED_SCHEMA.fields}
            for mid, mtype, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["payload"]
            ):
                p = bytes(payload) if payload is not None else b""
                row = {"media_id": mid, "media_type": mtype, "n_bytes": len(p)}
                try:
                    row.update(_decode_one(mtype, p))
                    row.update(ok=True, err=None)
                except Exception as e:  # error-row skip, not task failure
                    row.update(
                        ok=False, err=f"{type(e).__name__}: {e}", phash=None,
                        width=None, height=None, duration_ms=None, feature=None,
                    )
                for k in out:
                    out[k].append(row[k])
            yield pd.DataFrame(out)

    return media.mapInPandas(decode, schema=DECODED_SCHEMA)


def media_near_dup_pairs(
    media: DataFrame, radius: int = 2, blocks: int = 4
) -> DataFrame:
    """Perceptual near-duplicate media pairs: real decode → 64-bit perceptual
    hash → the SAME skew-capped pigeonhole Hamming join used for text SimHash
    (operators/simhash.py — one distributed kernel, two modalities).

    Returns (media_id_a, media_id_b, hamming ≤ radius).  The default radius
    targets near-identical copies (brightness/gain edits, light noise);
    loosen it for crop/recompress-grade similarity.
    """
    from camden_spark.config import DedupConfig
    from camden_spark.operators.simhash import candidate_pairs_simhash

    cfg = DedupConfig(simhash_radius=radius, simhash_blocks=blocks)
    # no cache: the block join reads these rows once, so each payload is
    # decoded once
    sig = (
        decode_media_features(media)
        .filter(F.col("ok"))
        .select(
            F.lpad(F.col("media_id").cast("string"), 12, "0").alias("url"),
            F.col("phash").alias("simhash"),
        )
    )
    pairs, _metrics = candidate_pairs_simhash(sig, cfg)
    return pairs.select(
        F.col("url_a").cast("long").alias("media_id_a"),
        F.col("url_b").cast("long").alias("media_id_b"),
        "hamming",
    )


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic fake 'decoder': derives a FEATURE_DIM float vector from
    the payload digest.  Stands in for decode→resize→embed."""
    digest = hashlib.sha256(payload).digest()
    raw = np.frombuffer(digest[: FEATURE_DIM * 2], dtype=np.uint16)
    return (raw.astype(np.float32) / np.float32(65535.0))


def extract_media_features(media: DataFrame) -> DataFrame:
    """media table → per-item feature vectors via Arrow-batched mapInPandas.

    Partition by media_id hash upstream if payload sizes are skewed; batches
    arrive bounded by spark.sql.execution.arrow.maxRecordsPerBatch.
    """

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) if p is not None else b"" for p in pdf["payload"]]
            vecs = [_fake_decode(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pd.array(
                        [len(p) for p in payloads], dtype="int64"
                    ),
                    "payload_sha256": [
                        hashlib.sha256(p).hexdigest() for p in payloads
                    ],
                    "feature": vecs,
                }
            )

    return media.mapInPandas(feats, schema=FEATURE_SCHEMA)


def media_exact_dup_clusters(media: DataFrame) -> DataFrame:
    """Exact-dup clustering of media payloads — camden's checksum grouping
    applied to binary columns (sha2 over payload, builtin, no decode)."""
    from pyspark.sql import Window

    hashed = media.select(
        "media_id", F.sha2(F.col("payload"), 256).alias("checksum")
    )
    w = Window.partitionBy("checksum")
    wo = Window.partitionBy("checksum").orderBy("media_id")
    return hashed.select(
        "media_id",
        "checksum",
        F.count("*").over(w).cast("long").alias("cluster_size"),
        F.row_number().over(wo).cast("long").alias("rn"),
    )
