"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs over
``mapInPandas``.

North-star extension (BASELINE.json). The decode path is REAL for two
cases — any pillow-supported format when pillow is installed (soft
import), and binary PPM (P6) via a built-in pure-numpy parser that needs
no media library at all — and raises ``NotImplementedError`` for
anything else (compressed formats without pillow). The deterministic
byte-histogram extractor remains as the lib-free plumbing validator.

Scale notes: binary payloads ride in parquet; ``maxPartitionBytes`` keeps
per-task batches bounded; metadata-only predicates (mime, width, bytes)
push down without touching payloads because they are separate columns.
Decode/resize/feature code runs inside Arrow-batched ``mapInPandas``
workers — per-asset numpy work, never driver-side.
"""

from __future__ import annotations

import io
from collections.abc import Iterator
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Contract for a multimodal asset table.
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("mime_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("mime_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload to an (H, W, 3) uint8 RGB array.

    Decoder ladder: pillow when importable (every format it supports),
    else the built-in binary-PPM (P6) parser (pure numpy — works in
    media-lib-free containers like this one), else
    ``NotImplementedError`` so callers can route undecodable assets to a
    quarantine column instead of failing the job."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty image payload")
    try:
        from PIL import Image  # soft dependency
    except ImportError:
        Image = None
    if Image is not None:
        try:
            with Image.open(io.BytesIO(payload)) as im:
                return np.asarray(im.convert("RGB"))
        except Exception:
            pass  # fall through to the built-in parser
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    raise NotImplementedError(
        "undecodable image format: pillow not installed and payload is "
        "not binary PPM (P6) — install pillow or inject a decoder"
    )


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6): ASCII header `P6 <w> <h> <maxval>` (with
    ``#``-comments) followed by one whitespace byte and raw RGB."""
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raster
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    raster = payload[pos : pos + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def encode_ppm(arr: np.ndarray) -> bytes:
    """Inverse of :func:`_decode_ppm` — deterministic test/fixture
    payloads without any media library."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        arr, dtype=np.uint8
    ).tobytes()


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize via integer index maps — pure numpy (the
    standard pre-embed normalization step; no interpolation library)."""
    h, w = arr.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return arr[rows][:, cols]


def image_feature_extractor(
    payload: bytes, grid: int = 2, resize_to: int = 16
) -> list[float]:
    """Real image features from a decoded payload: per-channel mean/std
    plus a ``grid``×``grid`` downsampled luminance map, all in [0, 1].
    Feature length = 6 + grid². Undecodable/empty payloads yield a zero
    vector (quarantine-friendly, mirrors fake_feature_extractor)."""
    dim = 6 + grid * grid
    try:
        img = decode_image(payload).astype(np.float64) / 255.0
    except (NotImplementedError, ValueError):
        return [0.0] * dim
    feats = list(img.mean(axis=(0, 1))) + list(img.std(axis=(0, 1)))
    lum = resize_nearest(img.mean(axis=2), resize_to, resize_to)
    cell = resize_to // grid
    for gy in range(grid):
        for gx in range(grid):
            feats.append(
                float(
                    lum[gy * cell : (gy + 1) * cell,
                        gx * cell : (gx + 1) * cell].mean()
                )
            )
    return [float(f) for f in feats]


def fake_feature_extractor(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a decode+embed step: byte-histogram
    moments. Lets the full Spark pipeline (schema, batching, joins
    downstream) be exercised without media libs."""
    if payload is None or len(payload) == 0:
        return [0.0] * dim
    buckets = [0] * dim
    for i, b in enumerate(payload):
        buckets[b % dim] += 1
    total = float(len(payload))
    return [b / total for b in buckets]


def extract_features(
    assets: DataFrame,
    extractor: Callable[[bytes], list[float]] = fake_feature_extractor,
) -> DataFrame:
    """mapInPandas feature extraction over binary payloads — the Arrow
    batch shape a real image/audio model UDF would use (payloads arrive
    as one pandas column per batch; output is a typed feature array)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "mime_type": pdf["mime_type"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: 0 if p is None else len(p)
                    ),
                    "feature": pdf["payload"].map(extractor),
                }
            )

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(
    assets: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling *plan*: one output row per planned frame
    timestamp (decode stubbed). Demonstrates the explode-by-metadata
    pattern — the expensive decode fans out AFTER partition-local
    planning, so parallelism follows frames, not files."""
    return assets.filter(F.col("duration_ms").isNotNull()).select(
        "asset_id",
        "mime_type",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


# ---------------------------------------------------------------- audio

def encode_wav(
    samples: np.ndarray, sample_rate: int = 16_000
) -> bytes:
    """Minimal RIFF/WAVE writer for PCM16 mono — the audio twin of
    :func:`encode_ppm` (a real, lib-free container so the decode path
    can be exercised end-to-end without soundfile/librosa)."""
    import struct

    pcm = np.asarray(samples, dtype="<i2")
    data = pcm.tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL PCM16 WAV decode, pure numpy/struct (RIFF chunk walk — no
    audio library): returns (int16 sample array, sample_rate). Raises
    ``NotImplementedError`` for compressed/non-PCM16 audio — the same
    contract as :func:`decode_image` for unsupported formats (callers
    quarantine, they don't guess)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid, clen = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise NotImplementedError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"only PCM16 supported (format={audio_format}, bits={bits})"
        )
    arr = np.frombuffer(data, dtype="<i2")
    if n_channels > 1:
        arr = arr.reshape(-1, n_channels)
    return arr, sample_rate


def audio_feature_extractor(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "asset_id",
) -> DataFrame:
    """Per-clip audio features over opaque WAV binaries — REAL decode
    (:func:`decode_wav`) inside Arrow-batched ``mapInPandas``; returns
    (id, decoded, n_samples, sample_rate, rms, peak, zero_crossings).
    Undecodable payloads quarantine as ``decoded=false`` zero rows
    (never dropped, never job-fatal — the image-path convention)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                id_col: [], "decoded": [], "n_samples": [],
                "sample_rate": [], "rms": [], "peak": [],
                "zero_crossings": [],
            }
            for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    arr, sr = decode_wav(bytes(payload))
                    mono = arr if arr.ndim == 1 else arr.mean(axis=1)
                    x = mono.astype(np.float64)
                    n = x.size
                    rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
                    peak = float(np.max(np.abs(x))) if n else 0.0
                    zc = (
                        int(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1])))
                        if n > 1 else 0
                    )
                    out[id_col].append(aid)
                    out["decoded"].append(True)
                    out["n_samples"].append(n)
                    out["sample_rate"].append(sr)
                    out["rms"].append(rms)
                    out["peak"].append(peak)
                    out["zero_crossings"].append(zc)
                except NotImplementedError:
                    out[id_col].append(aid)
                    out["decoded"].append(False)
                    out["n_samples"].append(0)
                    out["sample_rate"].append(0)
                    out["rms"].append(0.0)
                    out["peak"].append(0.0)
                    out["zero_crossings"].append(0)
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(
        run,
        schema=(
            f"{id_col} long, decoded boolean, n_samples long,"
            " sample_rate long, rms double, peak double,"
            " zero_crossings long"
        ),
    )


# ------------------------------------------------- images: perceptual hash

def ahash64(payload: bytes, hash_size: int = 8) -> int:
    """64-bit average hash (aHash) of an image payload — REAL decode
    (:func:`decode_image`), integer-exact by construction so external
    engines can replay it bit-for-bit:

    * gray(y, x) = r + g + b (integer sum — no float luminance weights);
    * the ``hash_size``² grid samples gray at ``(Y*h//hash_size,
      X*w//hash_size)`` (exactly :func:`resize_nearest`'s index map);
    * bit ``Y*hash_size+X`` is set iff ``sample * hash_size² >= Σ
      samples`` (cross-multiplied mean threshold — an integer compare,
      never a float mean).

    The returned value is wrapped to signed int64 (bit 63 is the sign
    bit) so it lands in a Spark/DuckDB BIGINT; XOR + bit_count are
    sign-agnostic, so Hamming math is unaffected. Raises like
    :func:`decode_image` for undecodable payloads — callers quarantine.
    """
    img = decode_image(payload)
    gray = img.astype(np.int64).sum(axis=2)
    h, w = gray.shape
    rows = (np.arange(hash_size) * h) // hash_size
    cols = (np.arange(hash_size) * w) // hash_size
    s = gray[rows][:, cols]
    total = int(s.sum())
    n = hash_size * hash_size
    bits = (s.astype(np.int64) * n >= total).flatten()
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def image_ahash(
    assets: DataFrame,
    payload_col: str = "payload",
    id_col: str = "asset_id",
    hash_size: int = 8,
) -> DataFrame:
    """Per-image 64-bit perceptual hash over opaque binary payloads —
    Arrow-batched ``mapInPandas`` (Python is genuinely required: image
    decode has no Spark builtin), returning (id, decoded, ahash).
    Undecodable payloads quarantine as ``decoded=false`` with NULL hash
    (never dropped, never job-fatal — the decode-path convention).

    At 100 TB this is the map side of image near-dup: one pass over the
    payloads emits an 8-byte signature per image; everything downstream
    (banded Hamming join, connected components, survivor election)
    operates on signatures only and never touches pixels again."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ok, hs = [], [], []
            for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                ids.append(aid)
                try:
                    hs.append(ahash64(bytes(payload), hash_size))
                    ok.append(True)
                except (NotImplementedError, ValueError):
                    hs.append(None)
                    ok.append(False)
            yield pd.DataFrame(
                {id_col: ids, "decoded": ok, "ahash": pd.array(hs, dtype="Int64")}
            )

    return assets.select(id_col, payload_col).mapInPandas(
        run, schema=f"{id_col} long, decoded boolean, ahash long"
    )


def ahash_near_duplicates(
    hashed: DataFrame,
    id_col: str = "asset_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = 10_000,
    salt_buckets: int | None = None,
) -> DataFrame:
    """All image pairs within aHash Hamming distance ≤ ``max_hamming``
    — EXACT below the bucket cap via the shared pigeonhole chunk-join
    (operators/dedup.py ``hamming_near_duplicates``): one equi-join on
    (chunk_idx, chunk_value), never all-pairs. Input is
    :func:`image_ahash` output; undecoded rows are excluded (NULL
    hashes cannot be near anything). Returns (id_a, id_b, hamming).

    OUTPUT-BOUND at scale: the banded Hamming join is bucket-capped,
    but emitting every qualifying pair costs what the pair count
    costs — near-dup-rich image corpora produce quadratic-in-cluster
    output (112x wall on 10x data with ~100x the TRUE pairs in the
    sf0.1-to-sf1 probe record of commit 518122b; wall tracks output,
    not compute; re-measure with the sf1 bench.py run and
    scripts/bench_diff.py). At production scale aggregate the pairs
    (connected components / keep-one-per-cluster) instead of
    materializing them."""
    from mhm_data_pipelines_spark.operators.dedup import (
        hamming_near_duplicates,
    )

    sigs = hashed.filter(F.col("ahash").isNotNull()).select(id_col, "ahash")
    return hamming_near_duplicates(
        sigs,
        id_col=id_col,
        hash_col="ahash",
        max_hamming=max_hamming,
        bits=64,
        max_bucket_size=max_bucket_size,
        # Perceptual hashes of near-dup-rich corpora concentrate on few
        # distinct values — pass salt_buckets to parallelize the
        # in-bucket pair fan-out (see hamming_near_duplicates).
        salt_buckets=salt_buckets,
    )
