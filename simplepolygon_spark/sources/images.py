"""Deterministic image+caption table — the Iceberg-shaped payload source.

Schema exactly per BASELINE.json:15 / FIXTURES.md §2:
  (image_id string, bytes binary, w int, h int, fmt string,
   caption string, phash bigint)
plus the geo columns the spatial join consumes (lon, lat, and the
±0.05° tile bounds).  The 10^12-row table is *simulated* at small scale
(input hint): schema and code paths are identical at any N; generation
is distributed (spark.range → mapInArrow), seeded, and external-data
free.

Codec (SPIM): 12-byte header = magic b'SPIM' + w:int32le + h:int32le,
then the RGB24 payload raw ('raw'), lossless byte-RLE ('rle': repeated
(count:uint8, value:uint8) pairs), or LOSSY 2-bit-quantized ('qnt',
every 5th image) at ~42.7 dB — so the ≥40 dB PSNR gate of
BASELINE.json:16 is exercised with finite values, not just the
lossless PSNR=+inf fast path.  Decode is pure numpy; jpeg/png remain
explicit NotImplementedError stubs (no codecs in this sandbox).

The skew knob (FIXTURES.md §2): rows with phash % 100 < 10 relocate
into one fixed hot cell near (130.0, -25.0) — exercising salted
repartitioning in the join layer.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..geom import arrow_to_numpy, numpy_to_arrow

MAGIC = b"SPIM"
_WIDTHS = (16, 32, 64)
_HEIGHTS = (16, 24, 48)
_FMTS = ("raw", "rle", "qnt")
# lat steps by 1/g**2 (g the plastic number), not 1 - _PHI: that gives
# frac(i*_PSI) = 1 - frac(i*_PHI), which puts every point on one line
_PHI = 0.6180339887498949
_PSI = 0.5698402909980532

IMAGES_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("caption", StringType()),
        StructField("phash", LongType()),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
        StructField("lon_min", DoubleType()),
        StructField("lat_min", DoubleType()),
        StructField("lon_max", DoubleType()),
        StructField("lat_max", DoubleType()),
    ]
)


def rle_encode(buf: np.ndarray) -> bytes:
    """Lossless byte RLE: (count uint8 in 1..255, value uint8) pairs."""
    b = np.ascontiguousarray(buf.ravel())
    if len(b) == 0:
        return b""
    change = np.nonzero(np.diff(b))[0] + 1
    starts = np.concatenate([[0], change])
    ends = np.concatenate([change, [len(b)]])
    runs = ends - starts
    vals = b[starts]
    # split runs > 255 into pieces, fully vectorized
    n255 = runs // 255
    rem = runs % 255
    pieces = n255 + (rem > 0)
    counts = np.full(int(pieces.sum()), 255, dtype=np.uint8)
    last = np.cumsum(pieces) - 1
    has_rem = rem > 0
    counts[last[has_rem]] = rem[has_rem]
    vals_out = np.repeat(vals, pieces)
    out = np.empty(2 * len(counts), dtype=np.uint8)
    out[0::2] = counts
    out[1::2] = vals_out
    return out.tobytes()


def rle_decode(data: bytes) -> np.ndarray:
    a = np.frombuffer(data, dtype=np.uint8)
    return np.repeat(a[1::2], a[0::2])


def pixels_of(i: int, w: int, h: int) -> np.ndarray:
    rng = np.random.default_rng(1_000_003 + i)
    return rng.integers(0, 256, (h, w, 3), np.uint8)


def quantize(px: np.ndarray, bits: int = 2) -> np.ndarray:
    """Lossy per-channel quantization: drop the low ``bits`` bits.
    At bits=2 the error is uniform in 0..3 (MSE 3.5, PSNR ~42.7 dB) —
    above the 40 dB gate but finite, so the gate is exercised away from
    the lossless PSNR=inf fast path."""
    # mask to 8 bits BEFORE the uint8 cast: np.uint8(0xFF << bits) is an
    # out-of-range Python-int conversion (DeprecationWarning today, a
    # hard error in future numpy)
    return px & np.uint8((0xFF << bits) & 0xFF)


def image_shape_fmt(i: int) -> tuple[int, int, str]:
    """(w, h, fmt) schedule — the ONE definition, shared by the
    bytes-encoding and metadata-only paths so they can never disagree."""
    return _WIDTHS[i % 3], _HEIGHTS[i % 3], (_FMTS[i % 2] if i % 5 else "qnt")


def encode_image(i: int) -> tuple:
    w, h, fmt = image_shape_fmt(i)
    px = pixels_of(i, w, h)
    header = MAGIC + np.int32(w).tobytes() + np.int32(h).tobytes()
    if fmt == "raw":
        payload = px.tobytes()
    elif fmt == "rle":
        payload = rle_encode(px)
    else:  # qnt: lossy 2-bit quantization, stored raw
        payload = quantize(px).tobytes()
    return header + payload, w, h, fmt


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    """SPIM decode → (h, w, 3) uint8. Unknown formats raise — the
    sandbox has no jpeg/png codecs, so lossy formats are explicitly
    unsupported rather than faked."""
    if data[:4] != MAGIC:
        raise ValueError("bad SPIM magic")
    w = int(np.frombuffer(data[4:8], np.int32)[0])
    h = int(np.frombuffer(data[8:12], np.int32)[0])
    payload = data[12:]
    if fmt in ("raw", "qnt"):  # qnt quantizes at encode; payload is raw bytes
        px = np.frombuffer(payload, np.uint8)
    elif fmt == "rle":
        px = rle_decode(payload)
    else:
        raise NotImplementedError(f"fmt={fmt!r}: no codec in this environment")
    return px.reshape(h, w, 3)


def meta_of(i: int, skew: bool = True) -> dict:
    image_id = f"img{i:09d}"
    digest = hashlib.blake2b(image_id.encode()).digest()
    phash = int(np.frombuffer(digest[:8], np.int64)[0])
    caption = f"synthetic image {i} :: {digest[:12].hex()}"
    lon = ((i * _PHI) % 1.0) * 360.0 - 180.0
    lat = ((i * _PSI) % 1.0) * 170.0 - 85.0
    if skew and phash % 100 < 10:  # skew knob: hot cell
        lon = 130.0 + (i % 97) * 1e-4
        lat = -25.0 + (i % 89) * 1e-4
    return {
        "image_id": image_id,
        "phash": phash,
        "caption": caption,
        "lon": lon,
        "lat": lat,
    }


def images_df(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    with_bytes: bool = True,
    skew: bool = True,
) -> DataFrame:
    """Distributed deterministic generation of N images.

    ``skew=False`` disables the hot-cell relocation (whose trigger is a
    blake2b-derived phash, not SQL-expressible) so lon/lat become pure
    Kronecker-sequence arithmetic of the row index — the form the DuckDB
    correctness oracle recomputes.  Benchmarks and skew tests keep the
    default."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)

    fields = IMAGES_SCHEMA
    arrow_schema = pa.schema(
        [
            pa.field("image_id", pa.string()),
            pa.field("bytes", pa.binary()),
            pa.field("w", pa.int32()),
            pa.field("h", pa.int32()),
            pa.field("fmt", pa.string()),
            pa.field("caption", pa.string()),
            pa.field("phash", pa.int64()),
            pa.field("lon", pa.float64()),
            pa.field("lat", pa.float64()),
            pa.field("lon_min", pa.float64()),
            pa.field("lat_min", pa.float64()),
            pa.field("lon_max", pa.float64()),
            pa.field("lat_max", pa.float64()),
        ]
    )

    def gen(batches):
        for batch in batches:
            idx = arrow_to_numpy(batch.column("id"), np.int64)
            cols: dict[str, list] = {k: [] for k in arrow_schema.names}
            for i in idx:
                i = int(i)
                m = meta_of(i, skew=skew)
                if with_bytes:
                    data, w, h, fmt = encode_image(i)
                else:
                    data = b""
                    w, h, fmt = image_shape_fmt(i)
                cols["image_id"].append(m["image_id"])
                cols["bytes"].append(data)
                cols["w"].append(w)
                cols["h"].append(h)
                cols["fmt"].append(fmt)
                cols["caption"].append(m["caption"])
                cols["phash"].append(m["phash"])
                cols["lon"].append(m["lon"])
                cols["lat"].append(m["lat"])
                cols["lon_min"].append(m["lon"] - 0.05)
                cols["lat_min"].append(m["lat"] - 0.05)
                cols["lon_max"].append(m["lon"] + 0.05)
                cols["lat_max"].append(m["lat"] + 0.05)
            yield pa.RecordBatch.from_arrays(
                [numpy_to_arrow(cols[f.name], f.type) for f in arrow_schema],
                schema=arrow_schema,
            )

    return spark.range(0, n, 1, partitions).mapInArrow(gen, fields)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; +inf for identical images.

    uint8 inputs run the integer path: int16 diff + int32 square +
    int64 sum — exact (sum of squares < 2^53 for any realistic image)
    and ~4x less memory traffic than the float64 temporaries, which
    matters because PSNR runs inside the fused per-image scan."""
    a = np.asarray(a)
    b = np.asarray(b)
    if a.dtype == np.uint8 and b.dtype == np.uint8 and a.shape == b.shape:
        d = a.astype(np.int16) - b.astype(np.int16)
        mse = float(np.square(d, dtype=np.int32).sum(dtype=np.int64)) / a.size
    else:
        mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 20.0 * np.log10(255.0 / np.sqrt(mse))
