"""Image payload codec + fidelity invariants (BASELINE.json:16)."""

from __future__ import annotations

import numpy as np
import pytest

from simplepolygon_spark.operators.payload import validate_payload
from simplepolygon_spark.sources.images import (
    decode_image,
    encode_image,
    images_df,
    meta_of,
    pixels_of,
    psnr,
    rle_decode,
    rle_encode,
)


def test_rle_roundtrip():
    rng = np.random.default_rng(5)
    for data in (
        rng.integers(0, 256, 1000, np.uint8),
        np.zeros(700, np.uint8),
        np.array([7] * 600 + [8], np.uint8),
        np.array([], np.uint8),
    ):
        assert np.array_equal(rle_decode(rle_encode(data)), data)


@pytest.mark.parametrize("i", [1, 2, 3, 17, 1001])
def test_codec_lossless_psnr_inf(i):
    data, w, h, fmt = encode_image(i)
    assert fmt in ("raw", "rle")
    px = decode_image(data, fmt)
    orig = pixels_of(i, w, h)
    assert np.array_equal(px, orig)
    assert psnr(px, orig) == float("inf")


@pytest.mark.parametrize("i", [0, 5, 20, 1000])
def test_codec_lossy_qnt_psnr_finite_above_gate(i):
    """Every 5th image uses the lossy 2-bit-quantized codec: decoded
    pixels differ from the original but PSNR stays above the 40 dB
    gate (≈42.7 dB for uniform 0..3 error) — the gate is exercised
    with finite values, not just the lossless +inf fast path."""
    data, w, h, fmt = encode_image(i)
    assert fmt == "qnt"
    px = decode_image(data, fmt)
    orig = pixels_of(i, w, h)
    assert not np.array_equal(px, orig)
    p = psnr(px, orig)
    assert 40.0 <= p < 50.0


def test_psnr_gate_rejects_heavy_quantization():
    """4-bit quantization (~34.9 dB) must FAIL the ≥40 dB gate — the
    gate is a real discriminator, not a tautology."""
    from simplepolygon_spark.sources.images import quantize

    orig = pixels_of(42, 32, 24)
    bad = quantize(orig, bits=4)
    p = psnr(bad, orig)
    assert p < 40.0


def test_unknown_format_raises():
    data, w, h, _ = encode_image(4)
    with pytest.raises(NotImplementedError):
        decode_image(data, "jpeg")


def test_skew_knob_relocates_hot_rows():
    metas = [meta_of(i) for i in range(2000)]
    hot = [m for m in metas if 129.9 < m["lon"] < 130.2 and -25.2 < m["lat"] < -24.8]
    # ~10% land in the hot cell
    assert 100 < len(hot) < 400


def test_unskewed_lon_lat_are_uncorrelated():
    # lon and lat come from independent sequences: the points fill the
    # box instead of lying on one line
    metas = [meta_of(i, skew=False) for i in range(1, 2001)]
    lon = np.array([m["lon"] for m in metas])
    lat = np.array([m["lat"] for m in metas])
    assert abs(np.corrcoef(lon, lat)[0, 1]) < 0.1


def test_images_df_and_validate_payload(spark):
    df = images_df(spark, 300, partitions=4)
    res = validate_payload(df).collect()
    assert len(res) == 300
    assert all(r.psnr_db >= 40.0 for r in res)  # lossless → 1e9 sentinel
    assert all(r.caption_ok for r in res)


def test_validate_reports_corrupt_rows_instead_of_failing(spark):
    """One NULL/truncated payload must yield a (NaN, False) verdict row,
    not kill the validation job."""
    import math

    from simplepolygon_spark.operators.payload import validate_payload
    from simplepolygon_spark.sources.images import encode_image

    import hashlib as hl

    def row(i, data):
        iid = f"img{i:09d}"
        digest = hl.blake2b(iid.encode()).digest()
        cap = f"synthetic image {i} :: {digest[:12].hex()}"
        return (iid, data, "raw", cap)

    good_bytes, w, h, fmt = encode_image(1)
    rows = [
        (f"img{1:09d}", good_bytes, fmt,
         f"synthetic image 1 :: {hl.blake2b(b'img000000001').digest()[:12].hex()}"),
        row(2, None),                 # NULL bytes
        row(3, b"SPIMgarbage"),       # truncated container
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, caption string"
    )
    got = {r.image_id: r for r in validate_payload(df).collect()}
    assert len(got) == 3
    assert got["img000000001"].psnr_db > 40 and got["img000000001"].caption_ok
    for bad in ("img000000002", "img000000003"):
        assert math.isnan(got[bad].psnr_db) and not got[bad].caption_ok
