"""Property-based invariants for the round-3 kernels (hypothesis):
batch minhash == per-doc reference on arbitrary unicode, banding
helpers' knee guarantees."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from simplepolygon_spark.operators.dedup import (
    _MERSENNE,
    _batch_minhash,
    _shingle_hashes,
    bands_for_threshold,
    srp_bands_for_threshold,
)

_rng = np.random.default_rng(7)
A16 = _rng.integers(1, _MERSENNE, 16, dtype=np.uint64)
B16 = _rng.integers(0, _MERSENNE, 16, dtype=np.uint64)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(max_size=120), min_size=1, max_size=12))
def test_batch_minhash_equals_reference_on_arbitrary_unicode(texts):
    got = _batch_minhash(texts, A16, B16, 5)
    for j, t in enumerate(texts):
        sh = _shingle_hashes(t, 5)
        with np.errstate(over="ignore"):
            ref = (
                (A16[:, None] * sh[None, :] + B16[:, None]) % np.uint64(_MERSENNE)
            ).min(axis=1)
        assert (got[:, j] == ref).all()


@settings(max_examples=100, deadline=None)
@given(
    st.sampled_from([16, 32, 64, 128]),
    st.floats(min_value=0.02, max_value=1.0),
)
def test_bands_for_threshold_invariants(num_hashes, threshold):
    b = bands_for_threshold(num_hashes, threshold)
    assert num_hashes % b == 0
    knee = (1.0 / b) ** (b / num_hashes)
    # recall-safe: the chosen banding's knee never exceeds the threshold
    # (unless even the most aggressive banding can't get under it)
    if b < num_hashes:
        assert knee <= threshold
    # minimal: the next-coarser valid banding would overshoot
    coarser = [c for c in range(1, b) if num_hashes % c == 0]
    for c in coarser:
        assert (1.0 / c) ** (c / num_hashes) > threshold


@settings(max_examples=100, deadline=None)
@given(st.floats(min_value=-1.0, max_value=1.0))
def test_srp_bands_threshold_total(c):
    b = srp_bands_for_threshold(64, c)
    assert 64 % b == 0  # always a valid banding, for any cosine input
