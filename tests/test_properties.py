"""Hypothesis property tests: codec round-trip, transform bounds
and monotonicity, fusion algebra identities.  Pure-numpy kernels — no
Spark session, so these run in seconds and fuzz a much wider input space
than the golden fixtures."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from bayesian_bm25_spark.kernel.combine import log_odds_conjunction, prob_and, prob_or
from bayesian_bm25_spark.kernel.postings_codec import (
    decode_posting_list,
    encode_posting_list,
)
from bayesian_bm25_spark.kernel.transform import TransformParams, clamp01, logit, sigmoid


@st.composite
def posting_list(draw, max_len=200):
    n = draw(st.integers(min_value=1, max_value=max_len))
    gaps = draw(
        st.lists(st.integers(min_value=1, max_value=10_000), min_size=n, max_size=n)
    )
    doc_ids = np.cumsum(np.array(gaps, dtype=np.int64)) - 1
    tfs = np.array(
        draw(st.lists(st.integers(min_value=1, max_value=1000), min_size=n, max_size=n)),
        dtype=np.int64,
    )
    impacts = np.array(
        draw(
            st.lists(
                st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
                min_size=n,
                max_size=n,
            )
        ),
        dtype=np.float64,
    )
    return doc_ids, tfs, impacts


@settings(max_examples=50, deadline=None)
@given(posting_list())
def test_codec_roundtrip_identity(pl):
    doc_ids, tfs, impacts = pl
    d, t, i = decode_posting_list(encode_posting_list(doc_ids, tfs, impacts))
    np.testing.assert_array_equal(d, doc_ids)
    np.testing.assert_array_equal(t, tfs)
    # impacts are stored as float32 impact-quantized or full floats —
    # whatever the codec stores, decode must be deterministic and ordered
    d2, t2, i2 = decode_posting_list(encode_posting_list(doc_ids, tfs, impacts))
    np.testing.assert_array_equal(i, i2)


@settings(max_examples=100, deadline=None)
@given(
    st.floats(min_value=-30, max_value=30, allow_nan=False),
    st.floats(min_value=-30, max_value=30, allow_nan=False),
)
def test_sigmoid_logit_inverse_and_bounds(x, y):
    # |x| ≤ 30 keeps sigmoid strictly inside (0, 1) in float64; beyond
    # ~36.7 it rounds to exactly 1.0 and clamp01 takes over
    p = sigmoid(np.array([x, y]))
    assert np.all(p > 0) and np.all(p < 1)
    # logit∘sigmoid == identity within clamp range
    back = logit(clamp01(p))
    np.testing.assert_allclose(back, np.clip([x, y], logit(1e-10), logit(1 - 1e-10)), rtol=1e-6, atol=1e-6)


@settings(max_examples=100, deadline=None)
@given(
    st.floats(min_value=0.0, max_value=60.0, allow_nan=False),
    st.floats(min_value=0.0, max_value=60.0, allow_nan=False),
    st.integers(min_value=0, max_value=12),
    st.floats(min_value=0.05, max_value=3.0, allow_nan=False),
)
def test_score_to_probability_monotone_in_score(s1, s2, tf, ratio):
    params = TransformParams(alpha=1.3, beta=4.0, base_rate=0.05)
    p1 = float(params.score_to_probability(np.array([s1]), np.array([tf]), np.array([ratio]))[0])
    p2 = float(params.score_to_probability(np.array([s2]), np.array([tf]), np.array([ratio]))[0])
    assert 0.0 < p1 < 1.0 and 0.0 < p2 < 1.0
    if s1 < s2:
        assert p1 <= p2 + 1e-12
    elif s2 < s1:
        assert p2 <= p1 + 1e-12


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.floats(min_value=1e-6, max_value=1 - 1e-6, allow_nan=False),
        min_size=2,
        max_size=6,
    )
)
def test_fusion_algebra_bounds_and_order(probs):
    arr = np.array(probs, dtype=np.float64)
    a = float(prob_and(arr))
    o = float(prob_or(arr))
    c = float(log_odds_conjunction(arr))
    # AND ≤ min ≤ max ≤ OR.  prob_or can round to exactly 1.0 in float64
    # (1 − 1e-60 == 1.0) — that is the kernel's defined behavior, so the
    # upper bound here is inclusive.
    assert 0.0 < a <= float(np.min(clamp01(arr))) + 1e-12
    assert float(np.max(clamp01(arr))) - 1e-12 <= o <= 1.0
    assert 0.0 < c < 1.0


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.floats(0.02, 0.4), min_size=3, max_size=20),
    st.lists(st.floats(0.75, 1.15), min_size=2, max_size=12),
    st.sampled_from(["kde", "gmm", "auto"]),
)
def test_vector_calibrate_separates_across_gap(close, far, method):
    """Under binary gap weights, calibrated probability must respect the
    detected semantic gap: every signal-side point (w=1, below the gap
    threshold) outranks every background-side point (w=0).  GMM can be
    locally non-monotone WITHIN a mode (density bumps) — the invariant
    the pipeline relies on is the cross-gap ordering, plus the clamp
    bounds."""
    from bayesian_bm25_spark.kernel.vector_calibrate import (
        VectorProbabilityTransform,
        gap_weights,
    )

    d = np.sort(np.array(close + far, dtype=np.float64))
    w = gap_weights(d)
    if w is None or w.sum() == 0 or w.sum() == len(d):
        return  # no detectable gap in this draw — property is vacuous
    # the invariant is about the DETECTED gap: it must be the
    # constructed inter-cluster gap (detect_gap may legitimately pick a
    # larger gap INSIDE a spread-out far cluster — then a stray signal
    # point near mu_G can score below a background outlier, and the
    # cross-cluster claim doesn't apply)
    if not np.array_equal(w, (d < min(far)).astype(np.float64)):
        return
    t = VectorProbabilityTransform(mu_G=0.8, sigma_G=0.2, base_rate=0.05)
    p = t.calibrate(d, weights=w, method=method)
    assert np.all(p >= 1e-10 - 1e-18) and np.all(p <= 1.0 - 1e-10 + 1e-18)
    assert p[w == 1.0].min() >= p[w == 0.0].max() - 1e-12
