"""Posting-list codec round-trips."""

from __future__ import annotations

import numpy as np

from bayesian_bm25_spark.kernel.postings_codec import (
    decode_posting_list,
    encode_posting_list,
    varbyte_decode,
    varbyte_encode,
)


def test_varbyte_roundtrip_small_and_large():
    vals = np.array([0, 1, 127, 128, 300, 16383, 16384, 2**31, 2**63 - 1], dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(vals)), vals)


def test_varbyte_roundtrip_random():
    rng = np.random.default_rng(42)
    vals = rng.integers(0, 2**40, 10000).astype(np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(vals)), vals)


def test_varbyte_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert len(varbyte_decode(b"")) == 0


def test_posting_list_roundtrip():
    rng = np.random.default_rng(7)
    doc_ids = np.sort(rng.choice(10**9, 5000, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, 5000)
    impacts = rng.uniform(0, 12, 5000)
    buf = encode_posting_list(doc_ids, tfs, impacts)
    d, t, i = decode_posting_list(buf)
    assert np.array_equal(d, doc_ids)
    assert np.array_equal(t, tfs)
    np.testing.assert_array_equal(i, impacts)  # impacts are bit-exact raw f8


def test_posting_list_compresses_dense_ids():
    doc_ids = np.arange(100000, dtype=np.int64)
    tfs = np.ones(100000, dtype=np.int64)
    impacts = np.zeros(100000)
    buf = encode_posting_list(doc_ids, tfs, impacts)
    # gaps of 1 → 1 byte each; tf 1 → 1 byte each; impacts 8 bytes each
    assert len(buf) < 100000 * 11


def test_empty_posting_list():
    buf = encode_posting_list(np.array([], dtype=np.int64), np.array([]), np.array([]))
    d, t, i = decode_posting_list(buf)
    assert len(d) == len(t) == len(i) == 0

