"""Delta + varbyte posting-list codec (numpy-vectorized).

The storage tier of the inverted index (north rule): per-term posting
lists are sorted by doc_id, doc-id gaps are varbyte-encoded, tfs are
varbyte-encoded, impacts ride as raw little-endian float64 (they don't
compress well and queries need them exact).  Encode/decode run inside
Arrow-batched pandas UDFs — both directions are O(10) vectorized numpy
passes, no per-value Python loops.

Layout (little-endian):
    uint32 n_postings
    uint32 len(doc_gap_section)   varbyte(delta doc_ids, first absolute)
    uint32 len(tf_section)        varbyte(tf)
    <doc_gap_section> <tf_section> <n_postings · float64 impacts>

This is purely an I/O format — Catalyst never consults it; the query
path's default input is the *flat* parquet postings whose columnar
encodings (dictionary/RLE + zstd) Catalyst can push filters into.
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_VARBYTE_LEN = 10  # 64 bits / 7


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte: low-7-bits-per-byte, MSB set = continuation."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    n = len(v)
    # bytes needed per value: position of highest set bit / 7 + 1
    nbits = np.zeros(n, dtype=np.int64)
    tmp = v.copy()
    for _ in range(_MAX_VARBYTE_LEN):
        nbits = np.where(tmp > 0, nbits + 1, nbits)
        tmp >>= np.uint64(7)
    nbytes = np.maximum(nbits, 1)
    mat = np.zeros((n, _MAX_VARBYTE_LEN), dtype=np.uint8)
    cur = v.copy()
    for i in range(_MAX_VARBYTE_LEN):
        mat[:, i] = (cur & np.uint64(0x7F)).astype(np.uint8)
        cur >>= np.uint64(7)
    cols = np.arange(_MAX_VARBYTE_LEN)
    valid = cols[None, :] < nbytes[:, None]
    not_last = cols[None, :] < (nbytes - 1)[:, None]
    mat[not_last] |= 0x80
    return mat[valid].tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized varbyte decode (terminators are bytes with MSB clear)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.nonzero((b & 0x80) == 0)[0]
    starts = np.concatenate([[0], ends[:-1] + 1])
    vals = np.zeros(len(ends), dtype=np.uint64)
    for i in range(_MAX_VARBYTE_LEN):
        pos = starts + i
        ok = pos <= ends
        if not ok.any():
            break
        vals[ok] |= (b[pos[ok]] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * i)
    return vals


def encode_posting_list(doc_ids: np.ndarray, tfs: np.ndarray, impacts: np.ndarray) -> bytes:
    """Encode one term's postings; ``doc_ids`` must be sorted ascending."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    n = len(doc_ids)
    if n == 0:
        return struct.pack("<III", 0, 0, 0)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = np.uint64(doc_ids[0])
    gaps[1:] = np.diff(doc_ids).astype(np.uint64)
    gap_sec = varbyte_encode(gaps)
    tf_sec = varbyte_encode(np.asarray(tfs, dtype=np.uint64))
    imp_sec = np.asarray(impacts, dtype="<f8").tobytes()
    return struct.pack("<III", n, len(gap_sec), len(tf_sec)) + gap_sec + tf_sec + imp_sec


def decode_posting_list(buf: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_posting_list`."""
    n, gap_len, tf_len = struct.unpack_from("<III", buf, 0)
    if n == 0:
        return (
            np.zeros(0, dtype=np.int64),
            np.zeros(0, dtype=np.int64),
            np.zeros(0, dtype=np.float64),
        )
    off = 12
    gaps = varbyte_decode(buf[off : off + gap_len])
    off += gap_len
    tfs = varbyte_decode(buf[off : off + tf_len]).astype(np.int64)
    off += tf_len
    impacts = np.frombuffer(buf, dtype="<f8", count=n, offset=off).copy()
    doc_ids = np.cumsum(gaps.astype(np.int64))
    return doc_ids, tfs, impacts

