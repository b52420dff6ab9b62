"""Varbyte/delta codec round-trip (unit + property-based).

Mirrors the reference's golden-output transform testing discipline
(SURVEY §5) for our lowest-level primitive — the codec must be exact
for all 64-bit values or segments silently corrupt.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyf_aggregator_spark.index.codec import (
    decode_blocks,
    decode_postings,
    delta_decode,
    delta_encode,
    encode_postings,
    varbyte_decode,
    varbyte_encode,
)


def test_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0


def test_known_values():
    # 0 and 127 fit one byte; 128 needs two
    assert varbyte_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varbyte_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varbyte_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


def test_boundaries():
    vals = np.array(
        [0, 1, 127, 128, 16383, 16384, 2**32 - 1, 2**63, 2**64 - 1],
        dtype=np.uint64,
    )
    assert (varbyte_decode(varbyte_encode(vals)) == vals).all()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500)
)
def test_varbyte_roundtrip(xs):
    vals = np.array(xs, dtype=np.uint64)
    got = varbyte_decode(varbyte_encode(vals))
    assert (got == vals).all()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), max_size=300, unique=True
    )
)
def test_delta_roundtrip(xs):
    ids = np.sort(np.array(xs, dtype=np.uint64))
    assert (delta_decode(delta_encode(ids)) == ids).all()


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=1000),
        ),
        max_size=200,
    )
)
def test_postings_roundtrip(pairs):
    uniq = sorted({d for d, _ in pairs})
    docs = np.array(uniq, dtype=np.uint64)
    tf_by_doc = dict(pairs)
    tfs = np.array([tf_by_doc[d] for d in uniq], dtype=np.uint64)
    db, tb = encode_postings(docs, tfs)
    gd, gt = decode_postings(db, tb)
    assert (gd == docs).all() and (gt == tfs).all()


def _encode_blocks(blocks):
    """Per-block payloads the way the segment encoder writes them: each
    block's doc ids delta-encoded with its first id absolute."""
    n, docs_vb, tfs_vb, dls_vb = [], [], [], []
    for ids, tfs, dls in blocks:
        n.append(ids.size)
        d, t = encode_postings(ids, tfs)
        docs_vb.append(d)
        tfs_vb.append(t)
        dls_vb.append(varbyte_encode(dls))
    return n, docs_vb, tfs_vb, dls_vb


_block = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2**40),
        st.integers(min_value=1, max_value=1000),
        st.integers(min_value=0, max_value=2**20),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda p: p[0],
).map(
    lambda ps: tuple(
        np.array(col, dtype=np.uint64) for col in zip(*sorted(ps))
    )
)


@settings(max_examples=100, deadline=None)
@given(st.lists(_block, max_size=30))
def test_decode_blocks_equals_per_block_decode(blocks):
    n, docs_vb, tfs_vb, dls_vb = _encode_blocks(blocks)
    got = decode_blocks(n, docs_vb, tfs_vb, dls_vb)
    per_block = [
        decode_postings(d, t) + (varbyte_decode(l),)
        for d, t, l in zip(docs_vb, tfs_vb, dls_vb)
    ]
    for col in range(3):
        want = [b[col] for b in per_block] or [np.empty(0, dtype=np.uint64)]
        assert (got[col] == np.concatenate(want)).all()
    if blocks:
        assert (got[0] == np.concatenate([b[0] for b in blocks])).all()


def test_decode_blocks_empty_batch():
    for arr in decode_blocks(np.empty(0, dtype=np.int64), [], [], []):
        assert arr.size == 0 and arr.dtype == np.uint64


def test_decode_blocks_rejects_count_mismatch():
    ids = np.array([3, 9, 40], dtype=np.uint64)
    ones = np.ones(3, dtype=np.uint64)
    n, docs_vb, tfs_vb, dls_vb = _encode_blocks([(ids, ones, ones)])
    with pytest.raises(ValueError, match="declare 4 postings"):
        decode_blocks([4], docs_vb, tfs_vb, dls_vb)
    with pytest.raises(ValueError):
        decode_blocks(n, docs_vb, tfs_vb, [varbyte_encode(ones[:2])])
