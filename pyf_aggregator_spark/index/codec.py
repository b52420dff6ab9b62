"""Vectorized varbyte + delta codec for posting lists (pure numpy).

The compressed wire format of our segment files (SURVEY §4.3): docIDs
are delta-encoded (first value absolute) then varbyte-compressed;
term frequencies and doc lengths varbyte-compressed directly.

Varbyte: little-endian 7-bit groups, high bit = continuation (set on
every byte except the last of a value) — the classic format
(Manning/Raghavan/Schütze IR book §5.3; same scheme Lucene calls VInt).

Segment blocks: a block row carries ``n`` postings as three payloads
(``docs_vb``, ``tfs_vb``, ``dls_vb``), and every block RESTARTS the doc
delta chain — its first doc id is stored absolute, not as a gap from the
previous block, so any block decodes alone. ``decode_blocks`` decodes a
whole batch of block rows at once: one ``varbyte_decode`` per joined
payload column, then one delta cumsum re-based at each block start
(``cumsum(n)``). Readers decode a batch of rows in one call rather than
looping over rows; a batch whose ``Σn`` disagrees with the decoded
lengths raises ``ValueError``.

Everything is numpy array ops — no per-value Python loops; the only
Python-level loop is over the ≤10 byte positions of a 64-bit value.
"""

from __future__ import annotations

import numpy as np

_MAX_VBYTES = 10  # ceil(64/7)


def varbyte_encode_with_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """uint64 array → (varbyte bytes, per-value start offsets incl. end).

    The offsets let a caller slice the encoding of any value range —
    the segment builder encodes a whole partition in ONE pass and cuts
    block payloads as byte slices (varbyte is self-delimiting, so the
    concatenation of per-value encodings equals the whole encoding)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(1, dtype=np.int64)
    # bytes needed per value: 1 + floor(bitlen/7) for bitlen>0
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += tmp > 0
        tmp >>= np.uint64(7)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(offsets[-1], dtype=np.uint8)
    for j in range(_MAX_VBYTES):
        mask = nbytes > j
        if not mask.any():
            break
        idx = offsets[:-1][mask] + j
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = ((nbytes[mask] - 1 > j).astype(np.uint8)) << 7
        out[idx] = chunk.astype(np.uint8) | cont
    return out.tobytes(), offsets


def varbyte_encode(values: np.ndarray) -> bytes:
    """uint64 array → varbyte bytes."""
    return varbyte_encode_with_offsets(values)[0]


def varbyte_decode(buf: bytes) -> np.ndarray:
    """varbyte bytes → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    n_values = int(is_last.sum())
    # which value each byte belongs to: 0-based running count of
    # completed values before this byte
    value_idx = np.zeros(b.size, dtype=np.int64)
    np.cumsum(is_last[:-1], out=value_idx[1:])
    # byte position within its value
    starts = np.zeros(n_values, dtype=np.int64)
    ends = np.flatnonzero(is_last)
    starts[1:] = ends[:-1] + 1
    pos = np.arange(b.size, dtype=np.int64) - starts[value_idx]
    values = np.zeros(n_values, dtype=np.uint64)
    np.bitwise_or.at(
        values,
        value_idx,
        (b & np.uint8(0x7F)).astype(np.uint64) << (7 * pos).astype(np.uint64),
    )
    return values


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """strictly-increasing uint64 ids → [first, gaps...]."""
    ids = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if ids.size == 0:
        return ids
    out = np.empty_like(ids)
    out[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    d = np.ascontiguousarray(deltas, dtype=np.uint64)
    return np.cumsum(d, dtype=np.uint64)


def encode_postings(doc_ids: np.ndarray, counts: np.ndarray) -> tuple[bytes, bytes]:
    """(sorted doc_ids, parallel uint counts) → (docs_vb, counts_vb)."""
    return (
        varbyte_encode(delta_encode(doc_ids)),
        varbyte_encode(counts),
    )


def decode_postings(docs_vb: bytes, counts_vb: bytes) -> tuple[np.ndarray, np.ndarray]:
    return (
        delta_decode(varbyte_decode(docs_vb)),
        varbyte_decode(counts_vb),
    )


def decode_blocks(
    n, docs_vb, tfs_vb, dls_vb
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A batch of segment block rows → flat (doc_ids, tfs, dls) uint64
    arrays, block after block in input order.

    ``n`` is the per-block posting count; the payload arguments are
    sequences of per-block bytes. Each block restarts absolute (see the
    module docstring), so the doc-id cumsum runs over the whole batch
    and is re-based at every block start; uint64 arithmetic wraps
    modulo 2**64, which keeps the re-basing exact. Raises ValueError
    when Σn disagrees with the decoded length of any column."""
    n = np.asarray(n, dtype=np.int64)
    deltas = varbyte_decode(b"".join(docs_vb))
    tfs = varbyte_decode(b"".join(tfs_vb))
    dls = varbyte_decode(b"".join(dls_vb))
    total = int(n.sum())
    if not deltas.size == tfs.size == dls.size == total:
        raise ValueError(
            f"decode_blocks: blocks declare {total} postings, payloads "
            f"decode to {deltas.size}/{tfs.size}/{dls.size} (docs/tfs/dls)"
        )
    run = np.cumsum(deltas, dtype=np.uint64)
    # running sum just before each block start; subtracting it makes the
    # block's first (absolute) value its own prefix
    starts = np.cumsum(n) - n
    base = np.zeros(n.size, dtype=np.uint64)
    nz = starts > 0
    base[nz] = run[starts[nz] - 1]
    return run - np.repeat(base, n), tfs, dls
