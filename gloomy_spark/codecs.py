"""Vectorized delta + varint (LEB128) codecs for posting blocks.

Pure numpy — no per-element Python loops — so the segment-writer and the
BM25 scorers stay Arrow-speed inside Python UDFs. This replaces the
reference's fixed-width little-endian column files (behavioral analog of
index/column/column.go:77-97 serialization) with the standard
block-compressed posting layout: sorted docIDs are delta-encoded then
varint-packed; tf / doclen arrays are varint-packed directly.

Encode: per-value byte counts → exclusive-scan offsets → scatter each of
the ≤10 varint bytes with boolean masks. Decode: terminator bytes (high
bit clear) delimit values → np.add.reduceat over shifted 7-bit groups.
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10


def _as_uint64(values: np.ndarray) -> np.ndarray:
    """Zero-copy uint64 view for non-negative int64 input (the common
    case); copies only on dtype/layout mismatch."""
    if values.dtype == np.uint64 and values.flags.c_contiguous:
        return values
    if values.dtype == np.int64 and values.flags.c_contiguous:
        return values.view(np.uint64)
    return np.ascontiguousarray(values, dtype=np.uint64)


def _varint_nbytes(v: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte count in ONE vectorized pass: threshold
    compares for small ranges (position/doc deltas are almost always
    1-2 bytes — integer compares beat float frexp there), bit length via
    frexp for values < 2^53 (exact there), masked shift loop only for the
    rare huge values."""
    if v.size and int(v.max()) < (1 << 28):
        nb = np.ones(v.shape, dtype=np.int64)
        nb += v >= np.uint64(1 << 7)
        nb += v >= np.uint64(1 << 14)
        nb += v >= np.uint64(1 << 21)
        return nb
    small = v < np.uint64(1 << 53)
    nbits = np.empty(v.shape, dtype=np.int64)
    if small.all():
        _, e = np.frexp(v.astype(np.float64))
        nbits = e.astype(np.int64)
    else:
        _, e = np.frexp(np.where(small, v, np.uint64(1)).astype(np.float64))
        nbits = e.astype(np.int64)
        big = ~small
        tmp = v[big] >> np.uint64(53)
        nb = np.full(tmp.shape, 53, dtype=np.int64)
        nz = tmp > 0
        while nz.any():
            nb[nz] += 1
            tmp >>= np.uint64(1)
            nz = tmp > 0
        nbits[big] = nb
    return np.maximum((nbits + 6) // 7, 1)


def varint_encode_with_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode + per-value byte offsets (len n+1): offsets[i]:offsets[i+1] is
    value i's byte span — lets callers slice a bulk encoding into blocks
    without re-encoding."""
    v = _as_uint64(values)
    if v.size == 0:
        return b"", np.zeros(1, dtype=np.int64)
    if int(v.max()) < (1 << 7):
        # all-1-byte fast path (typical for position deltas): the varint
        # IS the value byte — no byte-count pass, no masked scatter
        return v.astype(np.uint8).tobytes(), np.arange(
            v.size + 1, dtype=np.int64
        )
    nbytes = _varint_nbytes(v)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    for j in range(_MAX_VARINT_BYTES):
        mask = nbytes > j
        if not mask.any():
            break
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8) << 7
        out[offsets[:-1][mask] + j] = chunk.astype(np.uint8) | cont
    return out.tobytes(), offsets


def varint_encode(values: np.ndarray) -> bytes:
    """Encode a non-negative integer array as concatenated LEB128 varints."""
    v = _as_uint64(values)
    if v.size == 0:
        return b""
    if int(v.max()) < (1 << 7):
        return v.astype(np.uint8).tobytes()
    nbytes = _varint_nbytes(v)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    for j in range(_MAX_VARINT_BYTES):
        mask = nbytes > j
        if not mask.any():
            break
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8) << 7
        out[offsets[:-1][mask] + j] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode concatenated LEB128 varints → uint64 array."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.zeros(0, dtype=np.uint64)
    if count is not None and raw.size == count:
        # every value fits one byte (doc-gap deltas and tfs usually do) —
        # skip the grouping pipeline entirely; high bit can't be set when
        # byte count == value count, so the payload IS the value
        return raw.astype(np.uint64)
    is_term = (raw & 0x80) == 0
    # group index per byte: 0-based id of the varint each byte belongs to
    starts = np.concatenate(([0], np.nonzero(is_term)[0][:-1] + 1))
    byte_pos = np.arange(raw.size, dtype=np.int64)
    group_of = np.cumsum(np.concatenate(([0], is_term[:-1].astype(np.int64))))
    shift = (byte_pos - starts[group_of]).astype(np.uint64) * np.uint64(7)
    contrib = (raw.astype(np.uint64) & np.uint64(0x7F)) << shift
    vals = np.add.reduceat(contrib, starts)
    if count is not None and vals.size != count:
        raise ValueError(f"varint stream decoded {vals.size} values, expected {count}")
    return vals


def delta_encode(sorted_values: np.ndarray) -> np.ndarray:
    """Strictly/weakly ascending int array → first value + successive gaps."""
    v = np.ascontiguousarray(sorted_values, dtype=np.int64)
    if v.size == 0:
        return v.astype(np.uint64)
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    if (out[1:] < 0).any():
        raise ValueError("delta_encode requires ascending input")
    return out.astype(np.uint64)


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(deltas.astype(np.uint64)).astype(np.int64)


def encode_posting_block(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray
) -> tuple[bytes, bytes, bytes]:
    """(docs, tfs, dls) binary payloads for one block; doc_ids ascending."""
    return (
        varint_encode(delta_encode(doc_ids)),
        varint_encode(tfs),
        varint_encode(dls),
    )


def decode_posting_block(
    docs_buf: bytes, tfs_buf: bytes, dls_buf: bytes, n_docs: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    doc_ids = delta_decode(varint_decode(docs_buf, n_docs))
    tfs = varint_decode(tfs_buf, n_docs).astype(np.int64)
    dls = varint_decode(dls_buf, n_docs).astype(np.int64)
    return doc_ids, tfs, dls


def flat_delta_positions(position_lists) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized bulk form of per-list delta encoding: list of ascending
    arrays → (lens, flattened deltas with an absolute first value per
    list). One concatenate + one subtract — no per-list Python encode."""
    n = len(position_lists)
    lens = np.fromiter((len(p) for p in position_lists), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return lens, np.zeros(0, dtype=np.uint64)
    flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in position_lists])
    deltas = flat.copy()
    deltas[1:] -= flat[:-1]
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    nz = starts[lens > 0]
    deltas[nz] = flat[nz]
    if (deltas < 0).any():
        raise ValueError("position lists must be ascending")
    return lens, deltas.astype(np.uint64)


def encode_position_lists(position_lists: list[np.ndarray]) -> tuple[bytes, bytes]:
    """Per-doc ascending position arrays → (counts varint, flattened
    delta+varint positions)."""
    lens, deltas = flat_delta_positions(position_lists)
    return varint_encode(lens.astype(np.uint64)), varint_encode(deltas)


def decode_position_lists(
    counts_buf: bytes, pos_buf: bytes, n_docs: int
) -> list[np.ndarray]:
    counts = varint_decode(counts_buf, n_docs).astype(np.int64)
    flat = varint_decode(pos_buf, int(counts.sum()))
    out: list[np.ndarray] = []
    off = 0
    for c in counts:
        out.append(delta_decode(flat[off : off + c]))
        off += int(c)
    return out


def decode_posting_blocks_bulk(
    docs_bufs, tfs_bufs, dls_bufs, counts
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY posting blocks of ONE term in one pass.

    Per-block varint streams are concatenated and decoded with three bulk
    varint_decode calls; the per-block delta resets (each block's first
    docID is stored absolute) are undone with a vectorized segmented
    cumsum. At block_size=128 this amortizes numpy call overhead ~30×
    versus per-block decode_posting_block — the difference between a
    scorer bound by decode math and one bound by library call dispatch.
    Blocks may span MULTIPLE terms (each term's blocks contiguous, docs
    in order within a term — the on-disk layout): every block stores its
    first docID absolute, so the per-block delta reset needs no term
    boundary handling. The batch scorer exploits this to decode a whole
    task's terms in one call."""
    counts = np.asarray(counts, dtype=np.int64)
    total = int(counts.sum())
    if total == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    raw = varint_decode(b"".join(docs_bufs), total).astype(np.uint64)
    full = np.cumsum(raw)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    adj = np.repeat(full[starts] - raw[starts], counts)
    d = (full - adj).astype(np.int64)
    tf = varint_decode(b"".join(tfs_bufs), total).astype(np.int64)
    dl = varint_decode(b"".join(dls_bufs), total).astype(np.int64)
    return d, tf, dl
