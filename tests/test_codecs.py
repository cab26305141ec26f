import numpy as np
import pytest

from gloomy_spark.codecs import (
    decode_position_lists,
    decode_posting_block,
    decode_posting_blocks_bulk,
    delta_decode,
    delta_encode,
    encode_position_lists,
    encode_posting_block,
    varint_decode,
    varint_encode,
)


def test_varint_known_vectors():
    # hand-computed LEB128
    assert varint_encode(np.array([0])) == b"\x00"
    assert varint_encode(np.array([1])) == b"\x01"
    assert varint_encode(np.array([127])) == b"\x7f"
    assert varint_encode(np.array([128])) == b"\x80\x01"
    assert varint_encode(np.array([300])) == b"\xac\x02"
    assert varint_encode(np.array([0, 127, 128])) == b"\x00\x7f\x80\x01"


def test_varint_roundtrip_extremes():
    vals = np.array([0, 1, 127, 128, 300, 2**32, 2**63 - 1, 2**64 - 1], dtype=np.uint64)
    assert (varint_decode(varint_encode(vals), len(vals)) == vals).all()


def test_varint_roundtrip_random():
    rng = np.random.default_rng(42)
    for _ in range(20):
        n = int(rng.integers(0, 5000))
        vals = rng.integers(0, 2**62, size=n, dtype=np.uint64)
        assert (varint_decode(varint_encode(vals), n) == vals).all()


def test_varint_count_mismatch_raises():
    with pytest.raises(ValueError):
        varint_decode(b"\x01\x02", 3)


def test_delta_roundtrip():
    rng = np.random.default_rng(7)
    docs = np.unique(rng.integers(0, 10**12, size=1000))
    assert (delta_decode(delta_encode(docs)) == docs).all()


def test_delta_rejects_unsorted():
    with pytest.raises(ValueError):
        delta_encode(np.array([5, 3]))


def test_posting_block_roundtrip():
    rng = np.random.default_rng(11)
    docs = np.unique(rng.integers(0, 10**9, size=500)).astype(np.int64)
    tfs = rng.integers(1, 50, size=len(docs))
    dls = rng.integers(1, 5000, size=len(docs))
    bufs = encode_posting_block(docs, tfs, dls)
    d2, t2, l2 = decode_posting_block(*bufs, len(docs))
    assert (d2 == docs).all() and (t2 == tfs).all() and (l2 == dls).all()


def test_position_lists_roundtrip():
    rng = np.random.default_rng(3)
    lists = [np.unique(rng.integers(0, 4000, size=int(rng.integers(0, 30))))
             for _ in range(200)]
    counts_buf, pos_buf = encode_position_lists(lists)
    out = decode_position_lists(counts_buf, pos_buf, len(lists))
    assert len(out) == len(lists)
    for a, b in zip(out, lists):
        assert (a == b).all()


def test_compression_beats_raw_int64():
    # dense sorted docIDs should compress far below 8 bytes/doc
    docs = np.arange(0, 128 * 50, 3, dtype=np.int64)
    buf, _, _ = encode_posting_block(docs, np.ones(len(docs)), np.ones(len(docs)))
    assert len(buf) < len(docs) * 2


# ----------------------------------------------------- >=2^53 big branch --
# _varint_nbytes switches from the frexp fast path (exact below 2^53) to a
# masked shift loop for huge values; VERDICT r2 flagged that branch as only
# implicitly covered.


def test_varint_roundtrip_2e53_boundary():
    from gloomy_spark.codecs import varint_decode, varint_encode

    edge = [
        (1 << 53) - 1, (1 << 53), (1 << 53) + 1,
        (1 << 56) - 1, (1 << 56),
        (1 << 63) - 1, (1 << 63), (1 << 63) + 1,
        (1 << 64) - 1,
        0, 1, 127, 128,
    ]
    v = np.array(edge, dtype=np.uint64)
    out = varint_decode(varint_encode(v), len(v))
    assert out.dtype == np.uint64
    assert (out == v).all()


def test_varint_nbytes_matches_scalar_leb128():
    # the vectorized byte-count must equal a scalar reference encoder for
    # every power-of-two neighborhood across the full uint64 range
    from gloomy_spark.codecs import _varint_nbytes

    def scalar_len(x: int) -> int:
        n = 1
        while x >= 0x80:
            x >>= 7
            n += 1
        return n

    vals = []
    for b in range(64):
        for d in (-1, 0, 1):
            x = (1 << b) + d
            if 0 <= x < (1 << 64):
                vals.append(x)
    vals.append((1 << 64) - 1)
    v = np.array(vals, dtype=np.uint64)
    got = _varint_nbytes(v)
    exp = np.array([scalar_len(int(x)) for x in vals])
    assert (got == exp).all()


def test_varint_roundtrip_random_uint64_property():
    # hypothesis-style property: random full-range uint64 arrays (mixed
    # small/huge so both branches run in one call) round-trip exactly
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:  # pragma: no cover
        import pytest

        pytest.skip("hypothesis unavailable")

    from gloomy_spark.codecs import varint_decode, varint_encode

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=(1 << 64) - 1),
            min_size=0,
            max_size=200,
        )
    )
    def roundtrip(xs):
        v = np.array(xs, dtype=np.uint64)
        out = varint_decode(varint_encode(v), len(v))
        assert (out == v).all()

    roundtrip()


@pytest.mark.parametrize("sizes", [(1,), (2,), (8,), (128,), (1, 2, 8, 128)])
def test_bulk_decode_equals_per_block_decode(sizes):
    """decode_posting_blocks_bulk over several terms' blocks (each term's
    blocks contiguous, as on disk) equals concatenated per-block
    decode_posting_block. Doc ids span the whole int64 range, negative
    ones included (xxhash64-style ids); each term's ids sit in one
    window so in-block deltas stay below 2^63."""
    rng = np.random.default_rng(sum(sizes))
    for _ in range(60):
        blocks = []
        for _term in range(int(rng.integers(1, 4))):
            n = int(rng.integers(1, 400))
            base = int(rng.integers(-(2**63), 2**63 - 2**41))
            docs = base + np.unique(rng.integers(0, 2**40, size=n))
            i = 0
            while i < len(docs):
                j = i + int(rng.choice(sizes))
                d = docs[i:j]
                tfs = rng.integers(1, 300, size=len(d))
                dls = rng.integers(1, 2**20, size=len(d))
                blocks.append((*encode_posting_block(d, tfs, dls), len(d)))
                i = j
        want = [decode_posting_block(*b) for b in blocks]
        got = decode_posting_blocks_bulk(*zip(*blocks))
        for g, w in zip(got, zip(*want)):
            assert g.dtype == np.int64
            assert np.array_equal(g, np.concatenate(w))
