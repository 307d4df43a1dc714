"""Property tests: codec round-trips including block boundaries
(SURVEY.md §7.5 'Compression correctness')."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from top2vec_spark.operators.codec import (
    decode_block,
    decode_gamma,
    decode_varint,
    encode_block,
    encode_gamma,
    encode_varint,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert decode_varint(encode_varint(arr)).tolist() == values


@given(st.lists(st.integers(min_value=1, max_value=2**52), max_size=300))
@settings(max_examples=200, deadline=None)
def test_gamma_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert decode_gamma(encode_gamma(arr), len(values)).tolist() == values


def test_varint_known_bytes():
    # LEB128: 0->00, 127->7f, 128->80 01, 300->ac 02
    assert encode_varint(np.array([0], dtype=np.uint64)) == b"\x00"
    assert encode_varint(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert encode_varint(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert encode_varint(np.array([300], dtype=np.uint64)) == b"\xac\x02"


def test_gamma_known_bits():
    # gamma(1) = '1'; gamma(2) = '010'; gamma(3)='011'; gamma(4)='00100'
    # [1,2,3,4] -> 1 010 011 00100 -> 1010 0110 0100(pad) -> 0xA6 0x40
    out = encode_gamma(np.array([1, 2, 3, 4], dtype=np.uint64))
    assert out == bytes([0b10100110, 0b01000000])


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=10_000),
        ),
        min_size=1,
        max_size=400,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(pairs):
    pairs.sort()
    doc_ids = np.array([p[0] for p in pairs], dtype=np.int64)
    tfs = np.array([p[1] for p in pairs], dtype=np.int64)
    db, tb = encode_block(doc_ids, tfs)
    d2, t2 = decode_block(db, tb, len(pairs))
    np.testing.assert_array_equal(d2, doc_ids)
    np.testing.assert_array_equal(t2, tfs)


def test_block_rejects_unsorted():
    with pytest.raises(ValueError):
        encode_block(np.array([5, 3], dtype=np.int64), np.array([1, 1], dtype=np.int64))


def test_compression_is_compact():
    # 128 sequential doc ids with tf=1: gaps of 1 -> 1 byte each + head
    doc_ids = np.arange(1000, 1128, dtype=np.int64)
    tfs = np.ones(128, dtype=np.int64)
    db, tb = encode_block(doc_ids, tfs)
    assert len(db) <= 2 + 127  # first id 2 bytes, then 1-byte gaps
    assert len(tb) == 16  # 128 * 1 bit for tf=1


def test_batch_encode_matches_per_block():
    """encode_gamma_many is byte-identical to per-stream encodes (the
    build uses the batched form; the pinned round-trip + WAND suites
    consume its output)."""
    import numpy as np

    from top2vec_spark.operators.codec import (
        decode_blocks,
        encode_gamma,
        encode_gamma_many,
    )

    rng = np.random.default_rng(13)
    counts = [1, 7, 128, 3, 64, 1, 255]
    vals = rng.integers(1, 2**40, size=sum(counts), dtype=np.int64).astype(np.uint64)
    splits = np.split(vals, np.cumsum(counts)[:-1])
    many_g = encode_gamma_many(vals, counts)
    for part, bg in zip(splits, many_g):
        assert bg == encode_gamma(part)
    # round-trip through the batched decoder too
    tf_small = rng.integers(1, 200, size=sum(counts), dtype=np.int64).astype(np.uint64)
    tf_parts = np.split(tf_small, np.cumsum(counts)[:-1])
    tf_many = encode_gamma_many(tf_small, counts)
    # build per-block (docid, tf) pairs: docids strictly increasing per block
    docs = []
    for c in counts:
        base = rng.integers(0, 1000)
        docs.append(np.cumsum(rng.integers(1, 50, size=c)) + base)
    from top2vec_spark.operators.codec import encode_block

    enc = [encode_block(dd, tt) for dd, tt in zip(docs, tf_parts)]
    dec = decode_blocks([e[0] for e in enc], [e[1] for e in enc], counts)
    for (dd, tt), (gd, gt) in zip(zip(docs, tf_parts), dec):
        assert (gd == dd).all()
        assert (gt.astype(np.uint64) == tt).all()
