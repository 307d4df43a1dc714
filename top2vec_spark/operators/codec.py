"""Posting-block codecs — numpy-vectorized byte packing (no per-row
Python, per BASELINE.json input_hint).

Block layout (SURVEY.md §2.1 `postings` table): docIDs are stored as
deltas (first docID absolute, then gaps) varint-encoded; term
frequencies are Elias-gamma encoded (tf >= 1 always, and tf is tiny
under Zipf — gamma beats varint's 1-byte floor). Both codecs
round-trip property-tested in tests/test_codec.py.

Varint: LEB128 (7 data bits/byte, MSB = continuation) — the format
used by Lucene/protobuf (public knowledge).
Elias-gamma: value x>=1 encoded as floor(log2 x) zero bits, then the
N+1-bit binary representation of x, MSB first.
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10  # 64 bits / 7


# ---------------------------------------------------------------------------
# varint (LEB128)
# ---------------------------------------------------------------------------
def encode_varint(values: np.ndarray) -> bytes:
    """Vectorized LEB128 encode of a uint64 array."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # byte length per value: ceil(bitlength/7), min 1
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp >>= np.uint64(1)
    nbytes = np.maximum(1, (nbits + 6) // 7)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    # position of byte 0 of each value
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    rem = v.copy()
    for b in range(_MAX_VARINT_BYTES):
        alive = nbytes > b
        if not alive.any():
            break
        idx = starts[alive] + b
        byte = (rem[alive] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[alive] > b + 1).astype(np.uint8) << 7
        out[idx] = byte | cont
        rem[alive] = rem[alive] >> np.uint64(7)
    return out.tobytes()


def _varint_nbytes(v: np.ndarray) -> np.ndarray:
    """LEB128 byte length per value (vectorized)."""
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp >>= np.uint64(1)
    return np.maximum(1, (nbits + 6) // 7)


def encode_gamma_many(values: np.ndarray, counts) -> list:
    """Encode many independent Elias-gamma streams in one pass. Each
    stream is padded to a byte boundary EXACTLY like an individual
    encode_gamma call (packbits padding), so outputs are
    byte-identical to per-stream encodes — one bit-scatter + one
    packbits for the whole batch."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    counts = np.asarray(counts, dtype=np.int64)
    if v.size == 0:
        return [b""] * counts.size
    if (v < 1).any():
        raise ValueError("Elias-gamma requires values >= 1")
    nbits_val = (np.uint64(64) - _clz64(v)).astype(np.int64)
    nlead = nbits_val - 1
    code_len = 2 * nlead + 1
    starts_idx = np.concatenate(([0], np.cumsum(counts)[:-1]))
    stream_bits = np.add.reduceat(code_len, starts_idx)
    stream_bytes = (stream_bits + 7) // 8
    stream_bit_offs = np.concatenate(([0], np.cumsum(stream_bytes * 8)))
    # bit position of each value = its stream's padded start + the
    # within-stream running code offset
    within = np.concatenate(([0], np.cumsum(code_len)[:-1]))
    stream_id = np.repeat(np.arange(counts.size), counts)
    within -= np.repeat(within[starts_idx], counts)
    starts = stream_bit_offs[stream_id] + within
    total_bits = int(stream_bit_offs[-1])
    bits = np.zeros(total_bits, dtype=np.uint8)
    maxdigits = int(nbits_val.max())
    for j in range(maxdigits):
        alive = nbits_val > j
        shift = (nbits_val[alive] - 1 - j).astype(np.uint64)
        digit = ((v[alive] >> shift) & np.uint64(1)).astype(np.uint8)
        pos = starts[alive] + nlead[alive] + j
        bits[pos] = digit
    blob = np.packbits(bits).tobytes()
    offs = np.concatenate(([0], np.cumsum(stream_bytes)))
    return [blob[offs[i] : offs[i + 1]] for i in range(counts.size)]


def decode_varint(buf: bytes) -> np.ndarray:
    """Vectorized LEB128 decode -> uint64 array."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (raw & 0x80) == 0
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    n = ends.size
    out = np.zeros(n, dtype=np.uint64)
    lengths = ends - starts + 1
    maxlen = int(lengths.max())
    for b in range(maxlen):
        alive = lengths > b
        idx = starts[alive] + b
        out[alive] |= (raw[idx] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * b)
    return out


# ---------------------------------------------------------------------------
# Elias-gamma
# ---------------------------------------------------------------------------
def encode_gamma(values: np.ndarray) -> bytes:
    """Vectorized Elias-gamma encode of a uint64 array (all values >= 1).

    Builds the full bit array with numpy scatter ops: each value x
    contributes 2*N+1 bits (N = floor(log2 x)): N zeros, then the
    N+1 binary digits of x MSB-first (leading digit always 1).
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    if (v < 1).any():
        raise ValueError("Elias-gamma requires values >= 1")
    nbits_val = (np.uint64(64) - _clz64(v)).astype(np.int64)  # bitlength
    nlead = nbits_val - 1  # N zeros
    code_len = 2 * nlead + 1
    starts = np.concatenate(([0], np.cumsum(code_len)[:-1]))
    total_bits = int(code_len.sum())
    bits = np.zeros(total_bits, dtype=np.uint8)
    # binary part begins at starts + nlead; digit j (0 = MSB) of the
    # (nlead+1)-digit representation lands at starts + nlead + j
    maxdigits = int(nbits_val.max())
    for j in range(maxdigits):
        # j-th digit from MSB exists when nbits_val > j
        alive = nbits_val > j
        shift = (nbits_val[alive] - 1 - j).astype(np.uint64)
        digit = ((v[alive] >> shift) & np.uint64(1)).astype(np.uint8)
        pos = starts[alive] + nlead[alive] + j
        bits[pos] = digit
    return np.packbits(bits).tobytes()


def decode_gamma(buf: bytes, count: int) -> np.ndarray:
    """Decode `count` Elias-gamma values.

    Two phases: (1) a tight pure-int cursor walk over the (scalar)
    list of 1-bit positions finds each code word's terminator and
    unary length — ~0.1 µs/value, no numpy call per value; (2) the
    binary parts are extracted VECTORIZED, one scatter-or per digit
    position (digit count is log2(max value), tiny for Zipf tfs).
    This replaced a per-value ``seg @ weights`` dot product that
    dominated the WAND query kernel (0.31 s -> ~0.02 s per 120k
    values measured)."""
    if count == 0:
        return np.empty(0, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
    ones = np.flatnonzero(bits).tolist()  # scalar ints: fast cursor walk
    starts = np.empty(count, dtype=np.int64)
    ns = np.empty(count, dtype=np.int64)
    pos = 0
    one_i = 0
    for i in range(count):
        # first 1 at or after pos ends the unary run
        while ones[one_i] < pos:
            one_i += 1
        fo = ones[one_i]
        n = fo - pos  # number of leading zeros = binary digits after MSB
        starts[i] = fo
        ns[i] = n
        pos = fo + n + 1
    out = np.zeros(count, dtype=np.uint64)
    b64 = bits.astype(np.uint64)
    for j in range(int(ns.max()) + 1):  # digit j of the binary part
        alive = ns >= j
        out[alive] |= b64[starts[alive] + j] << (ns[alive] - j).astype(np.uint64)
    return out


def decode_gamma_many(bufs: list, counts) -> list:
    """Batch decode: many independent gamma streams in ONE numpy pass.
    Each stream is byte-aligned (packbits padding), so concatenating
    the raw bytes preserves every stream's bit offsets; the cursor
    walk simply jumps to each stream's start (monotone, so one shared
    ones-cursor suffices) and the digit extraction runs vectorized
    over ALL values of ALL streams. Kills the per-block fixed cost
    (unpackbits/flatnonzero/allocs) that dominated WAND block decode."""
    if not bufs:
        return []
    blob = b"".join(bufs)
    bits = np.unpackbits(np.frombuffer(blob, dtype=np.uint8))
    ones = np.flatnonzero(bits).tolist()
    total = int(sum(counts))
    starts = np.empty(total, dtype=np.int64)
    ns = np.empty(total, dtype=np.int64)
    bit_off = 0
    one_i = 0
    vi = 0
    n_ones = len(ones)
    for buf, cnt in zip(bufs, counts):
        pos = bit_off
        for _ in range(cnt):
            while one_i < n_ones and ones[one_i] < pos:
                one_i += 1
            fo = ones[one_i]
            n = fo - pos
            starts[vi] = fo
            ns[vi] = n
            vi += 1
            pos = fo + n + 1
        bit_off += len(buf) * 8
    out = np.zeros(total, dtype=np.uint64)
    b64 = bits.astype(np.uint64)
    maxn = int(ns.max()) if total else 0
    for j in range(maxn + 1):
        alive = ns >= j
        out[alive] |= b64[starts[alive] + j] << (ns[alive] - j).astype(np.uint64)
    bounds = np.cumsum(np.asarray(counts, dtype=np.int64))[:-1]
    return np.split(out, bounds)


def decode_blocks(doc_bytes_list: list, tf_bytes_list: list, counts) -> list:
    """Batch decode_block over many blocks: ONE varint pass over the
    concatenated docid streams (self-terminating, so concatenation
    parses cleanly) + ONE batched gamma pass for tfs. Returns a list
    of (int64 doc_ids, int64 tfs) aligned with the inputs."""
    if not doc_bytes_list:
        return []
    deltas_all = decode_varint(b"".join(doc_bytes_list))
    bounds = np.cumsum(np.asarray(counts, dtype=np.int64))[:-1]
    delta_parts = np.split(deltas_all.astype(np.int64), bounds)
    tf_parts = decode_gamma_many(tf_bytes_list, counts)
    return [
        (np.cumsum(d), t.astype(np.int64))
        for d, t in zip(delta_parts, tf_parts)
    ]


def _clz64(v: np.ndarray) -> np.ndarray:
    """Count leading zeros of uint64, exact, via binary-search shifts
    (float log2 is off-by-one just below powers of two, e.g. 2^51-4)."""
    v = v.astype(np.uint64).copy()
    out = np.zeros(v.shape, dtype=np.uint64)
    zero = v == 0
    for shift in (32, 16, 8, 4, 2, 1):
        mask = v < (np.uint64(1) << np.uint64(64 - shift))
        out[mask] += np.uint64(shift)
        v[mask] = v[mask] << np.uint64(shift)
    out[zero] = np.uint64(64)
    return out


# ---------------------------------------------------------------------------
# Block encode/decode: (sorted doc_ids, tfs) <-> (bytes, bytes)
# ---------------------------------------------------------------------------
def encode_block(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """doc_ids strictly increasing int64; tfs >= 1. Returns
    (delta-varint docids bytes, gamma tf bytes)."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    deltas = np.empty(d.shape, dtype=np.uint64)
    deltas[0] = np.uint64(d[0])
    if d.size > 1:
        gaps = np.diff(d)
        if (gaps <= 0).any():
            raise ValueError("doc_ids must be strictly increasing")
        deltas[1:] = gaps.astype(np.uint64)
    return encode_varint(deltas), encode_gamma(np.asarray(tfs, dtype=np.uint64))


def decode_block(doc_bytes: bytes, tf_bytes: bytes, count: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_block -> (int64 doc_ids, int64 tfs)."""
    deltas = decode_varint(doc_bytes)
    assert deltas.size == count, f"expected {count} docids, got {deltas.size}"
    doc_ids = np.cumsum(deltas.astype(np.int64))
    tfs = decode_gamma(tf_bytes, count).astype(np.int64)
    return doc_ids, tfs
