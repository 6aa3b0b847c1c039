"""Delta + varint codec for posting blocks and position lists
(vectorized NumPy, no per-row Python).

Engine addition — the reference stores raw int32/float32 arrays
(/root/reference/src/indexing/sparse_index.py:333-340); the north rule asks
for delta+varint-compressed, impact-ordered posting lists. Layout:

- ``doc_gaps``: LEB128-style varint bytes of [first_doc_idx, gap1, gap2, ...]
  where gaps are deltas of the ASCENDING doc_idx sequence within a block
  (ascending-doc order within a block mirrors the reference's postings
  order, /root/reference/src/indexing/sparse_index.py:643-656). Saved
  position lists (positional.py) use the same row format.
- ``weights``: raw little-endian float32 — or float16 when the index is
  built with ``value_dtype="float16"`` (the reference's storage knob,
  /root/reference/src/indexing/sparse_index.py:14-36 + script/index.py:88-94:
  fp16 on disk, fp32 upcast when used). The block is self-describing:
  decode infers the dtype from bytes-per-posting (2 vs 4), so every
  consumer (query kernels, merge, shard splitter) upcasts transparently
  and always sees float32. At 100 TB fp16 halves the dominant posting
  payload for ~1e-3 relative weight error — rank-stable for all but
  exact-tie neighborhoods (pinned by test_fp16_index).

This module owns the format; no other module calls the varint functions.
Spark-side producers and consumers work on whole Arrow batches:
``encode_rows`` / ``decode_rows`` turn many delta+varint rows into one
byte buffer plus row byte offsets and back, each with ONE varint pass
and a running sum restarted at each row head; ``encode_blocks`` /
``decode_blocks`` add the weight bytes over Arrow ``binary`` columns.
``encode_block`` / ``decode_block`` are the one-block forms the served
kernels decode with. Every loop here runs over byte positions (at most
10 steps), never over rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_SEVEN = np.uint64(7)
_MASK7 = np.uint64(0x7F)


def _varint(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(LEB128 bytes as uint8, bytes per value) of a non-negative int array."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = np.ones(a.size, dtype=np.int64)
    tmp = a >> _SEVEN
    while tmp.any():  # at most 9 steps: a 64-bit varint is <= 10 bytes
        nbytes += tmp > 0
        tmp >>= _SEVEN
    # one row of 7-bit groups per value, continuation bit on all but its
    # last group; the row-major mask keeps each value's groups in order
    col = np.arange(int(nbytes.max(initial=1)))
    out = ((a[:, None] >> (col.astype(np.uint64) * _SEVEN)) & _MASK7).astype(
        np.uint8
    )
    out |= (col < nbytes[:, None] - 1).astype(np.uint8) << 7
    return out[col < nbytes[:, None]], nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """Encode a non-negative int array as concatenated LEB128 varints."""
    return _varint(values)[0].tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode concatenated LEB128 varints back to uint64.

    A value's 7-bit groups share no bits, so the sum of its shifted
    groups equals their OR: one ``add.reduceat`` over each value's byte
    group. A buffer of terminal bytes only (one-byte values) is returned
    as is. Raises ``ValueError`` when the last byte still has its
    continuation bit set (a truncated varint)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0 or b.max() < 0x80:
        return b.astype(np.uint64)
    if b[-1] >= 0x80:
        raise ValueError(
            "varint_decode: truncated input, the last byte has its "
            "continuation bit set"
        )
    ends = (b < 0x80).nonzero()[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    within = np.arange(b.size) - starts.repeat(ends - starts + 1)
    contrib = (b & 0x7F).astype(np.uint64) << (within.astype(np.uint64) * _SEVEN)
    return np.add.reduceat(contrib, starts)


def weight_width(value_dtype: str) -> int:
    """Bytes per stored weight of a ``value_dtype``: 4 (f32) or 2 (fp16)."""
    width = {"float32": 4, "float16": 2}.get(value_dtype)
    if width is None:
        raise ValueError(
            f"value_dtype must be float32 or float16, got {value_dtype!r}"
        )
    return width


def encode_block(
    doc_idx: np.ndarray, weights: np.ndarray, value_dtype: str = "float32"
) -> tuple[bytes, bytes]:
    """Encode one posting block. doc_idx MUST be strictly ascending.

    ``value_dtype``: "float32" (default) or "float16" (half-width storage;
    weights are rounded to the nearest representable half — the
    reference's fp16 storage mode)."""
    d = np.ascontiguousarray(doc_idx, dtype=np.int64)
    heads = np.empty(d.size, dtype=np.int64)
    if d.size:
        heads[0] = d[0]
        np.subtract(d[1:], d[:-1], out=heads[1:])
    w = np.ascontiguousarray(weights, dtype=f"<f{weight_width(value_dtype)}")
    return varint_encode(heads), w.tobytes()


def decode_block(doc_gaps: bytes, weights: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Decode a posting block back to (doc_idx int64 asc, weights float32).

    Self-describing dtype: 2 bytes/posting is fp16 (upcast to f32 on the
    way out — the reference's read path, script/index.py:88-94), 4 is f32.
    Consumers therefore always see float32 regardless of the storage knob.
    """
    doc_idx = varint_decode(doc_gaps).view(np.int64).cumsum()
    if doc_idx.size and len(weights) == 2 * doc_idx.size:
        w = np.frombuffer(weights, dtype="<f2").astype("<f4")
    else:
        w = np.frombuffer(weights, dtype="<f4")
    return doc_idx, w


def encode_rows(
    values: np.ndarray, lengths: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """Delta+varint many rows in one pass. Row i is the next
    ``lengths[i]`` values of ``values`` (ascending within a row); its
    gaps restart at its head. Returns the bytes of all rows and their
    byte offsets (n_rows + 1, int64). Row i's bytes equal
    ``encode_block``'s ``doc_gaps`` of that row alone."""
    v = np.ascontiguousarray(values, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    bounds = np.r_[0, np.cumsum(lengths)]
    gaps = np.diff(v, prepend=np.int64(0))
    heads = bounds[:-1][lengths > 0]
    gaps[heads] = v[heads]
    buf, nbytes = _varint(gaps)
    return buf.tobytes(), np.r_[0, np.cumsum(nbytes)][bounds]


def decode_rows(buf, offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of ``encode_rows``: (values int64, values per row) from
    the bytes and the row byte offsets. A row's value count is the
    number of terminal (high bit clear) bytes in its byte range; one
    varint pass, then a running sum restarted at each row head (the
    sums wrap in uint64, and the differences come out exact)."""
    offsets = np.asarray(offsets, dtype=np.int64)
    b = np.frombuffer(buf, dtype=np.uint8)[offsets[0]:offsets[-1]]
    heads = np.r_[0, np.cumsum(b < 0x80)][offsets - offsets[0]]
    lengths = np.diff(heads)
    total = np.zeros(heads[-1] + 1, dtype=np.uint64)
    np.cumsum(varint_decode(b), out=total[1:])
    values = total[1:] - np.repeat(total[heads[:-1]], lengths)
    return values.astype(np.int64), lengths


def binary_buffers(col) -> tuple[np.ndarray, np.ndarray]:
    """(value bytes as uint8, row byte offsets int64) of an Arrow
    ``binary`` column, without copying the bytes."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if len(col) == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    _, offs, data = col.buffers()
    off_t = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offs = np.frombuffer(offs, off_t)[col.offset:col.offset + len(col) + 1]
    return np.frombuffer(data or b"", np.uint8), offs.astype(np.int64)


def binary_array(buf, offsets: np.ndarray) -> pa.Array:
    """Arrow ``binary`` column whose row i is
    ``buf[offsets[i]:offsets[i + 1]]``."""
    offs = np.asarray(offsets, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), offs.size - 1,
        [None, pa.py_buffer(offs), pa.py_buffer(buf)],
    )


def encode_blocks(
    doc_idx: np.ndarray, weights: np.ndarray, lengths: np.ndarray, width
) -> tuple[pa.Array, pa.Array]:
    """Many posting blocks → Arrow (doc_gaps, weights) binary columns.
    Block i holds the next ``lengths[i]`` postings, doc_idx ascending.
    ``width`` is the bytes per weight, 4 (f32) or 2 (fp16), for all
    blocks or per block; each block equals ``encode_block`` of it."""
    lengths = np.asarray(lengths, dtype=np.int64)
    wide = np.broadcast_to(np.asarray(width, dtype=np.int64), lengths.shape)
    nbytes = lengths * wide
    half = np.repeat(wide == 2, lengths)
    byte_half = np.repeat(wide == 2, nbytes)
    w = np.asarray(weights, dtype=np.float32)
    wb = np.empty(int(nbytes.sum()), dtype=np.uint8)
    wb[~byte_half] = w[~half].astype("<f4").view(np.uint8)
    wb[byte_half] = w[half].astype("<f2").view(np.uint8)
    return (binary_array(*encode_rows(doc_idx, lengths)),
            binary_array(wb, np.r_[0, np.cumsum(nbytes)]))


def decode_blocks(
    doc_gaps, weights
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of ``encode_blocks`` on Arrow binary columns: (doc_idx
    int64, weights float32, postings per block). Like ``decode_block``,
    each block's weight width is read from its own byte count."""
    doc_idx, lengths = decode_rows(*binary_buffers(doc_gaps))
    wb, offs = binary_buffers(weights)
    nbytes = np.diff(offs)
    half_blocks = (nbytes == 2 * lengths) & (lengths > 0)
    half = np.repeat(half_blocks, lengths)
    byte_half = np.repeat(half_blocks, nbytes)
    wb = wb[offs[0]:offs[-1]]
    w = np.empty(doc_idx.size, dtype=np.float32)
    w[~half] = wb[~byte_half].view("<f4")
    w[half] = wb[byte_half].view("<f2")
    return doc_idx, w, lengths
