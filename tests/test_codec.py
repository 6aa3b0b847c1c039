import pathlib
import re

import numpy as np

import splade_spark
from splade_spark.functions.codec import (
    decode_block,
    encode_block,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip_small():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**31, 2**53], dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(vals)), vals)


def test_varint_roundtrip_random():
    rng = np.random.default_rng(7)
    for _ in range(20):
        n = int(rng.integers(0, 5000))
        vals = rng.integers(0, 2**40, size=n).astype(np.uint64)
        assert np.array_equal(varint_decode(varint_encode(vals)), vals)


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_varint_single_byte_values_compact():
    vals = np.arange(128, dtype=np.uint64)
    assert len(varint_encode(vals)) == 128  # one byte each


def test_block_roundtrip():
    rng = np.random.default_rng(11)
    for _ in range(10):
        n = int(rng.integers(1, 3000))
        docs = np.sort(rng.choice(10**9, size=n, replace=False)).astype(np.int64)
        w = rng.random(n).astype(np.float32)
        gaps, wb = encode_block(docs, w)
        d2, w2 = decode_block(gaps, wb)
        assert np.array_equal(d2, docs)
        assert np.array_equal(w2, w)  # bit-exact float32


def test_block_compression_beats_raw():
    # dense ascending ids → gaps of 1 → ~1 byte/doc vs 8 raw
    docs = np.arange(100_000, dtype=np.int64)
    w = np.ones(100_000, dtype=np.float32)
    gaps, _ = encode_block(docs, w)
    assert len(gaps) < 100_000 * 2


def test_codec_module_owns_the_varint_format():
    """Every other module goes through the row and block functions of
    functions/codec.py; none calls the varint primitives itself."""
    root = pathlib.Path(splade_spark.__file__).parent
    owner = root / "functions" / "codec.py"
    offenders = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if p != owner
        and re.search(r"\bvarint_(encode|decode)\b", p.read_text())
    ]
    assert offenders == []
