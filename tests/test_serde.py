"""Wire-format tests, mirroring /root/reference/serialization_test.go.

The centerpiece is the cross-implementation golden test: a base64 blob
produced by the *Java* t-digest (AVLTreeDigest.asSmallBytes over 100k
uniform samples, serialization_test.go:193-235) must decode with our
codec, report Count()==100000, and satisfy the uniform accuracy
thresholds — proving byte-level compatibility with both the Java and Go
implementations without running either.
"""

from __future__ import annotations

import base64
import os

import numpy as np
import pytest

from go_tdigest_spark import serde
from go_tdigest_spark.core import TDigest

HERE = os.path.dirname(__file__)


def _random_digest(n=1000, seed=1, compression=100):
    rng = np.random.default_rng(seed)
    return TDigest.from_values(rng.random(n) * 100, compression=compression)


def test_internal_roundtrip_exact():
    d = _random_digest()
    d2 = serde.decode(serde.encode(d))
    m1, c1 = d.centroids()
    m2, c2 = d2.centroids()
    assert (m1 == m2).all()
    assert (c1 == c2).all()
    assert d2.compression == d.compression
    assert d2.count == d.count


def test_internal_empty():
    d = serde.decode(serde.empty_digest_bytes(42.0))
    assert d.count == 0
    assert d.compression == 42.0


def _digest_column(n_digests=40, seed=3):
    rng = np.random.default_rng(seed)
    ds = [
        TDigest.from_values(rng.normal(size=int(k)), compression=float(c))
        for k, c in zip(
            rng.integers(0, 2000, n_digests), rng.choice([20, 100, 300], n_digests)
        )
    ]
    return ds, [serde.encode(d) for d in ds]


def test_encode_many_decode_many_roundtrip_byte_identical():
    import pyarrow as pa

    ds, blobs = _digest_column()
    means = np.concatenate([d.centroids()[0] for d in ds])
    counts = np.concatenate([d.centroids()[1] for d in ds])
    offsets = np.concatenate(([0], np.cumsum([len(d) for d in ds])))
    comp = np.array([d.compression for d in ds])
    col = serde.encode_many(means, counts, offsets, comp)
    assert col.type == pa.binary() and col.to_pylist() == blobs
    # chunked and sliced inputs decode to the same flat arrays
    chunked = pa.chunked_array([pa.array(blobs[:15], pa.binary()),
                                pa.array(blobs[15:], pa.binary())])
    for column, lo, hi in ((chunked, 0, len(ds)), (col.slice(5, 20), 5, 25)):
        m, c, off, cp = serde.decode_many(column)
        np.testing.assert_array_equal(m, means[offsets[lo]:offsets[hi]])
        np.testing.assert_array_equal(c, counts[offsets[lo]:offsets[hi]])
        np.testing.assert_array_equal(off, offsets[lo:hi + 1] - offsets[lo])
        np.testing.assert_array_equal(cp, comp[lo:hi])
    # a blob with trailing bytes (decode ignores them) unaligns the rest
    m, _, _, _ = serde.decode_many(pa.array([blobs[0] + b"xyz"] + blobs[1:]))
    np.testing.assert_array_equal(m, means)
    m, c, off, cp = serde.decode_many(pa.array([], pa.binary()))
    assert m.size == c.size == cp.size == 0 and list(off) == [0]


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda b: b[:10],  # shorter than the header
        lambda b: b"XX3\x00" + b[4:],  # wrong magic
        lambda b: b[:-8],  # payload shorter than its centroid count
        lambda b: b[:12] + (-1).to_bytes(4, "little", signed=True) + b[16:],
        lambda b: b[:12] + (1 << 23).to_bytes(4, "little") + b[16:],
    ],
)
def test_decode_many_rejects_one_corrupt_blob(corrupt):
    import pyarrow as pa

    _, blobs = _digest_column(8)
    bad = corrupt(blobs[3])
    with pytest.raises(ValueError) as per_blob:
        serde.decode(bad)
    with pytest.raises(ValueError) as column:
        serde.decode_many(pa.array(blobs[:3] + [bad] + blobs[4:], pa.binary()))
    assert str(column.value) == str(per_blob.value)


def test_ref_roundtrip():
    # serialization_test.go roundtrip: counts exact, count preserved,
    # means within float32-delta accumulation error
    d = _random_digest(10_000, seed=2)
    buf = serde.to_ref_bytes(d)
    d2 = serde.from_ref_bytes(buf)
    m1, c1 = d.centroids()
    m2, c2 = d2.centroids()
    assert (c1 == c2).all()
    assert d2.count == d.count
    assert d2.compression == d.compression
    np.testing.assert_allclose(m2, m1, rtol=1e-4, atol=1e-4)
    # re-encoding the decoded digest is byte-identical (deltas are exactly
    # representable after one decode pass)
    assert serde.to_ref_bytes(d2) == buf


def test_ref_header_layout():
    # serialization.go:39-41: BE int32 magic=2, float64 compression,
    # int32 numCentroids = 16-byte header
    d = TDigest(compression=100)
    d.add(1.5)
    buf = serde.to_ref_bytes(d)
    assert buf[:4] == (2).to_bytes(4, "big")
    assert buf[4:12] == np.float64(100.0).newbyteorder(">").tobytes()
    assert buf[12:16] == (1).to_bytes(4, "big")
    # one float32 delta + one uvarint count byte
    assert len(buf) == 16 + 4 + 1


def test_ref_rejects_garbage():
    with pytest.raises(ValueError):
        serde.from_ref_bytes(b"too-short")
    d = _random_digest(100)
    buf = serde.to_ref_bytes(d)
    with pytest.raises(ValueError):
        serde.from_ref_bytes(b"\x00\x00\x00\x07" + buf[4:])  # bad magic
    with pytest.raises(ValueError):
        serde.from_ref_bytes(buf[:-1])  # truncated varint section
    with pytest.raises(ValueError):
        serde.from_ref_bytes(buf + b"\x00")  # trailing bytes


def test_uvarint_large_weights():
    # serialization_test.go:162-191 — huge-weight payloads survive
    d = TDigest()
    d.add(10.0, 2**40)
    d.add(20.0, 3)
    d2 = serde.from_ref_bytes(serde.to_ref_bytes(d))
    assert d2.count == 2**40 + 3
    _, c = d2.centroids()
    assert c.max() == 2**40


def test_java_golden_blob():
    # serialization_test.go:193-235 (TestJavaSmallBytesCompat)
    with open(os.path.join(HERE, "golden_java_tdigest_b64.txt")) as f:
        blob = base64.b64decode(f.read().strip())
    d = serde.from_ref_bytes(blob)
    assert d.count == 100_000
    for q, tol in [
        (0.5, 0.02), (0.1, 0.01), (0.9, 0.01), (0.01, 0.005),
        (0.99, 0.005), (0.001, 0.001), (0.999, 0.001),
    ]:
        assert abs(d.quantile(q) - q) < tol, (q, d.quantile(q))
    # our merge sweep can compact the foreign digest and keep accuracy
    d.compress()
    assert d.count == 100_000
    for q, tol in [(0.5, 0.02), (0.01, 0.005), (0.99, 0.005)]:
        assert abs(d.quantile(q) - q) < tol


def test_ref_rejects_structurally_invalid_payloads():
    """Wire-format-valid blobs with zero centroid counts or negative
    mean deltas (unsorted means) must fail at decode, not rehydrate a
    digest whose reads return confident garbage."""
    import struct as _struct

    import numpy as np

    from go_tdigest_spark import TDigest, serde

    d = TDigest.from_values(np.arange(100, dtype=np.float64))
    buf = serde.to_ref_bytes(d)
    # header: >i magic, >d compression, >i n  (see _REF_HEADER)
    magic, compression, nc = _struct.unpack_from(">idi", buf, 0)
    head_sz = _struct.calcsize(">idi")

    # zero count: rewrite the first uvarint (count of centroid 0) to 0
    deltas_end = head_sz + 4 * nc
    corrupt = bytearray(buf)
    corrupt[deltas_end] = 0  # uvarint 0 is a single 0x00 byte iff the
    # original first count byte had no continuation bit
    if buf[deltas_end] < 0x80:
        with pytest.raises(ValueError, match="count < 1"):
            serde.from_ref_bytes(bytes(corrupt))

    # negative non-first delta: means become non-monotone
    bad = bytearray(buf)
    _struct.pack_into(">f", bad, head_sz + 4, -1.0)
    with pytest.raises(ValueError, match="negative centroid mean delta"):
        serde.from_ref_bytes(bytes(bad))

    # a negative FIRST delta is legal (it is the absolute first mean)
    neg = TDigest.from_values(np.arange(-50, 50, dtype=np.float64))
    assert serde.from_ref_bytes(serde.to_ref_bytes(neg)).quantile(0.0) == -50.0
