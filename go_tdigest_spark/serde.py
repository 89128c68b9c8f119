"""Digest serialization.

Two codecs:

1. ``to_ref_bytes`` / ``from_ref_bytes`` — the reference's "smallEncoding"
   v2 wire format, byte-for-byte compatible with caio/go-tdigest
   (serialization.go:17-124) and with the Java t-digest's
   ``AVLTreeDigest.asSmallBytes`` (proven by the golden-blob test,
   serialization_test.go:193-235):

     big-endian header: int32 magic=2, float64 compression, int32 ncentroids
     then ncentroids float32 *deltas* between consecutive means
     then ncentroids uvarint counts

   Means are lossy (float32 deltas) — use it for cross-implementation
   exchange and compact checkpoints.

2. ``encode`` / ``decode`` — our internal format used for digest columns
   inside Spark plans: little-endian header (magic b"TD3", float64
   compression, int32 n) followed by raw float64 means and int64 counts.
   Exact (no precision loss) and NumPy-zero-copy to decode, which is what
   the shuffle hot path wants.  ``encode_many`` / ``decode_many`` do the
   same for a whole Arrow binary column of digests in a few NumPy ops
   (stage 1 and the tree merge use them).
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from .core import TDigest

_REF_MAGIC = 2
_REF_HEADER = struct.Struct(">idi")  # magic, compression, numCentroids
_INT_MAGIC = b"TD3\x00"
_INT_HEADER = struct.Struct("<4sdi")
_MAX_CENTROIDS = 1 << 22  # parity: serialization.go:95-97


def _encode_uvarint(values: np.ndarray) -> bytes:
    out = bytearray()
    for v in values:
        v = int(v)
        if v < 0:
            raise ValueError("counts must be non-negative")
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
    return bytes(out)


def _decode_uvarints(buf: bytes, offset: int, n: int) -> tuple[np.ndarray, int]:
    out = np.empty(n, dtype=np.int64)
    pos = offset
    ln = len(buf)
    for i in range(n):
        result = 0
        shift = 0
        while True:
            if pos >= ln:
                raise ValueError("truncated uvarint in digest payload")
            b = buf[pos]
            pos += 1
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 63:
                raise ValueError("uvarint overflow in digest payload")
        out[i] = result
    return out, pos


# --------------------------------------------------------------- reference v2


def to_ref_bytes(digest: TDigest) -> bytes:
    """Serialize in the reference's smallEncoding v2 (serialization.go:28-56)."""
    means, counts = digest.centroids()
    deltas = np.diff(means, prepend=0.0).astype(">f4")
    header = _REF_HEADER.pack(_REF_MAGIC, digest.compression, means.size)
    return header + deltas.tobytes() + _encode_uvarint(counts)


def from_ref_bytes(buf: bytes) -> TDigest:
    """Decode smallEncoding v2 (parity: serialization.go:132-190).

    Compression comes from the payload; count is recomputed as the sum of
    centroid counts; a strict trailing-bytes check is applied.
    """
    if len(buf) < _REF_HEADER.size:
        raise ValueError("buffer too small for deserialization")
    magic, compression, n = _REF_HEADER.unpack_from(buf, 0)
    if magic != _REF_MAGIC:
        raise ValueError(f"unsupported encoding version: {magic}")
    if n < 0 or n > _MAX_CENTROIDS:
        raise ValueError("bad number of centroids in serialization")
    need = _REF_HEADER.size + 4 * n
    if len(buf) < need:
        raise ValueError("buffer too small for deserialization")
    deltas = np.frombuffer(buf, dtype=">f4", count=n, offset=_REF_HEADER.size)
    means = np.cumsum(deltas.astype(np.float64))
    counts, end = _decode_uvarints(buf, need, n)
    if end != len(buf):
        raise ValueError("buffer has unread data")
    # structural validation BEYOND the reference (which trusts the
    # payload): a wire-format-valid blob with a zero count or a
    # negative mean delta would rehydrate a digest whose quantile/cdf
    # reads return confident garbage (zero total weight; non-monotone
    # means break the sorted-centroid invariant np.interp relies on).
    # Every payload our encoder or the reference encoder produces
    # passes (counts >= 1 by construction, deltas are diffs of sorted
    # means) — this only rejects corruption.
    if n:
        if deltas[1:].min(initial=0.0) < 0.0:
            raise ValueError("negative centroid mean delta (unsorted means)")
        if counts.min() < 1:
            raise ValueError("centroid count < 1 in serialization")
    return TDigest.from_centroids(means, counts, compression)


# ---------------------------------------------------------------- internal v3


def encode(digest: TDigest) -> bytes:
    """Exact internal encoding (float64 means / int64 counts)."""
    means, counts = digest.centroids()
    header = _INT_HEADER.pack(_INT_MAGIC, digest.compression, means.size)
    return (
        header
        + means.astype("<f8", copy=False).tobytes()
        + counts.astype("<i8", copy=False).tobytes()
    )


def decode(buf: bytes) -> TDigest:
    if len(buf) < _INT_HEADER.size:
        raise ValueError("buffer too small for deserialization")
    magic, compression, n = _INT_HEADER.unpack_from(buf, 0)
    if magic != _INT_MAGIC:
        raise ValueError("not an internal digest payload")
    off = _INT_HEADER.size
    if n < 0 or n > _MAX_CENTROIDS or len(buf) < off + 16 * n:
        raise ValueError("bad number of centroids in serialization")
    means = np.frombuffer(buf, dtype="<f8", count=n, offset=off).astype(np.float64)
    counts = np.frombuffer(buf, dtype="<i8", count=n, offset=off + 8 * n).astype(
        np.int64
    )
    return TDigest.from_centroids(means, counts, compression)


# NumPy record with the exact layout of _INT_HEADER (16 bytes, packed)
_INT_HEADER_DTYPE = np.dtype([("magic", "S4"), ("compression", "<f8"), ("n", "<i4")])
_INT_MAGIC_U32 = int.from_bytes(_INT_MAGIC, "little")


def encode_many(means, counts, offsets, compression) -> pa.BinaryArray:
    """``encode`` for many digests at once: digest r has centroids
    ``[offsets[r], offsets[r+1])`` (``offsets[0] == 0``) and ``compression`` (scalar or one per
    digest).  Returns an Arrow binary column whose values are
    byte-identical to per-digest ``encode``.

    Every blob is 16 + 16n bytes, so the column is written as 8-byte
    words: one word index per centroid, never one per byte.
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    n = np.diff(offsets)
    rows = n.size
    blob_off = np.zeros(rows + 1, dtype=np.int64)
    np.cumsum(16 + 16 * n, out=blob_off[1:])
    if blob_off[-1] >= 1 << 31:
        raise ValueError("digest column exceeds 2 GiB")
    words = np.empty(int(blob_off[-1]) // 8, dtype="<u8")
    head = np.zeros(rows, dtype=_INT_HEADER_DTYPE)
    head["magic"] = _INT_MAGIC
    head["compression"] = compression
    head["n"] = n
    hw = head.view("<u8").reshape(rows, 2)
    w0 = blob_off[:-1] // 8
    words[w0] = hw[:, 0]
    words[w0 + 1] = hw[:, 1]
    mi = np.repeat(w0 + 2 - offsets[:-1], n) + np.arange(offsets[-1])
    words[mi] = np.asarray(means, dtype="<f8").view("<u8")
    mi += np.repeat(n, n)
    words[mi] = np.asarray(counts, dtype="<i8").view("<u8")
    return pa.Array.from_buffers(
        pa.binary(), rows,
        [None, pa.py_buffer(blob_off.astype(np.int32)), pa.py_buffer(words)],
    )


def decode_many(column) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """``decode`` for a whole Arrow binary column: returns (means,
    counts, offsets, compression) with digest r's centroids at
    ``[offsets[r], offsets[r+1])``.  Validates every blob as ``decode``
    does and raises the same ``ValueError``s.
    """
    if isinstance(column, pa.ChunkedArray):
        column = column.combine_chunks()
    if column.null_count:
        raise ValueError("null digest in column")
    rows = len(column)
    if rows == 0:
        empty = np.zeros(0, dtype=np.int64)
        return np.zeros(0), empty, np.zeros(1, dtype=np.int64), np.zeros(0)
    off_type = np.int64 if pa.types.is_large_binary(column.type) else np.int32
    _, off_buf, data_buf = column.buffers()
    boff = np.frombuffer(
        off_buf, dtype=off_type, count=rows + 1, offset=column.offset * off_type().itemsize
    ).astype(np.int64)
    data = b"" if data_buf is None else data_buf
    start, length = boff[:-1], np.diff(boff)
    if (length < _INT_HEADER.size).any():
        raise ValueError("buffer too small for deserialization")
    if ((start - start[0]) % 8).any():
        # blobs with trailing bytes leave the column unaligned: copy each
        # blob to an 8-byte boundary (never happens for encode output)
        blobs = [b + bytes(-len(b) % 8) for b in column.to_pylist()]
        data = b"".join(blobs)
        start = np.zeros(rows, dtype=np.int64)
        np.cumsum([len(b) for b in blobs[:-1]], out=start[1:])
    r = int(start[0]) % 8
    words = np.frombuffer(data, dtype="<u8", count=(len(data) - r) // 8, offset=r)
    w0 = (start - r) // 8
    h0, h1 = words[w0], words[w0 + 1]
    if ((h0 & 0xFFFFFFFF) != _INT_MAGIC_U32).any():
        raise ValueError("not an internal digest payload")
    n = (h1 >> np.uint64(32)).astype(np.uint32).view(np.int32).astype(np.int64)
    if ((n < 0) | (n > _MAX_CENTROIDS) | (length < 16 + 16 * n)).any():
        raise ValueError("bad number of centroids in serialization")
    compression = ((h0 >> np.uint64(32)) | (h1 << np.uint64(32))).view("<f8")
    offsets = np.zeros(rows + 1, dtype=np.int64)
    np.cumsum(n, out=offsets[1:])
    mi = np.repeat(w0 + 2 - offsets[:-1], n) + np.arange(offsets[-1])
    means = words[mi].view("<f8").astype(np.float64)
    mi += np.repeat(n, n)
    counts = words[mi].view("<i8").astype(np.int64)
    return means, counts, offsets, compression.astype(np.float64)


def empty_digest_bytes(compression: float = 100.0) -> bytes:
    return encode(TDigest(compression=compression))
