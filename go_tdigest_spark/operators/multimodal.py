"""Multimodal (binary payload) plumbing for training-data pipelines.

Images/audio/video are opaque ``binary`` columns with typed metadata.
The Spark-side machinery here — schema, Arrow batch shape, partitioning,
UDF signatures — is real and tested; the actual media decode is stubbed
behind ``NotImplementedError`` (no image/audio libraries exist in this
container) with a clearly-marked deterministic fake for tests.

Every kernel is one row-wise Arrow pass (``_batch.map_rows``) over the
non-NULL ``(id, payload)`` rows: payload bytes stay in Arrow buffers
until the numpy view, and the id comes out as ``doc`` with its input
field.  Each kernel keeps only its per-batch math.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, IntegerType, LongType, StructField

from ._batch import map_rows

CHECKSUM_MOD = 2_147_483_647


def _payload_pass(df, bin_col, id_col, fields, fn) -> DataFrame:
    """``doc`` (the id) plus ``fields``, computed by ``fn(payload)`` from
    each batch's non-NULL payload column."""
    return map_rows(
        df.select(id_col, bin_col),
        [("doc", id_col), *fields],
        lambda batch: (None, fn(batch.column(1))),
        drop_null=bin_col,
    )


def binary_features(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """Per-payload metadata: byte length, additive checksum, head/tail
    bytes.  Vectorized over each Arrow batch (single numpy pass over the
    concatenated value buffer, sliced by offsets)."""

    def features(payload):
        n = len(payload)
        # binary arrays: contiguous value buffer + offsets
        data_buf = payload.buffers()[2]
        buf = (
            np.frombuffer(data_buf, dtype=np.uint8)
            if data_buf is not None
            else np.zeros(0, dtype=np.uint8)
        )
        offsets = np.frombuffer(
            payload.buffers()[1], dtype=np.int32, count=n + 1,
            offset=payload.offset * 4,
        ).astype(np.int64)
        lengths = np.diff(offsets)
        prefix = np.zeros(buf.size + 1, dtype=np.int64)
        np.cumsum(buf, dtype=np.int64, out=prefix[1:])
        csum = (prefix[offsets[1:]] - prefix[offsets[:-1]]) % CHECKSUM_MOD
        if buf.size:
            head = np.where(
                lengths > 0, buf[np.minimum(offsets[:-1], buf.size - 1)], -1
            )
            tail = np.where(lengths > 0, buf[np.maximum(offsets[1:] - 1, 0)], -1)
        else:
            head = tail = np.full(n, -1)
        return {
            "n_bytes": lengths,
            "checksum": csum,
            "head_byte": head,
            "tail_byte": tail,
        }

    fields = [
        StructField("n_bytes", LongType()),
        StructField("checksum", LongType()),
        StructField("head_byte", IntegerType()),
        StructField("tail_byte", IntegerType()),
    ]
    return _payload_pass(df, bin_col, id_col, fields, features)


def decode_media(
    df: DataFrame,
    bin_col: str,
    id_col: str,
    media: str = "image",
    fake: bool = False,
) -> DataFrame:
    """Decode media payloads to typed metadata (width/height/channels or
    sample_rate/n_samples).

    STUB: real decoding requires PIL/ffmpeg, which this container does not
    ship.  ``fake=True`` substitutes a deterministic function of the byte
    length so the full Spark plumbing (schema, batching, downstream
    grouping) is exercised end to end.
    """
    if not fake:
        raise NotImplementedError(
            f"{media} decoding requires media libraries not present in this "
            "environment; pass fake=True for the deterministic test double"
        )

    def decode(payload):
        lengths = pc.binary_length(payload).to_numpy(zero_copy_only=False)
        # FAKE decode: dims derived from byte length, deterministic
        return {
            "width": lengths % 640 + 1,
            "height": lengths % 480 + 1,
            "channels": np.full(len(lengths), 3),
        }

    fields = [StructField(c, IntegerType()) for c in ("width", "height", "channels")]
    return _payload_pass(df, bin_col, id_col, fields, decode)


def frame_sample(df: DataFrame, bin_col: str, id_col: str, stride: int = 16) -> DataFrame:
    """Sample every ``stride``-th byte of the payload ("frame sampling"
    shape for video columns): binary in, smaller binary out."""
    if stride < 1:
        # fail on the driver: stride=0 would raise per-row inside
        # executors and a negative stride silently REVERSES the payload
        raise ValueError(f"stride must be >= 1, got {stride}")

    def sample(payload):
        return {"frames": [v[::stride] for v in payload.to_pylist()]}

    fields = [StructField("frames", BinaryType())]
    return _payload_pass(df, bin_col, id_col, fields, sample)
