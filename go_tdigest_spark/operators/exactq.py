"""Exact grouped percentiles as a two-stage Arrow kernel.

``exact_percentiles`` computes the same values as Spark's
``percentile(col, array(...))`` aggregate (sorted-order linear
interpolation at rank ``q * (n - 1)``, two-sided lerp in double
arithmetic — Percentile.scala's formula replicated bit-for-bit) but
through the library's partial->merge shape instead of the JVM's
OpenHashMap-of-boxed-doubles aggregation buffer:

  * stage 1 (zero shuffle): per (stage-1 task x group), a small input
    in at most one task per core, one binary blob of the group's values as a sorted
    float64 run, built on the stage-1 driver every partial builder
    shares (``_batch.partial_stage``) by ``_SortedRuns``;
  * stage 2: ``_tree.grouped_merge`` (hash exchange on the group
    columns, exact keys) with one vectorized task-level merge: decode
    every run, sort once by (group, value), and interpolate.

Shuffle posture at scale: identical to Spark's own ``percentile`` — the
per-partition pre-aggregation ships every distinct value to one reducer
per group (an exact percentile is not sketchable; that is what the
t-digest is for).  The blobs here are packed float64 runs rather than
boxed-object hash maps, which is why the kernel is several times
faster per byte.  This is the library's VERIFICATION-tier companion for
exact-percentile oracle arms; production reads use digest quantiles.

Groups whose values are all NULL emit no row (Spark's aggregate emits a
NULL array for them) — identical join behavior downstream of a
tdigest_agg estimate arm, which also drops value-less groups.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    StructField,
)

from ._batch import partial_stage
from ._tree import grouped_merge

RUN_COL = "_blob"


def _sort_by_group(gids: np.ndarray, values: np.ndarray, n_groups: int):
    """(values sorted by (group, value), start of each group's run)."""
    values = values[np.lexsort((values, gids))]
    starts = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(np.bincount(gids, minlength=n_groups), out=starts[1:])
    return values, starts


class _SortedRuns:
    """Task-level builder for ``_batch.partial_stage``: each group's
    values as one sorted float64 run, packed in a binary blob."""

    def __init__(self) -> None:
        self.gids: list = []  # group id of every value, per batch
        self.values: list = []

    def add(self, gids, offsets, cols) -> None:
        self.gids.append(np.repeat(gids, np.diff(offsets)))
        self.values.append(
            cols[0].to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        )

    def finish(self, n_groups: int) -> list:
        values, starts = _sort_by_group(
            np.concatenate(self.gids), np.concatenate(self.values), n_groups
        )
        byte_off = 8 * starts
        if byte_off[-1] >= 1 << 31:
            raise ValueError("sorted-run column exceeds 2 GiB")
        return [
            pa.Array.from_buffers(
                pa.binary(),
                n_groups,
                [None, pa.py_buffer(byte_off.astype(np.int32)), pa.py_buffer(values)],
            )
        ]


def _decode_runs(runs: pa.BinaryArray) -> tuple[np.ndarray, np.ndarray]:
    """(all values, values per run) of a column of sorted-run blobs."""
    _, off_buf, data_buf = runs.buffers()
    off = np.frombuffer(off_buf, np.int32, len(runs) + 1, 4 * runs.offset)
    lengths = np.diff(off) // 8
    return np.frombuffer(data_buf, "<f8", lengths.sum(), off[0]), lengths


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    qs: Sequence[float],
    by: Sequence[str] = (),
    out_col: str = "_pb",
) -> DataFrame:
    """One row per group: ``by..., out_col array<double>`` with the exact
    percentiles of ``value_col`` at each q in ``qs`` — value-identical
    to ``percentile(value_col, array(qs...))``."""
    qarr = np.asarray([float(q) for q in qs], dtype=np.float64)
    if qarr.size == 0:
        raise ValueError("qs must be non-empty")
    if ((qarr < 0.0) | (qarr > 1.0)).any():
        raise ValueError("percentile points must be in [0, 1]")
    by = list(by)
    pruned = df.select(*by, value_col).where(F.col(value_col).isNotNull())
    partials = partial_stage(
        pruned, by, [StructField(RUN_COL, BinaryType(), False)], _SortedRuns
    )

    def merge(table: pa.Table, gids: np.ndarray, n_groups: int) -> list:
        values, lengths = _decode_runs(table.column(RUN_COL).chunk(0))
        values, starts = _sort_by_group(
            np.repeat(gids, lengths), values, n_groups
        )
        # Spark Percentile.scala at pos = q * (n - 1) within each group:
        # (higher - pos) * lowerValue + (pos - lower) * higherValue, the
        # exact value when higher == lower
        pos = qarr * (np.diff(starts) - 1)[:, None]
        lo = np.floor(pos).astype(np.int64)
        hi = np.ceil(pos).astype(np.int64)
        v_lo = values[starts[:-1, None] + lo]
        v_hi = values[starts[:-1, None] + hi]
        res = np.where(hi == lo, v_lo, (hi - pos) * v_lo + (pos - lo) * v_hi)
        return [
            pa.ListArray.from_arrays(
                np.arange(0, res.size + 1, qarr.size, dtype=np.int32),
                res.ravel(),
            )
        ]

    return grouped_merge(
        partials, by, [StructField(out_col, ArrayType(DoubleType()), False)], merge
    )
