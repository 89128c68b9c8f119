"""Shared salted tree-merge for mergeable-sketch partials.

One reduction shape serves every sketch in the library (t-digest, HLL,
CMS, Bloom, KLL): stage-1 emits one partial row per (stage-1 task x
group), a small input in at most one task per core
(``_batch.partial_stage``); this helper merges them down to one row per
group with *bounded reducer fan-in* at every level, which is what keeps
a global or hot-key merge from funnelling 100k partials into a single
python worker.

Salt derivation is deterministic at every level (advisor finding,
round 1): level 0 uses ``spark_partition_id() % n_salts`` — a hard bound
because each stage-1 partition contributes at most one partial per group —
and each subsequent level re-buckets the *carried* salt via integer
division by ``fanin``, so the per-reducer fan-in is exactly ``<= fanin``
at every level, not just in expectation under hash partitioning.

Merge associativity (reference: tdigest.go:262-272 for the digest; HLL
register-max / CMS counter-add / Bloom bit-or are trivially associative)
is what makes tree depth irrelevant to correctness.
"""

from __future__ import annotations

import math
from typing import Callable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, StructField, StructType

from ._batch import ROWS_COL, _arrow_schema

_GKEY = "_gkey"
# Default to_json truncates timestamps to MILLISECONDS (.SSS) — explicit
# micro-precision formats keep the key rendering injective for
# sub-millisecond-distinct timestamp keys (Spark timestamps are exactly
# microsecond-precision, so 6 fractional digits are lossless).
_KEY_JSON_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}

TaskMerge = Callable[[pa.Table, np.ndarray, int], list]


def group_sum(column, gids: np.ndarray, n_groups: int) -> pa.Array:
    """Per-group sum of a non-null integer column (count columns)."""
    vals = column.to_numpy()
    return pa.array(
        np.bincount(gids, weights=vals, minlength=n_groups).astype(np.int64),
        type=pa.int64(),
    )


def _group_ids(keys: pa.Array) -> tuple[np.ndarray, int, np.ndarray]:
    """(group id per row, group count, first row of each group) from the
    rendered key column; ids number the groups in order of first row."""
    gids = (
        pc.dictionary_encode(keys).indices.to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    # ids are assigned in first-appearance order, so a group's first row
    # is where the running maximum steps up
    first = np.flatnonzero(np.diff(np.maximum.accumulate(gids), prepend=-1) > 0)
    return gids, first.size, first


def grouped_merge(
    df: DataFrame,
    group_cols: list[str],
    value_fields: Sequence[StructField],
    merge: TaskMerge,
    n_upstream: int | None = None,
) -> DataFrame:
    """One-row-per-group merge via repartition + one task-level merge.

    Same co-location guarantee as groupBy().applyInPandas (hash
    partitioning on the group columns), but ONE python call per shuffle
    partition instead of one per group, and no per-group work outside
    ``merge``.  With no group columns every row goes to one partition
    and forms one group.

    The output is ``df``'s ``group_cols`` fields + ``value_fields``.
    ``merge`` returns the value arrays except ``n_rows``: when
    ``value_fields`` has it, it is the sum of the input ``n_rows`` per
    group (as ``_batch.partial_stage`` fills it in stage 1).

    Exact-key discipline: group ids come from a JVM-computed JSON
    rendering of the key tuple (injective over distinct key tuples,
    rendered from exact values — a long key beside NULLs never passes
    through lossy float64), and the output key columns are Arrow
    ``take``s of each group's first row, so key values stay exact for
    every type (int64 > 2^53, timestamps, decimals).
    """
    key_set = set(group_cols)
    out_schema = StructType(
        [f for f in df.schema.fields if f.name in key_set] + list(value_fields)
    )
    if group_cols:
        # Float/double group keys: normalize -0.0 to +0.0 BEFORE both
        # the exchange and the JSON rendering.  Spark's own groupBy
        # folds them into one group (NormalizeFloatingNumbers), but
        # to_json renders them differently ({"k":0.0} vs {"k":-0.0}),
        # so without this a double `by` column containing both zeros
        # would emit two digest rows for one logical group.  The SQL
        # comparison -0.0 == 0.0 is TRUE, so the when() rewrites
        # exactly the two zeros; NaN/null fall through unchanged.
        for f in df.schema.fields:
            if f.name in group_cols and isinstance(
                f.dataType, (FloatType, DoubleType)
            ):
                df = df.withColumn(
                    f.name,
                    F.when(
                        F.col(f.name) == 0.0, F.lit(0.0).cast(f.dataType)
                    ).otherwise(F.col(f.name)),
                )
        # Merge-exchange width is DERIVED from the upstream partition
        # count instead of pinned to spark.sql.shuffle.partitions: the
        # partial tables carry at most (upstream partitions x groups)
        # rows of O(compression) bytes, so min(shuffle.partitions,
        # upstream) reducers is always enough — at scale upstream >>
        # shuffle.partitions and the width is unchanged, while a small
        # input stops scheduling one python-worker task per configured
        # shuffle partition for a handful of partial rows (guide §2.2:
        # size the exchange from the data, not the core count).
        # gkey is computed AFTER the exchange so the JSON rendering is
        # not serialized through the shuffle alongside the raw keys.
        try:
            n_shuffle = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            n_shuffle = df.sparkSession.sparkContext.defaultParallelism
        if n_upstream is None:
            n_upstream = df.rdd.getNumPartitions()
        n_target = max(1, min(n_shuffle, n_upstream))
        dist = df.repartition(
            n_target, *[F.col(c) for c in group_cols]
        ).withColumn(
            _GKEY,
            F.to_json(F.struct(*[F.col(c) for c in group_cols]), _KEY_JSON_OPTS),
        )
    else:
        # one group on one task; no exchange when the input already is a
        # single partition (e.g. the previous merge level's output), the
        # case where a grouped exchange would have been elided too
        one = df._jdf.queryExecution().sparkPlan().outputPartitioning()
        dist = df if one.numPartitions() == 1 else df.repartition(1)
    arrow_out = _arrow_schema(out_schema)
    value_names = [f.name for f in value_fields if f.name != ROWS_COL]
    sum_rows = len(value_names) < len(value_fields)

    def run(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        table = pa.Table.from_batches(batches).combine_chunks()
        if group_cols:
            gids, n_groups, first = _group_ids(table.column(_GKEY).chunk(0))
        else:
            gids = np.zeros(table.num_rows, dtype=np.int64)
            n_groups, first = 1, np.zeros(1, dtype=np.int64)
        values = dict(zip(value_names, merge(table, gids, n_groups)))
        if sum_rows:
            values[ROWS_COL] = group_sum(table.column(ROWS_COL), gids, n_groups)
        take = pa.array(first, type=pa.int64())
        arrays = [
            table.column(f.name).chunk(0).take(take).cast(f.type)
            if f.name in key_set
            else values[f.name].cast(f.type)
            for f in arrow_out
        ]
        yield pa.RecordBatch.from_arrays(arrays, schema=arrow_out)

    return dist.mapInArrow(run, out_schema)


def tree_merge(
    partials: DataFrame,
    by: Sequence[str],
    value_fields: Sequence[StructField],
    merge: TaskMerge,
    fanin: int | None,
    n_units: int | None = None,
) -> DataFrame:
    """Merge partial rows to one row per group.

    The output is the ``by`` columns + ``value_fields``.  ``merge(table,
    gids, n_groups)`` is a task-level merge: it gets every partial row of
    one reducer task as an Arrow table plus each row's group id (``0 ..
    n_groups-1``, numbered in order of first row) and returns one Arrow
    array per value column (``n_rows`` excepted, see ``grouped_merge``)
    with one entry per group id.  Key columns are filled in by the tree
    (exact Arrow values).  ``fanin=None`` disables salting (single-level
    merge).

    ``n_units``: upper bound on partials per group.  The default (None)
    assumes the stage-1 invariant — at most one partial per (stage-1
    partition, group), true for the mapInArrow stage-1 output — and
    sizes/salts level 0 by partition id (hard bound).  Partials read
    back FROM STORAGE break that invariant (the parquet reader packs
    many small files into one partition), so those callers must pass the
    actual partial row count: level 0 then salts by a hash of a unique
    row id (uniform in expectation over >= fanin rows per salt), and
    every later level re-buckets the carried salt deterministically
    (hard bound again, since level 0 leaves one row per (group, salt)).
    """
    by = list(by)
    if fanin is not None and fanin < 2:
        raise ValueError("fanin must be >= 2")

    if not fanin:
        n_parts = 0
    elif n_units is not None:
        n_parts = n_units
    else:
        n_parts = partials.rdd.getNumPartitions()
    if fanin:
        first = True
        while n_parts > fanin:
            n_salts = int(math.ceil(n_parts / fanin))
            if first and n_units is not None:
                # storage-read partials: rows per (partition, group) are
                # unbounded, so spread by hashed unique row id instead
                salt = F.pmod(
                    F.xxhash64(F.monotonically_increasing_id()),
                    F.lit(n_salts),
                ).cast("long")
            elif first:
                # hard bound: partition ids 0..P-1 map round-robin onto
                # salts, and each stage-1 partition holds <=1 partial/group
                salt = (F.spark_partition_id() % F.lit(n_salts)).cast("long")
            else:
                # hard bound: previous level left exactly one row per
                # (group, salt<n_parts); consecutive-salt blocks of size
                # `fanin` collapse into one reducer
                salt = F.floor(F.col("_salt") / F.lit(fanin)).cast("long")
            first = False
            partials = grouped_merge(
                partials.withColumn("_salt", salt),
                by + ["_salt"],
                value_fields,
                merge,
                n_upstream=n_parts,
            )
            n_parts = n_salts

    # final level (a global aggregate is one group on one reducer); after
    # salt levels the upstream width is the last level's reducer count,
    # fanin=None probes the plan directly
    return grouped_merge(
        partials,
        by,
        value_fields,
        merge,
        n_upstream=n_parts if fanin else None,
    )
