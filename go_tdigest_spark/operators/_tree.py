"""Shared salted tree-merge for mergeable-sketch partials.

One reduction shape serves every sketch in the library (t-digest, HLL,
CMS, Bloom, KLL): stage-1 emits one partial row per (stage-1 task x
group), a small input in at most one task per core
(``_batch.partial_stage``); this helper merges them down to one row per
group with *bounded reducer fan-in* at every level, which is what keeps
a global or hot-key merge from funnelling 100k partials into a single
python worker.

Every keyed level's exchange is sized from the bytes it moves, as
Spark's own aggregate exchange is: hash partitioning at
``spark.sql.shuffle.partitions``, coalesced by adaptive execution, so a
small aggregate merges (and is read) in one Python task, not one per
core.  Only the salt-level count is taken from the partials' partition
count.

Salt derivation is deterministic at every level (advisor finding,
round 1): level 0 uses ``spark_partition_id() % n_salts`` — a hard bound
because each stage-1 partition contributes at most one partial per group —
and each subsequent level re-buckets the *carried* salt via integer
division by ``fanin``, so the per-reducer fan-in is exactly ``<= fanin``
at every level, not just in expectation under hash partitioning.

Every level agrees with stage 1 on what a group is: float keys are
normalized before the exchange (``_batch.group_keys``) and each task
numbers its groups with Arrow dictionary codes of the exact key values
(``_batch.group_ids``), the rule ``partial_stage`` follows — no key is
rendered to JSON or read into Python.

Merge associativity (reference: tdigest.go:262-272 for the digest; HLL
register-max / CMS counter-add / Bloom bit-or are trivially associative)
is what makes tree depth irrelevant to correctness.
"""

from __future__ import annotations

import math
from typing import Callable, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ._batch import ROWS_COL, _arrow_schema, group_ids, group_keys

TaskMerge = Callable[[pa.Table, np.ndarray, int], list]


def group_sum(column, gids: np.ndarray, n_groups: int) -> pa.Array:
    """Per-group sum of a non-null integer column (count columns)."""
    vals = column.to_numpy()
    return pa.array(
        np.bincount(gids, weights=vals, minlength=n_groups).astype(np.int64),
        type=pa.int64(),
    )


def grouped_merge(
    df: DataFrame,
    group_cols: list[str],
    value_fields: Sequence[StructField],
    merge: TaskMerge,
) -> DataFrame:
    """One-row-per-group merge via repartition + one task-level merge.

    Same co-location guarantee as groupBy().applyInPandas (hash
    partitioning on the group columns), but ONE python call per shuffle
    partition instead of one per group, and no per-group work outside
    ``merge``.  With no group columns every row goes to one partition
    and forms one group.

    The keyed exchange is sized as Spark sizes its own ``groupBy``
    exchange: ``repartition(*group_cols)`` hashes into
    ``spark.sql.shuffle.partitions`` partitions, and adaptive execution
    (on by default) coalesces them by the bytes they hold, so a handful
    of partial rows is merged and read in one Python task instead of one
    per core.  A coalesced read only joins whole hash partitions, so
    each group still lands in one task.  With adaptive execution off the
    width is ``spark.sql.shuffle.partitions``, and so it is for a
    persisted result unless
    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is
    true (``session.session_config`` sets it).  Nothing runs while the
    DataFrame is built.

    The output is ``df``'s ``group_cols`` fields + ``value_fields``.
    ``merge`` returns the value arrays except ``n_rows``: when
    ``value_fields`` has it, it is the sum of the input ``n_rows`` per
    group (as ``_batch.partial_stage`` fills it in stage 1).

    Exact-key discipline: keys follow the one rule stage 1 follows.
    Float keys are normalized before the exchange
    (``_batch.group_keys``: -0.0 is +0.0, every NaN one NaN, as in
    Spark's own ``groupBy``), and each task numbers its rows' key tuples
    with Arrow dictionary codes (``_batch.group_ids``), the codes stage 1
    uses: exact values for every type, so int64 > 2^53 beside NULLs,
    sub-millisecond timestamps and decimals stay distinct, with no key
    rendering and no Python key values.  Ids number the groups in order
    of first row, and the output key columns are Arrow ``take``s of each
    group's first row.
    """
    key_set = set(group_cols)
    out_schema = StructType(
        [f for f in df.schema.fields if f.name in key_set] + list(value_fields)
    )
    if group_cols:
        df = df.withColumns(dict(zip(group_cols, group_keys(df, group_cols))))
        dist = df.repartition(*[F.col(c) for c in group_cols])
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
            gids, n_groups, first = group_ids(
                [table.column(c).chunk(0) for c in group_cols]
            )
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
            )
            n_parts = n_salts

    # final level (a global aggregate is one group on one reducer)
    return grouped_merge(partials, by, value_fields, merge)
