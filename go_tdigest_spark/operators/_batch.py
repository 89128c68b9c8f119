"""Shared Arrow-batch helpers and two ``mapInArrow`` passes: the
row-wise pass every stateless kernel runs on (``map_rows``) and the
stage-1 pass every partial builder runs on (``partial_stage``).  Every
output schema is a Spark ``StructType``; its Arrow twin comes from
``_arrow_schema``."""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, StructField, StructType

ROWS_COL = "n_rows"

# Stage 1 coalesces an input of at most this many bytes per core (see
# partial_stage): ~2 s of stage-1 building per core (float t-digests
# read ~7 MB/s of parquet per core on a 4-core x86 host), against
# ~0.2 s of fixed cost for every Python task the coalesce saves.
COALESCE_BYTES_PER_CORE = 16 << 20

_INT64_MAX = np.iinfo(np.int64).max


def poly_hash_batch(
    strings: list[str], base: int = 31, mod: int = 1_000_000_007
) -> np.ndarray:
    """Vectorized polynomial codepoint hash ``h = (h*base + cp) % mod``
    for every string of a batch: one utf-32 encode for the whole batch,
    then one column-wise pass per character position (max_len passes
    total, each a fancy-indexed numpy expression — no per-string loop).

    Bit-identical to the SQL formulation ``aggregate(transform(...))`` /
    ``list_reduce`` used by the oracle twins (ascii() == codepoint).
    """
    m = len(strings)
    h = np.zeros(m, dtype=np.int64)
    if m == 0:
        return h
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=m)
    cps = np.frombuffer(
        "".join(strings).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    offs = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    max_len = int(lens.max())
    for j in range(max_len):
        active = lens > j
        h[active] = (h[active] * base + cps[offs[:-1][active] + j]) % mod
    return h


def group_keys(df: DataFrame, by: Sequence[str]) -> list[Column]:
    """The ``by`` columns of ``df`` as group keys, one column per name:
    the key rule of stage 1 (``partial_stage``), every merge level
    (``_tree.grouped_merge``) and the annotators' lookup key.  Float
    keys are normalized as Spark's own ``groupBy`` does
    (NormalizeFloatingNumbers): -0.0 becomes +0.0 and every NaN one NaN,
    since Arrow (``group_ids``) and the exchange's hash compare floats
    by their bits and ``to_json`` renders -0.0 as ``-0.0``.  NULL and
    every other type pass through unchanged."""
    types = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for c in by:
        col, t = F.col(c), types[c]
        if isinstance(t, (FloatType, DoubleType)):
            col = (
                F.when(col == 0.0, F.lit(0.0).cast(t))
                .when(F.isnan(col), F.lit(float("nan")).cast(t))
                .otherwise(col)
            )
        cols.append(col.alias(c))
    return cols


def top_k(
    df: DataFrame,
    by: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_col: str,
) -> DataFrame:
    """The ``k`` first rows of each ``by`` group of ``df`` in ``order``,
    with their 1-based ``row_number`` as ``rank_col`` (appended last):
    one shuffle on ``by`` and a rank-limit window, which Spark plans
    with a WindowGroupLimit below the shuffle.  With no ``by`` it is
    ``orderBy(*order).limit(k)`` and adds no rank column: that plans as
    TakeOrderedAndProject (per-partition partial top-k, one k-row
    merge), where an empty-keyed window would funnel every row into one
    task.  An input column named ``rank_col`` is refused."""
    if rank_col in df.columns:
        raise ValueError(f"input column {rank_col!r} is reserved")
    if not by:
        return df.orderBy(*order).limit(k)
    w = Window.partitionBy(*by).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= k
    )


def _first_seen(codes: np.ndarray) -> np.ndarray:
    """Renumber int64 codes 0, 1, ... in order of first appearance."""
    enc = pc.dictionary_encode(pa.array(codes, type=pa.int64()))
    return enc.indices.to_numpy().astype(np.int64)


def group_ids(keys: Sequence[pa.Array]) -> tuple[np.ndarray, int, np.ndarray]:
    """(group id per row, group count, first row of each group) of the
    key tuples in ``keys`` (Arrow columns of one length), ids ``0, 1,
    ...`` in order of first row.  Each column is dictionary-encoded by
    Arrow (a NULL is its own key, floats compare by their bits) and the
    codes are combined mixed-radix into one exact int64 per row; when
    the radix product could pass 2^63 the codes so far are renumbered
    densely first.  No Python values and no row sort."""
    codes = np.zeros(len(keys[0]), dtype=np.int64)
    radix = 1
    for col in reversed(keys):
        enc = pc.dictionary_encode(col)
        size = len(enc.dictionary) + 1
        if radix * size > _INT64_MAX:
            codes = _first_seen(codes)
            radix = int(codes.max()) + 1
        idx = enc.indices.fill_null(-1).to_numpy(zero_copy_only=False)
        codes += (idx.astype(np.int64) + 1) * radix
        radix *= size
    gids = _first_seen(codes)
    # a group's first row is where the running maximum id steps up
    first = np.flatnonzero(np.diff(np.maximum.accumulate(gids), prepend=-1) > 0)
    return gids, first.size, first


def _bits(col: pa.Array) -> pa.Array:
    """A float key column as its bits, so Python keys are equal exactly
    when Arrow's are (NaN == NaN, as in ``group_ids``)."""
    if pa.types.is_floating(col.type):
        return col.view(pa.int64() if col.type.bit_width == 64 else pa.int32())
    return col


def _arrow_schema(schema: StructType) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema([pa.field(f.name, to_arrow_type(f.dataType)) for f in schema])


def _typed(values, typ: pa.DataType) -> pa.Array:
    """``values`` (an Arrow or NumPy array or a list) as Arrow ``typ``."""
    if isinstance(values, pa.Array):
        return values.cast(typ)
    return pa.array(values, type=typ)


def map_rows(
    df: DataFrame,
    out: Sequence[str | tuple[str, str] | StructField],
    fn: Callable[[pa.RecordBatch], tuple[object, dict]],
    drop_null: str | None = None,
) -> DataFrame:
    """The one row-wise ``mapInArrow`` pass: each output batch is a
    function of one input batch of ``df``.

    ``out`` lists the output columns.  A ``StructField`` is a new column
    computed by ``fn``.  A name, or a ``(name, src)`` pair, passes a
    ``df`` column through (renamed to ``name``): it keeps its input
    ``StructField`` and its Arrow buffers, and is never cast.

    ``fn(batch)`` returns ``(sel, cols)``: ``sel`` picks the output rows
    (``None`` for all, a boolean mask or row indices) and is applied to
    the pass-through columns; ``cols`` maps each new column's name to
    its values for those rows, converted here to the declared type.
    Empty batches never reach ``fn``, and a batch that selects no row
    yields nothing.  ``drop_null`` drops the rows where that column is
    NULL before the pass; the schema is read from ``df`` as given.

    Four ``mapInArrow`` shapes stay out, because their output batch is
    not a function of one input batch: ``partial_stage`` groups rows
    across a task's batches, ``_tree.grouped_merge`` merges a whole
    partition, ``pack._with_prefix`` carries a prefix across batches,
    and the ``sources`` generators turn one block id into one generated
    block.
    """
    new = [isinstance(o, StructField) for o in out]
    fields, srcs = [], []
    for o in out:
        if isinstance(o, StructField):
            fields.append(o)
            continue
        name, src = (o, o) if isinstance(o, str) else o
        srcs.append(df.columns.index(src))
        f = df.schema.fields[srcs[-1]]
        fields.append(StructField(name, f.dataType, f.nullable, f.metadata))
    schema = StructType(fields)
    types = _arrow_schema(schema).types
    if drop_null is not None:
        df = df.where(F.col(drop_null).isNotNull())

    def rows(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            sel, cols = fn(batch)
            kept = batch.select(srcs)
            if sel is not None:
                sel = np.asarray(sel)
                kept = (
                    kept.filter(pa.array(sel))
                    if sel.dtype == bool
                    else kept.take(pa.array(sel, type=pa.int64()))
                )
            passed = iter(kept.columns)
            arrays = [
                _typed(cols[f.name], t) if is_new else next(passed)
                for f, t, is_new in zip(fields, types, new)
            ]
            if len(arrays[0]):
                yield pa.RecordBatch.from_arrays(arrays, names=schema.names)

    return df.mapInArrow(rows, schema)


def partial_stage(
    pruned: DataFrame,
    by: Sequence[str],
    value_fields: Sequence[StructField],
    new_builder: Callable[[], object],
) -> DataFrame:
    """Stage 1 of every two-phase aggregate: one partial row per
    (stage-1 task x group), built by ``mapInArrow`` with no shuffle.

    ``pruned`` holds the ``by`` columns first, then the columns the
    builder reads.  The output is the ``by`` fields + ``value_fields``.

    An input the plan knows to be small runs in at most one task per
    core: when its estimated size (the analyzed plan's ``sizeInBytes``;
    nothing is executed to get it) is at most ``defaultParallelism x
    COALESCE_BYTES_PER_CORE``, it is coalesced (narrow, no shuffle) to
    ``defaultParallelism`` partitions before ``mapInArrow``.  A coalesce
    to more partitions than the input has leaves it as it is.  Every
    Python task pays a fixed worker start-up cost before it reads a row
    (PySpark's worker re-reads the ``pyspark.zip`` directory through
    ``zipimport`` on each task, 0.17-0.23 s of CPU on a 4-core x86
    host), so the gain is on inputs split into many partitions that each
    cost little more than that, such as many small files read one per
    partition.  Larger inputs, and inputs of unknown size (frames built
    from pandas or an RDD, streaming inputs and their micro-batches),
    keep their partitions.

    The bound is on size because ``coalesce`` groups neighbouring input
    partitions by count, not by size, and a file scan lists its
    partitions largest first: one coalesced task can get the heaviest
    ones, and the upstream narrow work (scan, filter, projections) runs
    in the same tasks.  On a 4-core x86 host
    (``scripts/bench_stage1_shapes.py``), coalescing two 8M-row files
    and six 1M-row files (190 MB) to 4 tasks put both big files in one
    task and took a query from 7.1-7.8 s to 9.8-11 s; under the bound an unlucky
    grouping costs at most about the input's own build time (two 2.5M-
    and six 250k-row files, 56 MB: 2.6-3.0 s to 3.5-3.8 s).

    ``defaultParallelism`` is read when the plan is built: it is
    ``spark.default.parallelism`` if set, else the executor cores
    registered at that moment (at least 2).  Under dynamic allocation it
    can be 2 right after the session starts, which also shrinks the
    bound, so only an input of at most 32 MB is then coalesced.

    Each task calls ``new_builder()`` once and then:

    * ``builder.add(gids, offsets, cols)`` once per Arrow batch: ``cols``
      are the batch's non-key columns (Arrow arrays), row-sorted so that
      group ``gids[k]``'s rows are ``[offsets[k], offsets[k+1])``, one
      segment per group, each in row order.  Group ids number the
      task's groups ``0, 1, ...`` in order of first appearance.
    * ``builder.finish(n_groups)`` once, returning one array per value
      field with one entry per group id, except ``n_rows``: when
      ``value_fields`` has an ``n_rows`` field it is filled in here with
      each group's input row count.

    Groups follow the key rule of the merge levels (``group_keys``, then
    ``group_ids`` per batch; across batches, key values, floats by their
    bits).  Key columns are Arrow ``take``s of each group's first row, so
    key values stay exact for every type.
    """
    n_by = len(by)
    pruned = pruned.withColumns(dict(zip(by, group_keys(pruned, by))))
    schema = StructType(pruned.schema.fields[:n_by] + list(value_fields))
    arrow_out = _arrow_schema(schema)
    value_names = [f.name for f in value_fields if f.name != ROWS_COL]

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        builder = new_builder()
        gid_of: dict[tuple, int] = {}  # group key -> group id
        key_rows = []  # per batch: key columns of its newly seen groups
        rows_seen = []  # per batch: (gids, row counts)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            seen = len(gid_of)
            if n_by:
                local, n, first = group_ids(batch.columns[:n_by])
                take = pa.array(first, type=pa.int64())
                heads = [batch.column(j).take(take) for j in range(n_by)]
                keys = zip(*(_bits(h).to_pylist() for h in heads))
            else:
                local, n, heads, keys = None, 1, [], [()]
            gids = np.fromiter(
                (gid_of.setdefault(k, len(gid_of)) for k in keys), np.int64, n
            )
            if heads and len(gid_of) > seen:
                new = pa.array(gids >= seen)
                key_rows.append([h.filter(new) for h in heads])
            cols = batch.columns[n_by:]
            if n > 1:
                counts = np.bincount(local, minlength=n)
                take = pa.array(np.argsort(local, kind="stable"), type=pa.int64())
                cols = [c.take(take) for c in cols]
            else:
                counts = np.array([batch.num_rows], dtype=np.int64)
            rows_seen.append((gids, counts))
            offsets = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(counts, out=offsets[1:])
            builder.add(gids, offsets, cols)
        if not gid_of:
            return
        n_groups = len(gid_of)
        values = dict(zip(value_names, builder.finish(n_groups)))
        n_rows = np.zeros(n_groups, dtype=np.int64)
        for gids, counts in rows_seen:
            n_rows[gids] += counts
        values[ROWS_COL] = pa.array(n_rows, type=pa.int64())
        arrays = [
            pa.concat_arrays([r[j] for r in key_rows]).cast(arrow_out.field(j).type)
            for j in range(n_by)
        ] + [values[f.name] for f in value_fields]
        yield pa.RecordBatch.from_arrays(arrays, schema=arrow_out)

    cores = pruned.sparkSession.sparkContext.defaultParallelism
    size = pruned._jdf.queryExecution().analyzed().stats().sizeInBytes()
    if size <= cores * COALESCE_BYTES_PER_CORE:
        pruned = pruned.coalesce(cores)
    return pruned.mapInArrow(gen, schema)
