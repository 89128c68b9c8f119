"""Shared Arrow-batch helpers, and the stage-1 driver every partial
builder runs on (``partial_stage``)."""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType

ROWS_COL = "n_rows"

# Stage 1 coalesces an input of at most this many bytes per core (see
# partial_stage): ~2 s of stage-1 building per core (float t-digests
# read ~7 MB/s of parquet per core on a 4-core x86 host), against
# ~0.2 s of fixed cost for every Python task the coalesce saves.
COALESCE_BYTES_PER_CORE = 16 << 20


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


def group_codes(batch: pa.RecordBatch, n_by: int):
    """Group the rows of a batch by its first ``n_by`` columns.

    The key columns are dictionary-encoded by Arrow into one combined
    mixed-radix row code (NULL keys via the -1 sentinel).  Returns
    ``(row_order, row_counts, keys, first_rows)``: one entry of
    ``row_counts``/``keys``/``first_rows`` per distinct code, in code
    order, ``keys`` as exact python tuples.  ``row_order`` is the STABLE
    argsort of the codes (so each group's rows keep their order and form
    one contiguous run), or None when the batch is one group.
    """
    n = batch.num_rows
    if n_by == 0:
        return None, np.array([n], dtype=np.int64), [()], None
    combined = np.zeros(n, dtype=np.int64)
    mult = 1
    for j in range(n_by - 1, -1, -1):
        enc = pc.dictionary_encode(batch.column(j))
        idx = (
            enc.indices.fill_null(-1)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        combined += (idx + 1) * mult
        mult *= len(enc.dictionary) + 1
    uniq_codes, row_counts = np.unique(combined, return_counts=True)
    if uniq_codes.size == 1:
        row_order, first_rows = None, np.zeros(1, dtype=np.int64)
    else:
        row_order = np.argsort(combined, kind="stable")
        first_rows = row_order[
            np.searchsorted(combined[row_order], uniq_codes, side="left")
        ]
    # one Arrow take + to_pylist per key column (exact python values)
    take = pa.array(first_rows, type=pa.int64())
    keys = list(
        zip(*(batch.column(j).take(take).to_pylist() for j in range(n_by)))
    )
    return row_order, row_counts, keys, first_rows


def _arrow_schema(schema: StructType) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema([pa.field(f.name, to_arrow_type(f.dataType)) for f in schema])


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
      group ``gids[k]``'s rows are ``[offsets[k], offsets[k+1])``.  Group
      ids number the task's groups ``0, 1, ...`` in order of first
      appearance.  An id can own two segments of one batch when two keys
      are equal in Python but not in Arrow (0.0 and -0.0).
    * ``builder.finish(n_groups)`` once, returning one array per value
      field with one entry per group id, except ``n_rows``: when
      ``value_fields`` has an ``n_rows`` field it is filled in here with
      each group's input row count.

    Key columns are Arrow ``take``s of each group's first row, so key
    values stay exact for every type, as in ``_tree.grouped_merge``.
    """
    n_by = len(by)
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
            row_order, row_counts, keys, first_rows = group_codes(batch, n_by)
            gids = np.empty(len(keys), dtype=np.int64)
            new = []
            for i, k in enumerate(keys):
                g = gid_of.get(k)
                if g is None:
                    g = gid_of[k] = len(gid_of)
                    new.append(i)
                gids[i] = g
            if n_by and new:
                take = pa.array(first_rows[new], type=pa.int64())
                key_rows.append([batch.column(j).take(take) for j in range(n_by)])
            rows_seen.append((gids, row_counts))
            offsets = np.zeros(len(keys) + 1, dtype=np.int64)
            np.cumsum(row_counts, out=offsets[1:])
            cols = batch.columns[n_by:]
            if row_order is not None:
                take = pa.array(row_order, type=pa.int64())
                cols = [c.take(take) for c in cols]
            builder.add(gids, offsets, cols)
        if not gid_of:
            return
        n_groups = len(gid_of)
        values = dict(zip(value_names, builder.finish(n_groups)))
        n_rows = np.zeros(n_groups, dtype=np.int64)
        for gids, counts in rows_seen:
            np.add.at(n_rows, gids, counts)  # gids may repeat
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
