"""Sequence packing: assign documents to fixed-capacity context windows.

Pretraining pipelines concatenate tokenized documents per source and cut
the stream into ``capacity``-token windows (concat-and-chunk packing).
The assignment every doc needs is its START POSITION in the group's
token stream — a grouped prefix sum over a deterministic doc order —
from which the window ids fall out arithmetically:

    start_pos  running sum of preceding sizes (group-local)
    end_pos    start_pos + size
    bin_id     start_pos div capacity       (first window touched)
    bin_offset start_pos mod capacity       (position inside it)
    n_bins     windows spanned (docs may straddle window boundaries —
               that IS concat-and-chunk semantics)

Two physical strategies for the prefix sum, identical output:

- ``method="window"``: one Catalyst window
  (``sum(size) over (partition by group order by key rows unbounded
  preceding to -1)``).  The right plan when groups are plentiful — but a
  window partition is processed by ONE task, so a single giant group
  (one source holding most of 100 TB) serializes.
- ``method="range"``: the classic two-phase distributed prefix sum.
  Range-partition by (group, key) and sort within partitions; aggregate
  per-(partition, group) size totals — a few thousand rows, NOT data
  rows — cumulate them on the driver into per-partition base offsets;
  then one Arrow pass adds segment-vectorized within-partition prefixes
  to the broadcast bases.  No single task ever sees more than its
  partition, whatever the group layout.  The totals collect is
  O(partitions + distinct groups) ROWS, not data rows — a planning
  collect like `embedding_similar_pairs`' block grid.  That makes the
  range path the tool for FEW, LARGE groups (the case that serializes
  the window form); for high-cardinality ``by`` (millions of groups)
  use ``method="window"``, whose per-group tasks are exactly the
  parallelism you want there — the two methods are complementary, not
  interchangeable defaults.

The two phases are :func:`_range_phase1` (range sort, ``_pid`` tag,
persist, totals collect, base offsets) and :func:`_with_prefix` (the
Arrow pass appending a group-local exclusive prefix column).  They are
the one home of the range strategy: ``sample.deterministic_shuffle``
(prefix over one per row = position) and ``sample.sample_token_budget``
(prefix + size within the cap = kept) run on them too.

Sizes must be positive (a zero/negative token count is upstream
corruption).  Both paths check it in the JVM where ``end_pos`` is
computed, which Catalyst skips when no selected column reads
``end_pos`` or ``n_bins``.  The range path also rejects a NULL or
negative size on the driver in phase 1, before any prefix task runs and
whatever columns are read, so a bad size never shifts its start
positions silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "pack_chunks",
    "pack_chunks_sql",
    "pack_fragments",
    "pack_fragments_sql",
]

_RESERVED = ("start_pos", "end_pos", "bin_id", "bin_offset", "n_bins")


def _finalize(df: DataFrame, size_col: str, capacity: int) -> DataFrame:
    # runtime size validation on BOTH paths: a NULL/non-positive size
    # would silently shift every later row's start_pos.  The check sits
    # on start_pos, which every other output column is derived from, so
    # Catalyst cannot prune it while any of them is read; the coalesce
    # keeps start_pos non-nullable (raise_error never returns)
    checked = F.expr(
        f"coalesce(CASE WHEN {size_col} IS NULL OR {size_col} <= 0 "
        f"THEN raise_error('pack_chunks: size_col must be positive') "
        f"ELSE start_pos END, 0)"
    )
    return (
        df.withColumn("start_pos", checked)
        .withColumn("end_pos", F.col("start_pos") + F.col(size_col))
        .withColumn("bin_id", F.expr(f"start_pos div {capacity}"))
        .withColumn("bin_offset", F.col("start_pos") % capacity)
        .withColumn(
            "n_bins",
            F.expr(f"(end_pos - 1) div {capacity}") - F.col("bin_id") + 1,
        )
    )


def pack_chunks(
    df: DataFrame,
    size_col: str,
    key_col: str,
    capacity: int,
    by: list[str] | None = None,
    method: str = "window",
    num_partitions: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """Concat-and-chunk packing assignment.  Adds ``start_pos, end_pos,
    bin_id, bin_offset, n_bins`` to ``df``; the doc order inside each group
    is ``key_col`` ascending, groups are ``by`` (empty = one global
    stream).  ``key_col`` must be UNIQUE within its group (an id
    column): rows tying on (group, key) have no defined order, so their
    start positions would depend on partitioning — the same uniqueness
    contract as ``sample_topk_per_group``, not validated for the same
    cost reason.

    ``num_partitions`` and ``persist`` apply to ``method="range"``
    only; see :func:`_range_phase1` for when ``persist=False`` is safe.
    """
    by = list(by or [])
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    if method not in ("window", "range"):
        raise ValueError(f"method must be 'window' or 'range', got {method!r}")
    clash = [c for c in _RESERVED if c in df.columns]
    if clash:
        raise ValueError(f"input columns collide with reserved names: {clash}")
    for c in [size_col, key_col, *by]:
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in DataFrame")
    # key and group columns restricted to integral/string (the same
    # contract as the sampling operators): other types (date, binary,
    # float) don't round-trip identically between collected Row values
    # and Arrow-side numpy values, which would silently break the range
    # path's base-offset dictionary keyed on group values
    from .sample import _INTEGRAL, _check_key_type, _check_type

    for c in [key_col, *by]:
        _check_key_type(df, c, "pack_chunks")
    _check_type(df, size_col, "pack_chunks", "size_col", _INTEGRAL, "integral")

    if method == "window":
        w = (
            Window.partitionBy(*by)
            .orderBy(F.asc(key_col))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        started = df.withColumn(
            "start_pos",
            F.coalesce(F.sum(size_col).over(w), F.lit(0)).cast("long"),
        )
        return _finalize(started, size_col, capacity)

    ctx = "pack_chunks"
    parts, base = _range_phase1(
        df, by, [key_col], size_col, num_partitions, persist, ctx
    )
    started = _with_prefix(parts, by, size_col, base, "start_pos", ctx)
    return _finalize(started.drop("_pid"), size_col, capacity)


# ---- two-phase distributed prefix sum ------------------------------------


def _range_phase1(
    df: DataFrame,
    by: list[str],
    order: list[str],
    size_col: str | None,
    num_partitions: int | None,
    persist: bool,
    ctx: str,
) -> tuple[DataFrame, dict[tuple, int]]:
    """Phase 1 of the distributed prefix sum: range-partition and sort
    ``df`` by ``(by..., order...)``, tag each row with its ``_pid`` and
    return ``(parts, base)``.  ``base[(pid, *group)]`` is the total
    ``size_col`` of the group's rows in every earlier partition (groups
    are contiguous across pid order because the range key leads with
    ``by``).  ``size_col=None`` counts one per row.  A NULL or negative
    size raises here, on the driver, before any phase-2 task runs and
    whatever columns the result's consumer reads.

    ``persist``: ``parts`` is consumed twice (these totals, then phase
    2); without the persist the range sort runs twice AND phase 2's
    layout could disagree with these offsets, because
    ``repartitionByRange`` samples its boundaries.  ``persist=False``
    therefore requires an input that is deterministic end to end.  The
    table is released by ``release_dedup_caches``.  An input column
    named ``_pid`` is refused: every caller drops the tag."""
    from .dedup import _register_persisted

    if "_pid" in df.columns:
        raise ValueError(f"{ctx}: input column '_pid' is reserved")
    keys = [F.col(c) for c in (*by, *order)]
    nparts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parts = (
        df.repartitionByRange(nparts, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
    )
    if persist:
        parts = _register_persisted(parts.persist())
    size = F.col(size_col) if size_col else F.lit(1)
    # O(partitions + groups) rows, not data rows
    totals = (
        parts.groupBy("_pid", *by)
        .agg(
            F.sum(size).cast("long").alias("_tot"),
            (F.count(F.lit(1)) - F.count(size)).alias("_nulls"),
            F.count(F.when(size < 0, 1)).alias("_neg"),
        )
        .collect()
    )
    if any(row["_nulls"] > 0 for row in totals):
        raise ValueError(f"{ctx}: size_col must not contain NULLs")
    if any(row["_neg"] > 0 for row in totals):
        raise ValueError(f"{ctx}: size_col must not contain negative values")
    base: dict[tuple, int] = {}
    acc: dict[tuple, int] = {}
    for row in sorted(totals, key=lambda r: r["_pid"]):
        g = tuple(row[c] for c in by)
        base[(row["_pid"], *g)] = acc.get(g, 0)
        acc[g] = acc.get(g, 0) + row["_tot"]
    return parts, base


def _with_prefix(
    parts: DataFrame,
    by: list[str],
    size_col: str | None,
    base: dict[tuple, int],
    out_col: str,
    ctx: str,
) -> DataFrame:
    """Phase 2: one map-only Arrow pass over :func:`_range_phase1`'s
    ``parts`` that appends ``out_col``, the group-local EXCLUSIVE prefix
    sum of ``size_col`` (one per row when None) in the sorted order:
    the phase-1 base offset plus a segment-vectorized cumsum, carried
    across the partition's batches."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    size_idx = parts.columns.index(size_col) if size_col else None
    pid_idx = parts.columns.index("_pid")
    by_idx = [parts.columns.index(c) for c in by]
    out_schema = StructType(
        list(parts.schema.fields) + [StructField(out_col, LongType(), False)]
    )

    def prefix(batches):
        carry: dict[tuple, int] = {}
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            if size_idx is None:
                sizes = np.ones(n, dtype=np.int64)
            else:
                sizes = batch.column(size_idx).to_numpy(zero_copy_only=False)
                sizes = sizes.astype(np.int64)
            pid = batch.column(pid_idx)[0].as_py()
            cols = [
                batch.column(i).to_numpy(zero_copy_only=False) for i in by_idx
            ]
            # an integral group column with NULLs arrives as float64/NaN:
            # NaN != NaN fragments segments and misses every base key
            if any(c.dtype.kind == "f" for c in cols):
                raise ValueError(
                    f"{ctx}: integral group columns must not contain "
                    "NULLs (use a string column or filter/fill first)"
                )
            # groups are contiguous: the partition is sorted by by+order
            change = np.zeros(n, dtype=bool)
            for c in cols:
                change[1:] |= c[1:] != c[:-1]
            bounds = np.concatenate(([0], np.flatnonzero(change), [n]))
            before = np.cumsum(sizes) - sizes  # batch-global, rebased below
            out = np.empty(n, dtype=np.int64)
            for s, e in zip(bounds[:-1], bounds[1:]):
                g = tuple(c[s] for c in cols)
                seg_base = carry.get(g, base.get((pid, *g), 0))
                out[s:e] = before[s:e] - before[s] + seg_base
                carry[g] = int(out[e - 1] + sizes[e - 1])
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, pa.array(out, type=pa.int64())],
                names=[*batch.schema.names, out_col],
            )

    return parts.mapInArrow(prefix, out_schema)


def pack_fragments(
    packed: DataFrame,
    size_col: str,
    capacity: int,
) -> DataFrame:
    """Explode a ``pack_chunks`` result into per-window FRAGMENTS — the
    rows a batch builder actually consumes: for every window a document
    touches, where the fragment sits in the window and which slice of
    the document it is.

    Adds to each input row, one output row per spanned window:

        frag_bin     window id (bin_id .. bin_id+n_bins-1)
        frag_offset  start position INSIDE the window
        doc_offset   start position INSIDE the document
        frag_len     fragment length (sums to the doc size across rows)

    Pure Catalyst arithmetic over an ``explode(sequence(...))`` — no
    shuffle at all: the fragment rows are derived where the packed rows
    already live.  Replication factor is n_bins per doc (≤ 1 +
    ceil(size/capacity)), the same bounded-explode shape as the
    interval join's bucket replication.
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    need = {"start_pos", "end_pos", "bin_id", "n_bins", size_col}
    missing = sorted(need - set(packed.columns))
    if missing:
        raise ValueError(
            f"input is not a pack_chunks result; missing columns: {missing}"
        )
    for c in ("frag_bin", "frag_offset", "doc_offset", "frag_len"):
        if c in packed.columns:
            raise ValueError(f"input column {c!r} collides with output")
    out = packed.withColumn(
        "frag_bin",
        F.explode(
            F.sequence(F.col("bin_id"), F.col("bin_id") + F.col("n_bins") - 1)
        ),
    )
    frag_start = F.greatest(F.col("start_pos"), F.col("frag_bin") * capacity)
    frag_end = F.least(
        F.col("end_pos"), (F.col("frag_bin") + 1) * F.lit(capacity)
    )
    return (
        out.withColumn("frag_offset", frag_start - F.col("frag_bin") * capacity)
        .withColumn("doc_offset", frag_start - F.col("start_pos"))
        .withColumn("frag_len", frag_end - frag_start)
    )


def pack_fragments_sql(
    packed_sql: str, size_col: str, capacity: int
) -> str:
    """DuckDB twin over any SQL producing pack_chunks columns."""
    return f"""
        SELECT *,
               greatest(start_pos, frag_bin * {capacity})
                   - frag_bin * {capacity} AS frag_offset,
               greatest(start_pos, frag_bin * {capacity})
                   - start_pos AS doc_offset,
               least(end_pos, (frag_bin + 1) * {capacity})
                   - greatest(start_pos, frag_bin * {capacity}) AS frag_len
        FROM (
            SELECT p.*, unnest(generate_series(
                bin_id, bin_id + n_bins - 1)) AS frag_bin
            FROM ({packed_sql}) p
        )
    """


def pack_chunks_sql(
    table: str,
    size_col: str,
    key_col: str,
    capacity: int,
    by: list[str] | None = None,
    where: str = "TRUE",
) -> str:
    """DuckDB twin (window form — the physical strategies are the
    package's concern, the semantics are this one query)."""
    by = list(by or [])
    part = f"PARTITION BY {', '.join(by)} " if by else ""
    return f"""
        SELECT *,
               start_pos + {size_col} AS end_pos,
               start_pos // {capacity} AS bin_id,
               start_pos % {capacity} AS bin_offset,
               (start_pos + {size_col} - 1) // {capacity}
                   - start_pos // {capacity} + 1 AS n_bins
        FROM (
            SELECT *, coalesce(sum({size_col}) OVER (
                {part}ORDER BY {key_col} ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ), 0)::BIGINT AS start_pos
            FROM {table} WHERE {where}
        )
    """
