"""Distributed t-digest aggregation: explicit two-phase (partial -> salted
tree merge -> final) over Arrow batches.

Why not ``groupBy().agg(pandas_udaf)``: PySpark GROUPED_AGG pandas UDAFs
get no Catalyst partial-aggregation split — whole groups are shuffled to
a single python worker, which is exactly the skew trap the north rule
names.  Instead we build one partial digest per (stage-1 task x group)
with ``mapInArrow`` (zero shuffle, a small input in at most one task
per core — this is the reference's "one digest per node" deployment,
tdigest.go:3-8), then tree-merge partials through salted
``mapInArrow`` levels (``_tree.py``) so a group's fan-in is bounded no
matter how many stage-1 tasks (or how skewed the group distribution) —
digest mergeability (tdigest.go:262-272) makes tree depth irrelevant to
correctness.

Stage 1 runs on the stage-1 driver every partial builder shares
(``_batch.partial_stage``: Arrow-encoded group keys, one stable argsort
per batch, exact key columns); the t-digest supplies only a task-level
builder (``_DigestBuilder``), which flattens token arrays zero-copy
(``ListArray.flatten``) — no per-row Python, no pandas materialization
(the ``input_hint`` contract).  Both stages work on all of a task's
groups at once: one segmented k-sweep
(``core._ksweep_segments``) builds or merges every digest, and
``serde.encode_many`` / ``decode_many`` convert the whole digest column,
so Python cost per task does not grow with the group count.

Scale notes (100 TB / 1000 executors):
  - stage 1 is embarrassingly parallel and map-side only; its output is
    ~(stage-1 tasks x groups) rows of O(compression) bytes each; only
    an input under cores x 16 MB is coalesced to one task per core
    (``_batch.partial_stage``), a larger one keeps its scan partitions;
  - stage 2 shuffles only digests, never raw data; with S salts a hot key
    is spread over S reducers before the final S-way merge;
  - the scan keeps Catalyst pushdown because we ``select``/``where``
    before entering Python, and Arrow moves batches columnar.
"""

from __future__ import annotations

from functools import partial, reduce
from typing import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, LongType, StructField, StructType

from .. import serde
from .._udf import sketch_udf
from ..core import TDigest, _merge_segments, _SegmentedBuild
from ._batch import ROWS_COL, partial_stage
from ._tree import _KEY_JSON_OPTS, group_sum, tree_merge

DIGEST_COL = "digest"
WEIGHT_COL = "total_weight"


_PARTIAL_FIELDS = [
    StructField(DIGEST_COL, BinaryType(), False),
    StructField(ROWS_COL, LongType(), False),
    StructField(WEIGHT_COL, LongType(), False),
]


class _DigestBuilder:
    """Task-level t-digest builder for ``_batch.partial_stage``: one
    ``_SegmentedBuild.add`` per batch and one ``encode_many`` per task.
    Values keep their native dtype — the flush sorts int32 2x cheaper
    than float64, and dense integer groups take the bincount route."""

    def __init__(self, compression: float, explode_arrays: bool):
        self.build = _SegmentedBuild(compression)
        self.explode_arrays = explode_arrays

    def add(self, gids, offsets, cols) -> None:
        col, *weight = cols
        w = (
            weight[0].to_numpy(zero_copy_only=False).astype(np.int64)
            if weight
            else None
        )
        if self.explode_arrays:
            # token arrays: zero-copy flatten; segment bounds come from
            # the list lengths
            lens = pc.list_value_length(col).fill_null(0).to_numpy(
                zero_copy_only=False
            )
            if w is not None:
                w = np.repeat(w, lens)
            ends = np.zeros(lens.size + 1, dtype=np.int64)
            np.cumsum(lens, out=ends[1:])
            offsets = ends[offsets]
            col = col.flatten()
        self.build.add(gids, offsets, col.to_numpy(zero_copy_only=False), w)

    def finish(self, n_groups: int) -> list:
        means, counts, offsets = self.build.finish(n_groups)
        cum = np.concatenate(([0], np.cumsum(counts)))
        return [
            serde.encode_many(means, counts, offsets, self.build.compression),
            pa.array(cum[offsets[1:]] - cum[offsets[:-1]], type=pa.int64()),
        ]


def build_partials(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    compression: float = 100.0,
    weight_col: str | None = None,
    explode_arrays: bool = False,
) -> DataFrame:
    """Stage 1: one digest row per (stage-1 task x group), a small
    input in at most one task per core (see ``_batch.partial_stage``).
    No shuffle.

    ``explode_arrays=True`` treats ``value_col`` as array<numeric> and
    digests every element — flattening is Arrow ``ListArray.flatten``
    (zero copy), so the per-token path never leaves columnar form.
    """
    by = list(by)
    cols = by + [value_col] + ([weight_col] if weight_col else [])
    pruned = df.select(*cols).where(F.col(value_col).isNotNull())
    if weight_col:
        # a NULL weight would round-trip through NaN->INT64_MIN; rows
        # without a weight are dropped (same semantics as value nulls)
        pruned = pruned.where(F.col(weight_col).isNotNull())
    return partial_stage(
        pruned,
        by,
        _PARTIAL_FIELDS,
        lambda: _DigestBuilder(compression, explode_arrays),
    )


def _merge_digests(table: pa.Table, gids: np.ndarray, n_groups: int) -> list:
    """Task-level t-digest merge (``_tree.tree_merge`` contract): every
    digest of the task decoded at once, one segmented sweep, one
    vectorized encode."""
    means, counts, offsets, comp = serde.decode_many(table.column(DIGEST_COL))
    means, counts, offsets, comp = _merge_segments(
        means, counts, offsets, gids, n_groups, comp
    )
    return [
        serde.encode_many(means, counts, offsets, comp),
        group_sum(table.column(WEIGHT_COL), gids, n_groups),
    ]


def merge_partials(
    partials: DataFrame,
    by: Sequence[str] = (),
    fanin: int | None = None,
    n_units: int | None = None,
) -> DataFrame:
    """Stage 2: tree-merge partial digests down to one row per group.

    ``fanin`` bounds how many partials any single reducer merges — a hard
    per-level bound at every level (level 0 via partition-id round-robin,
    later levels via deterministic salt re-bucketing; see _tree.py).
    At 100k stage-1 tasks and fanin=64 that is 100k -> 1563 -> 25 ->
    final; an input small enough to be coalesced to one task per core
    (``_batch.partial_stage``) gives 8000 -> 125 -> 2 -> final on 8,000
    cores.

    Pass ``n_units`` = partial row count when the partials were read back
    from storage (the <=1-partial-per-partition-per-group invariant does
    not survive the parquet reader's file packing; see _tree.py).
    """
    return tree_merge(
        partials, list(by), _PARTIAL_FIELDS, _merge_digests, fanin, n_units=n_units
    )


def tdigest_agg(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    compression: float = 100.0,
    weight_col: str | None = None,
    explode_arrays: bool = False,
    fanin: int | None = 64,
) -> DataFrame:
    """End-to-end sketch aggregation.

    Returns one row per group: ``by..., digest binary, n_rows, total_weight``.
    """
    partials = build_partials(
        df, value_col, by, compression, weight_col, explode_arrays
    )
    return merge_partials(partials, by, fanin=fanin)


def tdigest_bucket(
    df: DataFrame,
    value_col: str,
    n_buckets: int,
    by: Sequence[str] = (),
    compression: float = 100.0,
    fanin: int | None = 64,
) -> DataFrame:
    """Approximate equal-frequency bucketing — the classic production
    use of a quantile sketch (quality deciles, curriculum tiers, outlier
    bands): label every row with which of ``n_buckets`` buckets its
    value falls into, WITHOUT the global per-group sort an exact
    ntile needs (one task per group at 100 TB).

    Plan: one t-digest aggregation per group (the package's salted-tree
    pipeline), interior boundaries read as ``Quantile(i/n)``, broadcast
    back (O(groups) rows), and per-row
    ``bucket = #boundaries <= value`` via a bounded fold over the
    (n_buckets-1)-element array.  Two scans, no sort; bucket population
    deviates from n/n_buckets only by t-digest rank error
    (~1/compression interior — bounds pinned in tests).  Boundary
    semantics: a value equal to a boundary goes to the HIGHER bucket.
    NULL values (and groups absent from the digest) get NULL bucket; a
    NULL group key is its own group, as in tdigest_agg.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    for c in ("_bounds", "bucket"):
        if c in df.columns:
            raise ValueError(f"input column {c!r} collides with output")
    from ..functions.tdigest_fns import td_quantile

    by = list(by)
    digests = tdigest_agg(
        df, value_col, by=by, compression=compression, fanin=fanin
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = digests.select(
        *by,
        (
            td_quantile("digest", qs) if qs else F.array().cast("array<double>")
        ).alias("_bounds"),
    )
    joined = _join_group_bounds(df, bounds, by)
    fold = F.expr(
        f"aggregate(_bounds, 0, (acc, b) -> acc + if(b <= {value_col}, 1, 0))"
    )
    return joined.withColumn(
        "bucket", F.when(F.col(value_col).isNotNull(), fold)
    ).drop("_bounds")


def _join_group_bounds(
    df: DataFrame, bounds: DataFrame, by: Sequence[str]
) -> DataFrame:
    """Left-join the O(groups)-row ``bounds`` table (``by...`` plus read
    columns) onto every fact row as a broadcast: NULL group keys match
    (``eqNullSafe``), so a NULL key reads its own group's row, as in
    tdigest_agg and the rank/normalize lookups.  Ungrouped: a crossJoin
    of the single row.  Columns come out as a USING join lays them out:
    ``by...``, the other ``df`` columns, then the read columns."""
    if not by:
        return df.crossJoin(F.broadcast(bounds))
    keys = [f"_bk{i}" for i in range(len(by))]
    for c in keys:
        if c in df.columns:
            raise ValueError(f"input column {c!r} collides with output")
    reads = [c for c in bounds.columns if c not in by]
    b = bounds.select(
        *[F.col(c).alias(k) for c, k in zip(by, keys)], *reads
    )
    cond = [F.col(c).eqNullSafe(b[k]) for c, k in zip(by, keys)]
    return df.join(F.broadcast(b), cond, "left").select(
        *by, *[c for c in df.columns if c not in by], *reads
    )


def _group_key_col(by: Sequence[str]):
    """Injective JSON rendering of the group-key tuple (one small string
    per row) — the join/lookup key the annotator kernels use instead of
    carrying an O(compression)-byte digest blob on every fact row."""
    if not by:
        return F.lit("{}")
    return F.to_json(F.struct(*[F.col(c) for c in by]), _KEY_JSON_OPTS)


def _collect_digest_map(digests: DataFrame, by: Sequence[str]) -> dict:
    """Collect an O(groups)-row digest table into ({json_key: bytes},
    row_count).

    This is the same driver-side footprint a broadcast join of the
    digest table implies, but the per-ROW cost downstream is a string
    key lookup, not an O(compression)-byte blob shipped through Arrow
    per fact row (the pre-r6 plan moved ~1 KB x rows through the python
    boundary and hashed every blob in the kernel — the dominant cost of
    the rank/normalize annotators at any scale).
    """
    rows = digests.select(
        _group_key_col(by).alias("_k"), F.col(DIGEST_COL).alias("_d")
    ).collect()
    mapping = {
        r["_k"]: (None if r["_d"] is None else bytes(r["_d"])) for r in rows
    }
    return mapping, len(rows)


def _make_lookup_udf(bc, mode: str, target_blob: bytes | None = None):
    """Read (key string, value) -> double over the broadcast digest map,
    decoding each distinct group's digest once per batch; a key missing
    from the map reads NULL.

    mode='cdf'       -> CDF_group(x)
    mode='quantile'  -> Quantile_group(x)
    mode='normalize' -> Q_target(CDF_group(x)) fused in one pass
    """
    # a NULL target digest reads as empty: every quantile is NaN -> NULL
    target = TDigest() if target_blob is None else serde.decode(target_blob)
    fn = {
        "cdf": TDigest.cdf,
        "quantile": TDigest.quantile,
        "normalize": lambda d, x: target.quantile(d.cdf(x)),
    }[mode]

    def decode(key: str):
        blob = bc.value.get(key)
        return None if blob is None else serde.decode(blob)

    return sketch_udf(decode, fn, DoubleType(), per_distinct=True)


def _require_single_row(d: DataFrame, what: str) -> None:
    """Loud guard for the ungrouped (crossJoin) annotator paths: a
    user-supplied digest table with G rows would silently G-x-multiply
    every fact row.  Costs one tiny job (limit-2 count on an O(groups)
    digest table) — only runs on the stored-digest path."""
    n = d.limit(2).count()
    if n != 1:
        raise ValueError(
            f"{what} must have exactly one row for the ungrouped path; "
            f"got {'0 rows' if n == 0 else '2 or more rows'} — pass "
            "by= group columns to rank/clip against a per-group table"
        )


def tdigest_rank(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    compression: float = 100.0,
    fanin: int | None = 64,
    rank_col: str = "pct_rank",
    digests: DataFrame | None = None,
) -> DataFrame:
    """Per-row approximate percentile rank within its group — the
    feature-normalization step of a curation pipeline (e.g. quality
    percentile within source, so thresholds compare across sources with
    different score distributions).  ``rank_col`` = CDF(value) of the
    group's digest, in [0, 1], within t-digest rank error
    (~1/compression interior, tighter at the tails).

    ``digests``: optional precomputed digest table (columns ``by... ,
    digest``, e.g. a stored tdigest_agg result).  The production
    pattern: rank TODAY'S rows against LAST WEEK'S distribution without
    rescanning last week — and when ranking a frame against itself
    twice (estimates + rank), build the digests once and pass them in.
    Default (None) builds digests from ``df`` itself (NOTE: collected
    eagerly — this operator materializes the O(groups) digest table at
    call time to build the broadcast map).

    Plan: one digest per group (the salted-tree pipeline), collected
    (O(groups) rows of O(compression) bytes — the same driver footprint
    a broadcast join implies) and shipped to executors ONCE as a Spark
    broadcast; the fact scan then carries only a small group-key string
    into the grouped-decode CDF kernel (one decode per distinct digest
    per batch, vectorized evaluation) — one scan of the fact table, no
    join, no row shuffle, and no O(compression)-byte blob per fact row
    through the python boundary (the r5 plan shipped digest x rows
    bytes through Arrow, which dominated the annotator's cost).  Same
    NULL convention as before: NULL values and groups absent from the
    digest table get NULL rank.
    """
    for c in (rank_col, "_rank_key"):
        if c in df.columns:
            raise ValueError(f"input column {c!r} collides with output")
    by = list(by)
    if digests is None:
        digests = tdigest_agg(
            df, value_col, by=by, compression=compression, fanin=fanin
        )
    else:
        missing = {*by, "digest"} - set(digests.columns)
        if missing:
            raise ValueError(f"digests is missing columns {sorted(missing)}")
    mapping, n_rows = _collect_digest_map(digests, by)
    if not by and n_rows != 1:
        raise ValueError(
            "digests must have exactly one row for the ungrouped path; "
            f"got {n_rows} rows — pass by= group columns to rank "
            "against a per-group table"
        )
    bc = df.sparkSession.sparkContext.broadcast(mapping)
    rank_udf = _make_lookup_udf(bc, "cdf")
    return df.withColumn(
        rank_col,
        F.when(
            F.col(value_col).isNotNull(),
            rank_udf(_group_key_col(by), F.col(value_col)),
        ),
    )


def tdigest_winsorize(
    df: DataFrame,
    value_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    by: Sequence[str] = (),
    compression: float = 100.0,
    fanin: int | None = 64,
    out_col: str | None = None,
    digests: DataFrame | None = None,
) -> DataFrame:
    """Winsorize (clip) ``value_col`` at its group's approximate
    [p_lo, p_hi] quantiles — outlier capping before a mean/variance/
    weight computation, without the per-group total sort an exact
    percentile needs.  Clip points are within t-digest rank error of the
    exact percentiles; values BETWEEN the clip points pass through
    bit-identical.  NULL values (and rows whose group has no digest)
    stay NULL/unclipped respectively; a NULL group key is its own group,
    as in tdigest_agg; ``digests=`` reuses a stored digest table exactly
    as in tdigest_rank.

    Plan: the quantile reads run on the O(groups)-row digest table,
    broadcast back, one map-side join, JVM-side clamp
    (greatest/least) — one scan of the fact table, no shuffle.
    """
    if not 0.0 <= p_lo < p_hi <= 1.0:
        raise ValueError("need 0 <= p_lo < p_hi <= 1")
    out_col = out_col or f"{value_col}_winsorized"
    for c in (out_col, "_w_lo", "_w_hi"):
        if c in df.columns:
            raise ValueError(f"input column {c!r} collides with output")
    from ..functions.tdigest_fns import td_quantile

    by = list(by)
    if digests is None:
        digests = tdigest_agg(
            df, value_col, by=by, compression=compression, fanin=fanin
        )
    else:
        missing = {*by, "digest"} - set(digests.columns)
        if missing:
            raise ValueError(f"digests is missing columns {sorted(missing)}")
        if not by:
            _require_single_row(digests, "digests")
    bounds = digests.select(
        *by,
        td_quantile("digest", p_lo).alias("_w_lo"),
        td_quantile("digest", p_hi).alias("_w_hi"),
    )
    joined = _join_group_bounds(df, bounds, by)
    clipped = F.least(F.greatest(F.col(value_col), F.col("_w_lo")), F.col("_w_hi"))
    return joined.withColumn(
        out_col,
        # explicit NULL branch first: greatest/least SKIP nulls (they
        # would resurrect a NULL value as the clip bound itself)
        F.when(F.col(value_col).isNull(), F.lit(None).cast("double"))
        .when(F.col("_w_lo").isNotNull(), clipped)
        .otherwise(F.col(value_col)),
    ).drop("_w_lo", "_w_hi")


def tdigest_normalize(
    df: DataFrame,
    value_col: str,
    by: Sequence[str],
    compression: float = 100.0,
    fanin: int | None = 64,
    out_col: str | None = None,
    digests: DataFrame | None = None,
    target_digest: DataFrame | None = None,
) -> DataFrame:
    """Quantile normalization across groups: map each value to
    ``Q_target(CDF_group(x))`` so every group's distribution matches the
    target — the cross-source score-calibration step of a curation
    pipeline (a "0.8 quality" from source A and source B mean different
    things; after normalization equal scores mean equal percentile).

    Default target: the POOLED distribution over all of ``df`` (the
    merge of the per-group digests — one extra tree level, no second
    scan).  ``target_digest``: any single-row digest table (column
    ``digest``), e.g. a reference corpus' stored distribution.
    Monotone within each group, so group-internal ranking order is
    preserved (ties at t-digest resolution).  NULL -> NULL.

    Plan: per-group digests (salted tree) and the pooled/target digest
    are collected (O(groups x compression) bytes, the same driver
    footprint a broadcast join implies) and shipped ONCE as a Spark
    broadcast; one fused grouped-decode kernel computes
    Q_target(CDF_group(x)) in a single python pass — one scan of the
    fact table, no join, no row shuffle, and no per-row digest blob
    through the python boundary.  Digest tables are materialized
    eagerly at call time to build the broadcast map.
    """
    if not by:
        raise ValueError(
            "tdigest_normalize needs grouping columns (normalizing a "
            "single distribution onto itself is the identity)"
        )
    out_col = out_col or f"{value_col}_normalized"
    for c in (out_col, "_n_key"):
        if c in df.columns:
            raise ValueError(f"input column {c!r} collides with output")
    by = list(by)
    if digests is None:
        digests = tdigest_agg(
            df, value_col, by=by, compression=compression, fanin=fanin
        )
    else:
        missing = {*by, "digest"} - set(digests.columns)
        if missing:
            raise ValueError(f"digests is missing columns {sorted(missing)}")
    if target_digest is None:
        need = {"digest", ROWS_COL, WEIGHT_COL}
        if not need <= set(digests.columns):
            raise ValueError(
                "pooled-target normalization merges the per-group digests "
                f"and needs columns {sorted(need)} on digests=; pass "
                "target_digest= instead"
            )
        # flat merge of the per-group digests: O(groups) rows of
        # O(compression) bytes through one reducer — fine for any sane
        # `by`; pass target_digest= for extreme group cardinality
        target_digest = merge_partials(
            digests.select("digest", ROWS_COL, WEIGHT_COL), fanin=None
        )
    elif "digest" not in target_digest.columns:
        raise ValueError("target_digest needs a 'digest' column")
    target_map, n_target = _collect_digest_map(target_digest, [])
    if n_target != 1:
        raise ValueError(
            "target_digest must have exactly one row; "
            f"got {'0 rows' if n_target == 0 else '2 or more rows'}"
        )
    mapping, _ = _collect_digest_map(digests, by)
    bc = df.sparkSession.sparkContext.broadcast(mapping)
    norm_udf = _make_lookup_udf(bc, "normalize", target_blob=target_map.get("{}"))
    return df.withColumn(
        out_col,
        F.when(
            F.col(value_col).isNotNull(),
            norm_udf(_group_key_col(by), F.col(value_col)),
        ),
    )


def _with_level_nulls(
    schema: StructType, by: list[str], d: DataFrame, present: list[str]
) -> DataFrame:
    """One rollup/cube level in the common layout: the ``by`` columns not
    in ``present`` become typed NULLs, then the digest columns."""
    cols = [
        F.col(c)
        if c in present
        else F.lit(None).cast(schema[c].dataType).alias(c)
        for c in by
    ]
    cols += [F.col(DIGEST_COL), F.col(ROWS_COL), F.col(WEIGHT_COL)]
    return d.select(*cols)


def _coarse_merge_bound(
    finest: DataFrame, fanin: int | None, n_units_hint: int | None
) -> tuple[DataFrame, int | None]:
    """Bound the coarse-level merge fan-in for rollup/cube.

    The finest level is post-shuffle output (one row per group, packed
    arbitrarily across partitions), so the <=1-partial-per-partition
    invariant tree_merge's level-0 partition-id salting relies on does
    NOT hold — coarse merges must use the storage-read salting path,
    which needs the partial row count (``n_units``).  Callers that know
    the finest group count pass it as a hint; otherwise we persist the
    finest level (it is small: one O(compression)-byte row per group,
    and it is reused by every coarse level anyway) and count it once.
    Without this bound a high-cardinality finest grouping would funnel
    every digest into ONE grand-total reducer — the exact failure mode
    mergeability (tdigest.go:262-272) exists to avoid.
    """
    if fanin is None:
        return finest, None
    if n_units_hint is not None:
        return finest, n_units_hint
    # NB: the persist is never explicitly released (the returned plan
    # still references it); it is one O(compression)-byte row per group
    # and Spark evicts LRU — pass finest_groups_hint to avoid it
    finest = finest.persist()
    return finest, finest.count()


def tdigest_cube(
    df: DataFrame,
    value_col: str,
    by: Sequence[str],
    compression: float = 100.0,
    fanin: int | None = 64,
    weight_col: str | None = None,
    explode_arrays: bool = False,
    finest_groups_hint: int | None = None,
) -> DataFrame:
    """CUBE over digests: one row per grouping combination (every subset
    of ``by``), rolled-up keys as NULL.  Like tdigest_rollup, every
    non-finest level is derived by merging finest-level digests — the
    input is scanned exactly once regardless of 2^len(by) levels (the
    finest level is persisted unless ``finest_groups_hint`` is given).

    Coarse levels merge through the same bounded-fan-in salted tree as
    the finest aggregation (``n_units`` = finest group count, an upper
    bound for every subset's row count), so a high-cardinality ``by``
    cannot funnel all finest digests into one grand-total reducer.
    """
    from itertools import combinations

    by = list(by)
    with_level_nulls = partial(_with_level_nulls, df.schema, by)
    finest = tdigest_agg(
        df, value_col, by, compression, weight_col=weight_col,
        explode_arrays=explode_arrays, fanin=fanin,
    )
    n_finest = None
    if by:  # no coarse levels exist for by=[], so never size/persist
        finest, n_finest = _coarse_merge_bound(
            finest, fanin, finest_groups_hint
        )
    levels = [with_level_nulls(finest, by)]
    for r in range(len(by) - 1, -1, -1):
        for subset in combinations(by, r):
            level = merge_partials(
                finest, list(subset), fanin=fanin, n_units=n_finest
            )
            levels.append(with_level_nulls(level, list(subset)))
    return reduce(DataFrame.unionByName, levels)


def tdigest_rollup(
    df: DataFrame,
    value_col: str,
    by: Sequence[str],
    compression: float = 100.0,
    fanin: int | None = 64,
    weight_col: str | None = None,
    explode_arrays: bool = False,
    finest_groups_hint: int | None = None,
) -> DataFrame:
    """ROLLUP over digests: one row per grouping level of ``by`` (finest,
    each prefix, and the grand total), with rolled-up keys as NULL.

    This is where sketch mergeability pays off structurally: the input is
    scanned ONCE to build the finest-level digests, and every coarser
    level is derived by merging child digests (tdigest.go:262-272) — no
    rescan, no extra shuffle of raw rows.  An exact aggregate would need
    Spark's rollup to rescan-or-expand each level.

    Every coarse level merges through the bounded-fan-in salted tree
    (``n_units`` = finest group count, an upper bound for each prefix
    level since dropping keys only coarsens the grouping) — the grand
    total is NOT a single-reducer funnel even when ``by`` is
    high-cardinality.  Pass ``finest_groups_hint`` if the finest group
    count is known to skip the persist+count sizing action.
    """
    by = list(by)
    with_level_nulls = partial(_with_level_nulls, df.schema, by)
    finest = tdigest_agg(
        df, value_col, by, compression, weight_col=weight_col,
        explode_arrays=explode_arrays, fanin=fanin,
    )
    n_finest = None
    if by:  # no coarse levels exist for by=[], so never size/persist
        finest, n_finest = _coarse_merge_bound(
            finest, fanin, finest_groups_hint
        )
    levels = [with_level_nulls(finest, by)]
    cur = finest
    for i in range(len(by) - 1, -1, -1):
        keys = by[:i]
        cur = merge_partials(cur, keys, fanin=fanin, n_units=n_finest)
        levels.append(with_level_nulls(cur, keys))
    return reduce(DataFrame.unionByName, levels)
