"""Two-phase Spark aggregation for the auxiliary sketches (HLL / Bloom /
CMS / KLL / Misra-Gries / Theta / Frequent Directions) — the same
partial -> merge deployment as the t-digest: stage 1 runs on the shared
stage-1 driver (``_batch.partial_stage``) with a per-group adapter
(``_PerGroupBuilder``) around each sketch's ``update``, and the merge
rides ``_tree.tree_merge`` with each sketch's own ``merge``.

Values are hashed JVM-side with ``xxhash64`` before entering Python, so
probe-side hashing (Bloom membership joins, CMS point queries) uses the
identical Spark expression and parity is structural.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
)

from .._udf import sketch_udf, unit_interval
from ..sketches import (
    HLL,
    KLL,
    BloomFilter,
    CountMinSketch,
    FrequentDirections,
    MisraGries,
    ThetaSketch,
)
from ._batch import ROWS_COL, partial_stage


def _hash_cols(cols: Sequence[str], seed_salt: int = 0):
    base = [F.col(c) for c in cols]
    if seed_salt:
        return F.xxhash64(*base, F.lit(seed_salt))
    return F.xxhash64(*base)


def _notnull_cond(cols: Sequence[str]):
    """Conjunction of IS NOT NULL over ``cols`` (None when empty) — the
    single definition of which rows the sketch passes count, shared by
    the partial builders and the heavy-hitters verification pass so the
    two can never diverge."""
    cond = None
    for c in cols:
        cur = F.col(c).isNotNull()
        cond = cur if cond is None else cond & cur
    return cond


_PARTIAL_FIELDS = [
    StructField("sketch", BinaryType(), False),
    StructField(ROWS_COL, LongType(), False),
]


class _PerGroupBuilder:
    """Task-level builder for ``_batch.partial_stage`` over the sketches
    that update one group at a time: one sketch per group id, updated
    with each of its row segments in order."""

    def __init__(self, make_sketch, update, to_arrays):
        self.make_sketch = make_sketch
        self.update = update
        self.to_arrays = to_arrays
        self.sketches: list = []

    def add(self, gids, offsets, cols) -> None:
        arrays = self.to_arrays(cols)
        for g, lo, hi in zip(
            gids.tolist(), offsets[:-1].tolist(), offsets[1:].tolist()
        ):
            if g == len(self.sketches):  # ids are handed out in order
                self.sketches.append(self.make_sketch())
            self.update(self.sketches[g], [a[lo:hi] for a in arrays])

    def finish(self, n_groups: int) -> list:
        return [pa.array([s.to_bytes() for s in self.sketches], type=pa.binary())]


def _update_hashes(sketch, arrays: list[np.ndarray]) -> None:
    sketch.update_hashes(*arrays)


def _generic_partials(
    df: DataFrame,
    by: Sequence[str],
    inputs: list[Column],
    make_sketch: Callable[[], object],
    notnull_cols: Sequence[str],
    update: Callable[[object, list[np.ndarray]], None] = _update_hashes,
    weight_col: str | None = None,
    batch_values: Callable | None = None,
) -> DataFrame:
    """Stage 1: one sketch per (stage-1 task x group), a small input
    in at most one task per core (``_batch.partial_stage``), updated
    with the values of the ``inputs`` columns (pre-hashed int64 for
    most sketches), then the weights.

    ``notnull_cols``: rows with a NULL in any of these are dropped before
    hashing — xxhash64(NULL) returns the seed, which would otherwise
    count one phantom element (SQL count(DISTINCT ...) excludes NULLs,
    so we match it).  NULL weights are dropped too (NaN->int64 is
    INT64_MIN and silently corrupts counters).

    ``batch_values(cols)`` replaces the default numpy conversion of the
    (group-sorted) Arrow input columns for sketches that consume
    something other than scalars (Frequent Directions eats embedding
    matrices).  Grouping, slicing and emission are the stage-1 driver
    every partial builder shares (``_batch.partial_stage``).
    """
    by = list(by)
    cond = _notnull_cond(
        list(notnull_cols) + ([weight_col] if weight_col else [])
    )
    if cond is not None:
        df = df.where(cond)
    proj = (
        [F.col(c) for c in by]
        + [e.alias(f"_h{i}") for i, e in enumerate(inputs)]
        + ([F.col(weight_col).alias("_w")] if weight_col else [])
    )
    n_in = len(inputs)

    def to_arrays(cols: list) -> list:
        if batch_values is not None:
            arrays = batch_values(cols[:n_in])
        else:
            arrays = [c.to_numpy(zero_copy_only=False) for c in cols[:n_in]]
        if weight_col:
            arrays.append(
                cols[n_in].to_numpy(zero_copy_only=False).astype(np.int64)
            )
        return arrays

    return partial_stage(
        df.select(*proj),
        by,
        _PARTIAL_FIELDS,
        lambda: _PerGroupBuilder(make_sketch, update, to_arrays),
    )


def merge_sketches(
    partials: DataFrame,
    by: Sequence[str],
    decode: Callable[[bytes], object],
    fanin: int | None = 64,
    n_units: int | None = None,
) -> DataFrame:
    """Tree-merge sketch partials (``by..., sketch binary, n_rows long``,
    as every ``*_partials`` builder emits) with bounded reducer fan-in;
    ``decode`` turns the bytes back into a mergeable sketch.  The
    generic twin of ``aggregate.merge_partials``, with the same
    ``n_units`` for partials read back from storage.

    Same salted-level reduction as the t-digest path (_tree.py): without
    it, a global ``cms_agg(by=[])`` at d=5,w=4096 (~160 KB/partial) would
    funnel ~16 GB into one reducer at 100k stage-1 tasks.  HLL/CMS/Bloom
    merges are exact (register-max / counter-add / bit-or) and
    byte-identical to a flat merge in any order; KLL and Misra-Gries are
    order-DEPENDENT in their bytes but carry their error guarantees
    through any merge tree (pinned in tests) — do not assume bitwise
    reproducibility across partition counts for those two.
    """
    from ._tree import tree_merge

    def merge(table: pa.Table, gids: np.ndarray, n_groups: int) -> list:
        # each sketch's own merge(), folded per group in row order
        acc = [None] * n_groups
        for g, b in zip(gids.tolist(), table.column("sketch").to_pylist()):
            s = decode(b)
            acc[g] = s if acc[g] is None else acc[g].merge(s)
        return [pa.array([s.to_bytes() for s in acc], type=pa.binary())]

    return tree_merge(
        partials, list(by), _PARTIAL_FIELDS, merge, fanin, n_units=n_units
    )


# ------------------------------------------------------------------ HLL


def hll_partials(
    df: DataFrame, cols: Sequence[str], by: Sequence[str] = (), p: int = 12
) -> DataFrame:
    """Stage 1 only (one HLL per stage-1 task x group) — the building block
    for batch aggregation and streaming append-partials alike."""
    return _generic_partials(df, by, [_hash_cols(cols)], lambda: HLL(p), cols)


def hll_agg(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    p: int = 12,
    fanin: int | None = 64,
) -> DataFrame:
    """Distinct-count sketch of the tuple ``cols`` per group."""
    return merge_sketches(hll_partials(df, cols, by, p), by, HLL.from_bytes, fanin=fanin)


_hll_estimate_udf = sketch_udf(HLL.from_bytes, HLL.estimate, DoubleType())


def hll_estimate(sketch: Column | str) -> Column:
    return _hll_estimate_udf(sketch)


# ------------------------------------------------------- sketch algebra
#
# Pairwise set operations on serialized sketches — the reads that turn
# two cohorts' sketches into overlap/union answers without rescanning
# raw data.  NULL semantics: for UNION/ADD, NULL is the identity
# (an absent group contributes nothing); for the INTERSECTION estimate,
# NULL propagates (an unknown set has an unknown overlap).


def _merge_pair_udf(from_bytes):
    """NULL-identity merge of two sketches of one family."""
    return sketch_udf(
        from_bytes, lambda a, b: a.merge(b).to_bytes(), BinaryType(),
        n_sketches=2, nulls="identity",
    )


def _hll_intersect(a: HLL, b: HLL) -> float:
    # take both standalone estimates BEFORE the in-place merge, then
    # reuse a as the union — one decode per side
    ea, eb = a.estimate(), b.estimate()
    return max(0.0, ea + eb - a.merge(b).estimate())


_hll_union_pair_udf = _merge_pair_udf(HLL.from_bytes)
_hll_intersect_udf = sketch_udf(HLL.from_bytes, _hll_intersect, DoubleType(), n_sketches=2)


def hll_union_pair(a: Column | str, b: Column | str) -> Column:
    """Union of two HLL sketches (register-wise max) — NULL identity."""
    return _hll_union_pair_udf(a, b)


def hll_intersect_estimate(a: Column | str, b: Column | str) -> Column:
    """|A ∩ B| by inclusion-exclusion over HLL estimates.  Error is the
    SUM of the three estimates' errors, so relative error blows up when
    the overlap is much smaller than either set — the standard HLL
    intersection caveat; good for overlap fractions ≳ a few percent."""
    return _hll_intersect_udf(a, b)


_bloom_union_pair_udf = _merge_pair_udf(BloomFilter.from_bytes)
_bloom_intersect_pair_udf = sketch_udf(
    BloomFilter.from_bytes, lambda a, b: a.intersect(b).to_bytes(), BinaryType(),
    n_sketches=2,
)


def bloom_union_pair(a: Column | str, b: Column | str) -> Column:
    """Bitwise-OR union: exactly the filter a single build over A ∪ B
    would produce.  NULL identity."""
    return _bloom_union_pair_udf(a, b)


def bloom_intersect_pair(a: Column | str, b: Column | str) -> Column:
    """Bitwise-AND intersection: never a false negative for keys in
    A ∩ B, but a HIGHER false-positive rate than a fresh build over the
    intersection (bits set by different keys on each side can
    coincide).  NULL propagates."""
    return _bloom_intersect_pair_udf(a, b)


_cms_merge_pair_udf = _merge_pair_udf(CountMinSketch.from_bytes)


def cms_merge_pair(a: Column | str, b: Column | str) -> Column:
    """Counter-wise sum of two CMS sketches: point estimates over the
    merged sketch bound the combined true counts from above, exactly as
    a single build over both streams would.  NULL identity."""
    return _cms_merge_pair_udf(a, b)


# ---------------------------------------------------------------- Bloom


def bloom_partials(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    n_bits: int = 1 << 16,
    k: int = 5,
) -> DataFrame:
    """Stage 1 only — batch building block and streaming partials_fn."""
    return _generic_partials(
        df,
        by,
        [_hash_cols(cols), _hash_cols(cols, seed_salt=1)],
        lambda: BloomFilter(n_bits, k),
        cols,
    )


def bloom_agg(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    n_bits: int = 1 << 16,
    k: int = 5,
    fanin: int | None = 64,
) -> DataFrame:
    return merge_sketches(
        bloom_partials(df, cols, by, n_bits, k),
        by,
        BloomFilter.from_bytes,
        fanin=fanin,
    )


def _probe_hashes(h: np.ndarray, fn_name: str) -> np.ndarray:
    """int64 probe hashes, guarded against the pandas NULL trap: a hash
    column containing ANY null arrives from Arrow as float64, which
    rounds every other ~2^63 xxhash64 value in the batch (float64 has a
    53-bit mantissa) BEFORE the UDF body can react — silently probing
    wrong positions for all rows.  Refuse loudly instead; the Column API
    wrappers coalesce NULLs JVM-side so they never hit this path."""
    if h.dtype.kind == "f":
        raise RuntimeError(
            f"{fn_name}: NULL probe hashes reached the vectorized kernel "
            "(pandas converts a nullable int64 column to lossy float64). "
            "Wrap the call as CASE WHEN h IS NULL THEN NULL ELSE "
            f"{fn_name}(sketch, coalesce(h, 0)) END — the Column API does "
            "this automatically."
        )
    return h.astype(np.int64, copy=False)


# probe joins repeat the same (broadcast) sketch across many rows
_bloom_might_contain_udf = sketch_udf(
    BloomFilter.from_bytes,
    lambda bf, h1, h2: bf.might_contain_hashes(
        _probe_hashes(h1, "bloom_might_contain"),
        _probe_hashes(h2, "bloom_might_contain"),
    ),
    BooleanType(),
    per_distinct=True,
)


def bloom_might_contain(sketch: Column | str, h1: Column, h2: Column) -> Column:
    """Membership probe; pass ``xxhash64(value)`` and
    ``xxhash64(value, lit(1))`` — the same expressions used at build.

    NULLs are masked JVM-side (coalesce into the kernel, CASE back to
    NULL) so the int64 hash columns reach Python null-free — see
    _probe_hashes for why that matters."""
    sk = F.col(sketch) if isinstance(sketch, str) else sketch
    anynull = sk.isNull() | h1.isNull() | h2.isNull()
    probe = _bloom_might_contain_udf(
        sk, F.coalesce(h1, F.lit(0)), F.coalesce(h2, F.lit(0))
    )
    return F.when(~anynull, probe)


# ------------------------------------------------------------------ KLL


def kll_agg(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    k: int = 200,
    fanin: int | None = 64,
) -> DataFrame:
    """Per-group KLL quantile sketch over ``value_col``.

    Unlike the other sketches here, KLL consumes raw *values* (cast to
    double JVM-side), not hashes — the same _generic_partials plumbing
    carries them since the kernel only needs one numeric column.  The
    t-digest remains the primary quantile sketch; KLL adds worst-case
    rank-error guarantees (north rule lists both).

    NULL and NaN values are excluded JVM-side (the reference rejects NaN
    on insert, summary.go:27-29) — so ``n_rows`` equals the sketch count
    and count/min/max stay oracle-exact over the non-NaN values.
    """
    return merge_sketches(
        kll_partials(df, value_col, by, k), by, KLL.from_bytes, fanin=fanin
    )


def kll_partials(
    df: DataFrame, value_col: str, by: Sequence[str] = (), k: int = 200
) -> DataFrame:
    """Stage 1 only — batch building block and streaming partials_fn.
    NULL/NaN excluded JVM-side (see kll_agg)."""
    v = F.col(value_col).cast("double")
    return _generic_partials(
        df.where(~F.isnan(v)),
        by,
        [v],
        lambda: KLL(k),
        [value_col],
        update=lambda s, c: s.update(c[0]),
    )


_kll_quantile_udf = sketch_udf(KLL.from_bytes, lambda s, q: s.quantile(float(q)), DoubleType())
_kll_cdf_udf = sketch_udf(KLL.from_bytes, lambda s, x: s.cdf(float(x)), DoubleType())
_kll_count_udf = sketch_udf(KLL.from_bytes, lambda s: s.count, LongType())


def kll_quantile(sketch: Column | str, q: float) -> Column:
    """Quantile estimate; q=0/1 are the exact tracked min/max (which is
    what makes kll_agg oracle-checkable end to end); ``q`` must lie in [0, 1]."""
    return _kll_quantile_udf(sketch, F.lit(unit_interval(q)))


def kll_cdf(sketch: Column | str, x: float) -> Column:
    return _kll_cdf_udf(sketch, F.lit(float(x)))


def kll_count(sketch: Column | str) -> Column:
    return _kll_count_udf(sketch)


_kll_merge_pair_udf = _merge_pair_udf(KLL.from_bytes)


def kll_merge_pair(a: Column | str, b: Column | str) -> Column:
    """Merge two KLL sketches (compactor-level concatenation, same
    associative merge the tree reduction uses — completes the pairwise
    set algebra alongside hll_union_pair / bloom_*_pair /
    cms_merge_pair / td_merge_pair).  Count is exact under merge and
    min/max survive, so merged q=0/1 and kll_count reads stay
    oracle-checkable; rank error keeps the KLL worst-case guarantee
    through any merge order.  NULL identity."""
    return _kll_merge_pair_udf(a, b)


# ----------------------------------------------------------- Misra-Gries


def mg_partials(
    df: DataFrame, cols: Sequence[str], by: Sequence[str] = (), k: int = 64
) -> DataFrame:
    """Stage 1 only — batch building block and streaming partials_fn."""
    return _generic_partials(
        df, by, [_hash_cols(cols)], lambda: MisraGries(k), cols
    )


def mg_agg(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    k: int = 64,
    fanin: int | None = 64,
) -> DataFrame:
    """Frequent-items summary of the tuple ``cols`` per group
    (Misra-Gries, mergeable; counters undercount by at most the
    sketch's ``err`` <= N/(k+1))."""
    return merge_sketches(
        mg_partials(df, cols, by, k), by, MisraGries.from_bytes, fanin=fanin
    )


def heavy_hitters(
    df: DataFrame,
    cols: Sequence[str],
    phi: float,
    k: int | None = None,
    by: Sequence[str] = (),
    broadcast_candidates: bool | None = None,
) -> DataFrame:
    """EXACT phi-heavy-hitters in two passes: a Misra-Gries sketch pass
    proposes candidates, one targeted verification pass counts them
    exactly.  Output = precisely the tuples with
    count >= ceil(phi * N_group) over non-NULL rows (N_group = that
    group's row count; one global group when ``by`` is empty) —
    hash-checkable against ``GROUP BY ... HAVING`` even though a sketch
    drove the search.

    Why it is exact: MG counters never overcount and undercount by at
    most ``err <= N/(k+1)``; with ``k >= ceil(1/phi)`` (enforced; the
    default uses 2/phi for margin) every true phi-heavy tuple keeps a
    counter >= threshold - err, so the candidate set is a SUPERSET of
    the answer and exact verification only removes false positives (a
    hash collision merely lets a non-candidate tuple into verification,
    where its exact count filters it).  A belt-and-braces runtime check
    re-verifies err < threshold on the merged sketch.  Fully
    distributed: nothing collects to the driver — the O(groups x k)
    candidate table explodes out of the sketch rows and joins back onto
    the input, replacing a full distinct-tuple groupBy with a
    semi-filtered aggregation over candidate rows only.

    ``broadcast_candidates``: the candidate table is O(groups x k) rows;
    forcing a broadcast is only unconditionally safe when that bound is
    known small.  Default (None): force-broadcast for the GLOBAL case
    (1 x k rows, k already validated), but leave the grouped case to
    Spark's own planner/AQE, which broadcasts from actual runtime sizes
    and falls back to a shuffle hash join when groups x k is large —
    an explicit F.broadcast would bypass that safety valve.  Pass
    True/False to override either way.
    """
    import math

    if not 0.0 < phi < 1.0:
        raise ValueError("phi must be in (0, 1)")
    by = list(by)
    reserved = {"_ch", "_thresh", "_i", "cnt"} & (set(cols) | set(by))
    if reserved:
        # withColumn("_ch", ...) would silently REPLACE a data column
        # of that name and emit its hash as the "exact" item
        raise ValueError(
            f"input columns collide with reserved names: {sorted(reserved)}"
        )
    k_min = int(math.ceil(1.0 / phi))
    if k is None:
        k = max(8, int(math.ceil(2.0 / phi)))
    elif k < k_min:
        # err <= N/(k+1) must stay below thresh = ceil(phi*N), or a true
        # heavy hitter can be evicted and silently missing from an
        # "exact" result
        raise ValueError(
            f"k={k} cannot guarantee phi={phi} recall; need k >= {k_min}"
        )
    sk = mg_agg(df, cols, by=by, k=k)

    @pandas_udf("struct<cands: array<long>, thresh: long>")
    def _cand_struct(s: pd.Series) -> pd.DataFrame:
        cands, threshes = [], []
        for b in s:
            mg = MisraGries.from_bytes(bytes(b))
            thresh = int(math.ceil(phi * mg.total))
            if mg.total and mg.err >= max(thresh, 1):
                raise RuntimeError(
                    f"MG error {mg.err} >= threshold {thresh}: the "
                    "recall guarantee is void (k too small for phi)"
                )
            hs, _ = mg.candidates(max(1, thresh - mg.err))
            cands.append([int(x) for x in hs])
            threshes.append(thresh)
        return pd.DataFrame({"cands": cands, "thresh": threshes})

    cand = sk.select(
        *by, _cand_struct("sketch").alias("_i")
    ).select(
        *by,
        F.col("_i.thresh").alias("_thresh"),
        F.explode("_i.cands").alias("_ch"),
    )

    cond = _notnull_cond(cols)
    base = (df.where(cond) if cond is not None else df).withColumn(
        "_ch", _hash_cols(cols)
    )
    if broadcast_candidates is None:
        # global case: 1 x k rows, safe; grouped: let the planner/AQE
        # pick from runtime sizes (no hint either way)
        hinted = F.broadcast(cand) if not by else cand
    elif broadcast_candidates:
        hinted = F.broadcast(cand)
    else:
        # hard opt-out: shuffle hash join even if AQE would broadcast
        hinted = cand.hint("shuffle_hash")
    h, c = base.alias("h"), hinted.alias("c")
    on = [F.col(f"h.{x}").eqNullSafe(F.col(f"c.{x}")) for x in by] + [
        F.col("h._ch") == F.col("c._ch")
    ]
    joined = h.join(c, on, "inner").select(
        *[F.col(f"h.{x}") for x in by + list(cols)], F.col("c._thresh")
    )
    return (
        joined.groupBy(*(by + list(cols)), "_thresh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= F.col("_thresh"))
        .drop("_thresh")
    )


# ------------------------------------------------------------------ CMS


def cms_agg(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    d: int = 5,
    w: int = 2048,
    weight_col: str | None = None,
    fanin: int | None = 64,
) -> DataFrame:
    return merge_sketches(
        cms_partials(df, cols, by, d, w, weight_col),
        by,
        CountMinSketch.from_bytes,
        fanin=fanin,
    )


def _require_integral_weight(df: DataFrame, weight_col: str, ctx: str) -> None:
    """CMS/MG counters are integers; a silent float->int64 cast would
    truncate fractional weights and break the counter invariants.  The
    gate lives at the PARTIALS layer so every entry point (batch agg,
    streaming sketch_stream_writer, partials-only callers) fails loudly
    on a float weight column."""
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        IntegerType,
        LongType,
        ShortType,
    )

    # case-insensitive lookup: Spark column resolution is
    # case-insensitive by default, the gate must match it
    matches = [
        f for f in df.schema.fields if f.name.lower() == weight_col.lower()
    ]
    if not matches:
        raise ValueError(f"weight column {weight_col!r} not in DataFrame")
    dt = matches[0].dataType
    integral = isinstance(
        dt, (ByteType, ShortType, IntegerType, LongType)
    ) or (isinstance(dt, DecimalType) and dt.scale == 0)
    if not integral:
        raise TypeError(
            f"{ctx} weight column must be integral, got "
            f"{dt.simpleString()} — cast explicitly"
        )


def cms_partials(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    d: int = 5,
    w: int = 2048,
    weight_col: str | None = None,
) -> DataFrame:
    """Stage 1 only — batch building block and streaming partials_fn."""
    if weight_col is not None:
        _require_integral_weight(df, weight_col, "cms_partials")
    return _generic_partials(
        df,
        by,
        [_hash_cols(cols)],
        lambda: CountMinSketch(d, w),
        cols,
        weight_col=weight_col,
    )


_cms_point_query_udf = sketch_udf(
    CountMinSketch.from_bytes,
    lambda cms, h: cms.point_query_hashes(_probe_hashes(h, "cms_point_query")),
    LongType(),
    per_distinct=True,
)


def cms_point_query(sketch: Column | str, h: Column) -> Column:
    """Estimated frequency of the item whose build-side hash is ``h``
    (= ``xxhash64(value)``).  NULLs masked JVM-side (see _probe_hashes)."""
    sk = F.col(sketch) if isinstance(sketch, str) else sketch
    anynull = sk.isNull() | h.isNull()
    return F.when(~anynull, _cms_point_query_udf(sk, F.coalesce(h, F.lit(0))))


_cms_total_udf = sketch_udf(CountMinSketch.from_bytes, lambda s: s.total, LongType())


def cms_total(sketch: Column | str) -> Column:
    """EXACT total weight added to the sketch (tracked alongside the
    counters and summed on merge) — the CMS analogue of kll_count: it
    makes the scan -> partial -> tree-merge pipeline hash-checkable
    against ``count(*)`` / ``sum(weight)`` even though point queries are
    overcount-only estimates."""
    return _cms_total_udf(sketch)


# ------------------------------------------------- Frequent Directions


def fd_partials(
    df: DataFrame,
    vec_col: str,
    dim: int,
    by: Sequence[str] = (),
    ell: int = 64,
) -> DataFrame:
    """Stage 1 for the Frequent Directions matrix sketch: one FD per
    (stage-1 task x group) over an ``array<float|double>`` embedding
    column.  Unlike the hashed-scalar sketches this consumes the raw
    vectors, so it passes _generic_partials a ``batch_values`` (the
    grouping/emission path is the one every sketch shares); ``dim`` is the
    fixed-width contract, validated per batch by the shared _vec_matrix
    guard.  NULL vectors are dropped (matching count(vec) semantics);
    rows with non-finite values fail loudly in the kernel."""
    from .ann import _vec_matrix

    return _generic_partials(
        df,
        by,
        [F.col(vec_col)],
        lambda: FrequentDirections(ell, dim),
        [vec_col],
        update=lambda fd, c: fd.update(c[0]),
        batch_values=lambda cols: [_vec_matrix(cols[0], len(cols[0]), dim)],
    )


def fd_agg(
    df: DataFrame,
    vec_col: str,
    dim: int,
    by: Sequence[str] = (),
    ell: int = 64,
    fanin: int | None = 64,
) -> DataFrame:
    """Distributed Frequent Directions: covariance/spectral sketch of an
    embedding column per group, through the same salted bounded-fan-in
    tree merge as every other sketch.  Each partial is O(ell * dim)
    bytes, so the exchange carries sketches, never vectors; the merged
    sketch certifies its own spectral error (fd_spectral_bound) and its
    exact row count / Frobenius mass (fd_rows / fd_fnorm2) stay
    oracle-checkable against count(*) / sum of squares."""
    return merge_sketches(
        fd_partials(df, vec_col, dim, by, ell),
        by,
        FrequentDirections.from_bytes,
        fanin=fanin,
    )


_fd_rows_udf = sketch_udf(FrequentDirections.from_bytes, lambda s: s.n_rows, LongType())
_fd_fnorm2_udf = sketch_udf(FrequentDirections.from_bytes, lambda s: s.fnorm2, DoubleType())
_fd_bound_udf = sketch_udf(FrequentDirections.from_bytes, lambda s: s.shrink_total, DoubleType())


def fd_rows(sketch: Column | str) -> Column:
    """EXACT number of vectors absorbed (summed on merge) — the
    oracle-checkable companion, same role as kll_count/cms_total."""
    return _fd_rows_udf(sketch)


def fd_fnorm2(sketch: Column | str) -> Column:
    """EXACT squared Frobenius mass ||A||_F^2 (associative float sum;
    oracle-checkable against sum(x_i^2) within float tolerance)."""
    return _fd_fnorm2_udf(sketch)


def fd_spectral_bound(sketch: Column | str) -> Column:
    """Certified ||A'A - B'B||_2 bound carried by the sketch (sum of
    applied shrink deltas; always <= fnorm2 / ell)."""
    return _fd_bound_udf(sketch)


_fd_singular_values_udf = sketch_udf(
    FrequentDirections.from_bytes,
    lambda s, k: s.singular_values(int(k)).tolist(),
    ArrayType(DoubleType()),
)


def fd_singular_values(sketch: Column | str, k: int) -> Column:
    """Top-k singular values of the sketch, as array<double> (each is
    in [sqrt(max(sigma_j^2 - bound, 0)), sigma_j] of the true value)."""
    return _fd_singular_values_udf(sketch, F.lit(int(k)))


# ------------------------------------------------------------ Theta/KMV


def theta_partials(
    df: DataFrame, cols: Sequence[str], by: Sequence[str] = (), k: int = 4096
) -> DataFrame:
    """Stage 1: one ThetaSketch per (stage-1 task x group) over the tuple
    ``cols`` (same pre-hashed xxhash64 contract as HLL — a probe or a
    second cohort built with the same ``cols`` shape is directly
    algebra-compatible)."""
    return _generic_partials(
        df, by, [_hash_cols(cols)], lambda: ThetaSketch(k), cols
    )


def theta_agg(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    k: int = 4096,
    fanin: int | None = 64,
) -> DataFrame:
    """Distinct-count + set-algebra sketch of the tuple ``cols`` per
    group.  vs hll_agg: ~8x bigger sketch at the same relative error,
    but union/intersection/difference CLOSE over sketches with per-
    result error bounds (theta_rse_bound) — inclusion-exclusion over
    HLL estimates cannot bound a small overlap.  Partial size is
    O(k) = 32 KB at k=4096, constant in row count, so the salted tree's
    per-reducer fan-in bound carries the same 100-TB posture as HLL."""
    return merge_sketches(
        theta_partials(df, cols, by, k), by, ThetaSketch.from_bytes, fanin=fanin
    )


_theta_estimate_udf = sketch_udf(ThetaSketch.from_bytes, ThetaSketch.estimate, DoubleType())
_theta_n_retained_udf = sketch_udf(ThetaSketch.from_bytes, ThetaSketch.n_retained, LongType())


def theta_estimate(sketch: Column | str) -> Column:
    """Unbiased distinct-count estimate (exact while the sketch is
    unsaturated, i.e. fewer than k distincts seen)."""
    return _theta_estimate_udf(sketch)


def theta_n_retained(sketch: Column | str) -> Column:
    """Retained-sample size — the quantity that governs the error of a
    derived (intersection/difference) sketch."""
    return _theta_n_retained_udf(sketch)


def _rse_bound(s: ThetaSketch, n_std) -> float | None:
    v = s.rse_bound(float(n_std))
    return None if v == float("inf") else v


_theta_rse_bound_udf = sketch_udf(ThetaSketch.from_bytes, _rse_bound, DoubleType())


def theta_rse_bound(sketch: Column | str, n_std: float = 3.0) -> Column:
    """n_std-sigma RELATIVE error bound on theta_estimate of THIS sketch
    (0 when exact; NULL when fewer than 2 hashes are retained — the
    estimate is then unbounded and should be treated as 'no signal')."""
    return _theta_rse_bound_udf(sketch, F.lit(float(n_std)))


_theta_union_pair_udf = _merge_pair_udf(ThetaSketch.from_bytes)
_theta_intersect_pair_udf = sketch_udf(
    ThetaSketch.from_bytes, lambda a, b: a.intersect(b).to_bytes(), BinaryType(),
    n_sketches=2,
)
_theta_a_not_b_pair_udf = sketch_udf(
    ThetaSketch.from_bytes, lambda a, b: a.a_not_b(b).to_bytes(), BinaryType(),
    n_sketches=2,
)


def theta_union_pair(a: Column | str, b: Column | str) -> Column:
    """A ∪ B as a sketch (associative; NULL identity)."""
    return _theta_union_pair_udf(a, b)


def theta_intersect_pair(a: Column | str, b: Column | str) -> Column:
    """A ∩ B as a sketch — estimate it with theta_estimate, bound it
    with theta_rse_bound on the RESULT (retained intersection sample).
    NULL propagates (unknown set -> unknown overlap)."""
    return _theta_intersect_pair_udf(a, b)


def theta_a_not_b_pair(a: Column | str, b: Column | str) -> Column:
    """A \\ B as a sketch.  NULL propagates."""
    return _theta_a_not_b_pair_udf(a, b)
