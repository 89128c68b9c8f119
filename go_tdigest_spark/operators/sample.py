"""Deterministic sampling operators for training-data pipelines.

Random sampling is the wrong tool at 100 TB: runs are not reproducible,
stratified sizes drift, and an oracle cannot check the output.  Every
operator here samples or orders by a SEEDED CONTENT HASH of the key
column, so

  - the sample is a pure function of the data (re-runs, retries, and
    different partitionings produce the identical sample — the same
    determinism contract as the tokens source);
  - the DuckDB twin replicates the hash bit-for-bit, so the driver gate
    checks the sample EXACTLY (no rows-only waiver);
  - membership is decided per row (fraction, mixture, split) or per
    group (top-k, weighted, token budget), so no operator needs a
    global single-task sort.

Hashing: the shared polynomial codepoint kernel (poly_hash_batch /
shingle_hash_frag) over the key's string form with a seed prefix.  The
Spark hot path stringifies each Arrow batch with a pyarrow C cast and
hashes it column-wise in numpy, in ONE map-side pass (``_hashed``) that
every operator runs; the SQL frag twin is generated beside it.  Keys
are restricted to INTEGRAL or STRING columns (enforced): other types
stringify differently across engines (bool True/true, double
1e+16/1.0E16), which would silently change sample membership vs the
oracle.

Scale notes, per operator:

  - ``sample_fraction``, ``sample_mixture``, ``sample_split``: map-only
    (scan -> hash -> filter or label in the same Arrow pass).
  - ``sample_topk_per_group``, ``sample_weighted``: bottom-k samples
    over a per-row rank (the seeded hash, or the Efraimidis–Spirakis
    priority ``-ln(u) / w``), selected by ``_batch.top_k``: one shuffle
    on the group key and a rank-limit window, or TakeOrderedAndProject
    when there is no group.
  - ``deterministic_shuffle``, ``sample_token_budget``: the package's
    two-phase distributed prefix sum (``pack._range_phase1`` and
    ``pack._with_prefix``) over the hash order — one range shuffle,
    never a global single-partition window.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
)

from ._batch import map_rows, top_k
from .dedup import FP_BASE, SH_MOD, shingle_hash_frag
from .pack import _range_phase1, _with_prefix

# sampling uses the 57-bit modulus: the 30-bit FP_MOD would make the
# acceptance ratio granular to ~1e-9 of itself only, fine, but SH_MOD
# keeps the same constant family as the dedup index
_DENOM = 1_000_000  # fraction resolution: 1e-6

# the raw polynomial hash has NO avalanche in its low digits (it is
# linear in the last character: consecutive ids -> consecutive hashes),
# which would make fraction-sampling correlate with the id's last
# digit.  Two MINSTD rounds (Lehmer MCG, public-domain constants
# a=48271 mod 2^31-1) decorrelate it; chosen because a*h fits int64 on
# EVERY engine (a < 2^16.6, h < 2^31), so the identical arithmetic is
# expressible in Spark SQL, DuckDB, and numpy without 128-bit ops.
_MIX_A = 48271
_MIX_P = 2_147_483_647  # 2^31 - 1

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


def _mix_frag(expr: str) -> str:
    h1 = f"(({expr}) % {_MIX_P})"
    h2 = f"(({h1} * {_MIX_A}) % {_MIX_P})"
    return f"(({h2} * {_MIX_A}) % {_MIX_P})"


def _mix_batch(h):
    h = h % _MIX_P
    h = (h * _MIX_A) % _MIX_P
    return (h * _MIX_A) % _MIX_P


def _check_type(
    df: DataFrame, col: str, ctx: str, what: str, ok: tuple, kinds: str,
    why: str = "",
) -> None:
    """The one column-type check: ValueError when ``col`` is not in
    ``df``, TypeError naming ``kinds`` when its type is not one of the
    ``ok`` classes."""
    if col not in df.columns:
        raise ValueError(f"{ctx}: {what} {col!r} not in DataFrame")
    dt = df.schema[col].dataType
    if not isinstance(dt, ok):
        raise TypeError(
            f"{ctx}: {what} must be {kinds}, got {dt.simpleString()}{why}"
        )


def _check_key_type(df: DataFrame, key_col: str, ctx: str) -> None:
    _check_type(
        df, key_col, ctx, "key column", (*_INTEGRAL, StringType),
        "integral or string",
        " — other types stringify differently across engines (bool "
        "True/true, double 1e+16/1.0E16)",
    )


def _check_group_dict(
    df: DataFrame, group_col: str, values: dict, ctx: str, what: str
) -> None:
    """Keys of a per-group dict must match ``group_col``'s Python type:
    a str key against an int column silently misses the dict lookup on
    the Spark side while the SQL twin's '5' = 5 COERCES and matches —
    the engines would return different row sets with no error."""
    want_str = isinstance(df.schema[group_col].dataType, StringType)
    for g in values:
        ok = (
            isinstance(g, str)
            if want_str
            else isinstance(g, (int, np.integer)) and not isinstance(g, bool)
        )
        if not ok:
            raise TypeError(
                f"{ctx}: {what} key {g!r} does not match the "
                f"{'string' if want_str else 'integral'} group column "
                f"{group_col!r}"
            )


def _seeded(var: str, seed: int) -> str:
    # seed folds in as a string prefix so different seeds give
    # independent samples of the same keys; NULL keys coalesce to ''
    # (matching the kernel's str(None) -> '' mapping) because Spark's
    # concat is NULL-absorbing while DuckDB's ignores NULLs
    return f"concat('s{seed}:', coalesce({var}, ''))"


def _hash_strings_batch(vals: list[str], seed: int) -> np.ndarray:
    from ._batch import poly_hash_batch

    return _mix_batch(
        poly_hash_batch([f"s{seed}:{v}" for v in vals], FP_BASE, SH_MOD)
    )


def _batch_key_hashes(batch, key_idx: int, seed: int) -> np.ndarray:
    """The ONE stringify-then-hash contract every sampling operator
    shares (C-level stringify: int64 -> "123", identical to the SQL CAST
    for the enforced integral/string key types; NULL -> '').  Only the
    hash pass ``_hashed`` calls it.  A behavior change here forks sample
    membership across the whole family — that is the point of having
    exactly one copy."""
    import pyarrow as pa
    import pyarrow.compute as pc

    vals = [
        "" if v is None else v
        for v in pc.cast(batch.column(key_idx), pa.string()).to_pylist()
    ]
    return _hash_strings_batch(vals, seed)


def _hashed(
    df: DataFrame, key_col: str, seed: int, field: StructField | None,
    emit, ctx: str,
) -> DataFrame:
    """The seeded key-hash pass every sampling operator runs, on
    ``_batch.map_rows``: it hashes each batch's key column once and
    calls ``emit(batch, h)``.  With ``field=None`` that returns the rows
    to keep (a boolean mask) and the schema is ``df``'s; with a
    ``field``, it returns the field's values, appended as the last
    column.  The key type is checked here, and an input column named
    like ``field`` is refused: the operator would shadow or drop it."""
    _check_key_type(df, key_col, ctx)
    key_idx = df.columns.index(key_col)
    if field is not None and field.name in df.columns:
        raise ValueError(
            f"{ctx}: input column {field.name!r} already exists; the "
            "name is reserved for the output"
        )

    def hash_pass(batch):
        out = emit(batch, _batch_key_hashes(batch, key_idx, seed))
        return (out, {}) if field is None else (None, {field.name: out})

    cols = [*df.columns] if field is None else [*df.columns, field]
    return map_rows(df, cols, hash_pass)


def _with_key_hash(
    df: DataFrame, key_col: str, seed: int, out_col: str, ctx: str
) -> DataFrame:
    """``df`` plus ``out_col``, the seeded key hash (int64) — the order
    key of the top-k sample, the deterministic shuffle and the token
    budget."""
    field = StructField(out_col, LongType(), False)
    return _hashed(df, key_col, seed, field, lambda batch, h: h, ctx)


def sample_hash_frag(col: str, dialect: str, seed: int = 1) -> str:
    """SQL twin of the sampling hash: poly hash of 's{seed}:' || key."""
    cast = (
        f"CAST({col} AS STRING)" if dialect == "spark"
        else f"CAST({col} AS VARCHAR)"
    )
    return _mix_frag(shingle_hash_frag(_seeded(cast, seed), dialect, SH_MOD))


def sample_fraction(
    df: DataFrame,
    key_col: str,
    fraction: float,
    seed: int = 1,
) -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose seeded key
    hash lands below ``fraction`` of the modulus.  Reproducible across
    runs/partitionings; duplicate keys are kept or dropped TOGETHER
    (membership is a function of the key), which is what a training
    pipeline usually wants for doc-keyed tables.

    Map-only plan: the hash is computed per Arrow batch in numpy and
    applied as a filter — no shuffle, no interpreted expressions.
    NB: mapInArrow is opaque to Catalyst, so column pruning does not
    reach through it — ``select`` the columns you need BEFORE sampling
    when the table is wide.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")

    cutoff = int(round(fraction * _DENOM))

    def keep(batch, h):
        return h % _DENOM < cutoff

    return _hashed(df, key_col, seed, None, keep, "sample_fraction")


def sample_fraction_sql(
    table: str, key_col: str, fraction: float, seed: int = 1
) -> str:
    cutoff = int(round(fraction * _DENOM))
    h = sample_hash_frag(key_col, "duck", seed)
    return f"SELECT * FROM {table} WHERE ({h}) % {_DENOM} < {cutoff}"


def sample_topk_per_group(
    df: DataFrame,
    key_col: str,
    by: list[str],
    k: int,
    seed: int = 1,
) -> DataFrame:
    """Fixed-size stratified sample: the ``k`` rows with the smallest
    seeded key hash per group (ties broken by the key itself).  One
    shuffle on the group keys; the hash itself is batch-computed
    map-side.

    The key must be UNIQUE within each group (use an id column): rows
    sharing a key sort identically on (hash, key), so which physical
    row wins a tie at rank k would depend on partitioning — the exact
    nondeterminism this operator exists to rule out.  Uniqueness is the
    caller's contract; it is not validated (checking would cost an
    extra aggregation over the input).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    hashed = _with_key_hash(df, key_col, seed, "_sh", "sample_topk_per_group")
    order = [F.asc("_sh"), F.asc(key_col)]
    return top_k(hashed, by, order, k, "_rn").drop("_sh", "_rn")


def sample_mixture(
    df: DataFrame,
    key_col: str,
    group_col: str,
    fractions: dict,
    seed: int = 1,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-group deterministic sampling rates — the data-mixture
    reweighting step of a training pipeline (downsample a dominant
    source to X%, keep a scarce one whole).  Each row keeps or drops by
    the seeded content hash of its key against ITS GROUP's cutoff;
    groups not in ``fractions`` use ``default_fraction`` (0.0 = drop,
    the safe default for an explicit mixture spec).

    Same guarantees as ``sample_fraction``: membership is a pure
    function of (key, group fraction, seed) — reproducible across
    partitionings/retries, duplicate keys travel together, and the
    DuckDB twin replicates the decision bit-for-bit.  Map-only plan.
    """
    _check_key_type(df, group_col, "sample_mixture (group)")
    _check_group_dict(df, group_col, fractions, "sample_mixture", "fraction")
    for g, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for group {g!r} must be in [0, 1]")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError("default_fraction must be in [0, 1]")

    cut = {g: int(round(f * _DENOM)) for g, f in fractions.items()}
    default_cut = int(round(default_fraction * _DENOM))
    grp_idx = df.columns.index(group_col)

    def keep(batch, h):
        groups = batch.column(grp_idx).to_pylist()
        cuts = np.fromiter(
            (cut.get(g, default_cut) for g in groups),
            dtype=np.int64,
            count=len(groups),
        )
        return h % _DENOM < cuts

    return _hashed(df, key_col, seed, None, keep, "sample_mixture")


def sample_mixture_sql(
    table: str,
    key_col: str,
    group_col: str,
    fractions: dict,
    seed: int = 1,
    default_fraction: float = 0.0,
) -> str:
    h = sample_hash_frag(key_col, "duck", seed)
    default_cut = int(round(default_fraction * _DENOM))
    cuts = {g: int(round(f * _DENOM)) for g, f in fractions.items()}
    cut = _case_sql(group_col, cuts, default_cut)
    return f"SELECT * FROM {table} WHERE ({h}) % {_DENOM} < ({cut})"


def _sql_lit(v) -> str:
    if isinstance(v, str):
        escaped = v.replace("'", "''")
        return f"'{escaped}'"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    raise TypeError(f"mixture group literal must be str or int, got {type(v)}")


def _case_sql(col: str, values: dict, default: int) -> str:
    """DuckDB text of a per-group dict: ``CASE col WHEN key THEN value
    ... ELSE default END`` (a NULL or unlisted group gets ``default``),
    or the bare default for an empty dict — the mixture twin's cut and
    the token-budget twin's cap."""
    if not values:
        return str(int(default))
    whens = " ".join(
        f"WHEN {_sql_lit(g)} THEN {int(v)}" for g, v in values.items()
    )
    return f"CASE {col} {whens} ELSE {int(default)} END"


def _split_cutoffs(weights: dict[str, float]) -> list[tuple[str, int, int]]:
    """(name, lo, hi) half-open hash ranges in [0, _DENOM)."""
    if not weights:
        raise ValueError("weights must be non-empty")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be >= 0")
    out, acc, cum = [], 0, 0.0
    names = list(weights)
    for i, name in enumerate(names):
        cum += weights[name]
        # cumulative rounding: bucket widths absorb rounding drift and
        # the last bucket is forced to close the range exactly
        hi = _DENOM if i == len(names) - 1 else int(round(cum * _DENOM))
        out.append((name, acc, hi))
        acc = hi
    return out


def sample_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: int = 1,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic named split (train/val/test...): every row gains a
    ``split_col`` label chosen by which cumulative hash range its seeded
    key hash lands in.  Pure function of (key, weights, seed): re-runs,
    retries, different partitionings, and INCREMENTAL data (new rows
    never move old rows between splits) all agree — the property random
    splits lack that makes held-out sets leak across pipeline versions.

    Duplicate keys land in the same split (membership follows the key),
    so doc-keyed corpora never leak a near-identical row from train into
    test by id.  Map-only plan: one hash kernel pass, one CASE chain.
    """
    if "_split_h" in df.columns:
        # the SQL twin uses _split_h as its internal hash alias; the
        # Spark path reserves it too so both engines accept the same
        # inputs
        raise ValueError("input column _split_h collides with a reserved name")
    cut = _split_cutoffs(weights)

    def label(batch, h):
        h = h % _DENOM
        labels = np.empty(len(h), dtype=object)
        for name, lo, hi in cut:
            labels[(h >= lo) & (h < hi)] = name
        return labels

    field = StructField(split_col, StringType(), False)
    return _hashed(df, key_col, seed, field, label, "sample_split")


def sample_split_sql(
    table: str,
    key_col: str,
    weights: dict[str, float],
    seed: int = 1,
    split_col: str = "split",
) -> str:
    cut = _split_cutoffs(weights)
    h = sample_hash_frag(key_col, "duck", seed)
    last = cut[-1][0]
    if len(cut) == 1:
        label = f"'{last}'"
    else:
        cases = " ".join(
            f"WHEN _split_h < {hi} THEN '{name}'" for name, _, hi in cut[:-1]
        )
        label = f"CASE {cases} ELSE '{last}' END"
    return f"""
        SELECT * EXCLUDE (_split_h), {label} AS {split_col}
        FROM (SELECT *, ({h}) % {_DENOM} AS _split_h FROM {table})
    """


# --- nonlinear avalanche for the weighted sampler --------------------
# The family's shared MINSTD mix is LINEAR: two same-length keys
# differing only in their last character hash to values at a CONSTANT
# offset (mod p), and the seed prefix shifts all same-length keys by a
# common constant.  Marginally uniform (fine for fraction/top-k
# sampling, where only each key's own hash matters) but jointly
# degenerate — for weighted sampling the E-S priorities of sequential
# doc ids would move in lockstep across seeds and the inclusion
# probabilities would not track the weights.  The quintic map
# x -> x^5 mod p is a BIJECTION on [0, p) (gcd(5, p-1) = 1 for
# p = 2^31-1: p-1 = 2*3^2*7*11*31*151*331) — marginal uniformity is
# preserved exactly — and is nonlinear, so per-key differences vary
# with the key value.  All intermediates fit int64 (operands < 2^31,
# products < 2^62) on numpy, Spark SQL, and DuckDB alike.
#
# Verified empirically (tests): k=1 inclusion frequency over 4000 seeds
# tracks w_i/sum(w) within 2% for both short keys and sequential doc
# ids; u is KS-uniform at 1.2e-3 over 200k keys.


def _nl_batch(h):
    """Quintic avalanche over an already-MINSTD-mixed hash array."""
    x = h % _MIX_P
    x2 = (x * x) % _MIX_P
    x5 = (((x2 * x2) % _MIX_P) * x) % _MIX_P
    return (x5 * _MIX_A) % _MIX_P


def sample_weighted(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    seed: int = 1,
    by: list[str] | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    quality-score subsampling step of a curation pipeline (keep ``k``
    documents, inclusion probability proportional to a per-row weight).

    Algorithm: Efraimidis & Spirakis (2006) A-ES reformulated as an
    exponential race.  Each row gets ``u`` in (0, 1] from its seeded
    content hash (the family's shared stringify-then-hash contract,
    pushed through the quintic avalanche ``_nl_batch`` — see the
    comment above it for why the linear mix alone is NOT enough here)
    and priority ``-ln(u) / w``, an Exponential(w) draw; the ``k``
    smallest priorities are exactly an E-S weighted sample — for k=1
    the inclusion probability is w_i / sum(w).  Membership is a pure
    function of (key, weight, seed): re-runs, retries, and different
    partitionings agree, and new rows never reshuffle old priorities.

    Scale shape: the priority is computed per Arrow batch in numpy
    (map-only — ``ln`` never runs JVM-side, so the Spark result is
    bit-stable regardless of JVM math intrinsics); global selection
    plans as TakeOrderedAndProject (per-partition partial top-k, one
    k-row merge — no global sort), grouped selection (``by``) as a
    rank-limit window (WindowGroupLimit pushes the top-k below the
    shuffle in Spark 4).  Keep ``k`` driver-friendly for the global
    form; the grouped form never gathers.

    Contracts: ``key_col`` unique (ties at the rank-``k`` boundary break
    by key, same as ``sample_topk_per_group``); weights must be finite
    and > 0 — NULL / <= 0 / NaN raise loudly (filter or clamp upstream:
    a silent drop would skew the mixture the caller asked for).  The
    DuckDB twin computes the identical priority with its own ``ln``;
    libm vs numpy can differ in the last ulp, which flips membership
    only if two priorities straddle rank k within ~1e-16 relative —
    vanishingly unlikely and pinned by the parity test on the fixtures.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    _check_type(
        df, weight_col, "sample_weighted", "weight column",
        (*_INTEGRAL, FloatType, DoubleType), "integral or float/double",
        " (decimal/other types do not convert losslessly to the float64 "
        "priority kernel)",
    )
    w_idx = df.columns.index(weight_col)

    def priority(batch, h):
        # nulls surface as NaN through the float cast and fail the
        # finite check below — one code path for NULL/NaN/inf/<=0
        w = np.asarray(
            batch.column(w_idx).to_numpy(zero_copy_only=False),
            dtype=np.float64,
        )
        bad = ~np.isfinite(w) | (w <= 0.0)
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            raise ValueError(
                "sample_weighted: weight must be finite and > 0, got "
                f"{batch.column(w_idx)[i].as_py()!r} for key "
                f"{batch.column(key_col)[i].as_py()!r}"
            )
        return -np.log((_nl_batch(h) + 1.0) / _MIX_P) / w

    field = StructField("_pri", DoubleType(), False)
    hashed = _hashed(df, key_col, seed, field, priority, "sample_weighted")
    order = [F.asc("_pri"), F.asc(key_col)]
    return top_k(hashed, by, order, k, "_rn").drop("_pri", "_rn")


def sample_weighted_sql(
    table: str,
    key_col: str,
    weight_col: str,
    k: int,
    seed: int = 1,
    by: list[str] | None = None,
) -> str:
    """DuckDB twin of ``sample_weighted`` (same hash, same quintic
    avalanche, same priority formula; see the ulp caveat in the
    operator docstring).  Internal aliases ``_es_x/_es_x2/_es_pri/_rn``
    must not collide with input columns."""
    h = sample_hash_frag(key_col, "duck", seed)
    # bind intermediates in nested selects instead of inlining the
    # (large) hash frag five times into the quintic
    x5 = f"(((((_es_x2 * _es_x2) % {_MIX_P}) * _es_x) % {_MIX_P}))"
    z = f"(({x5} * {_MIX_A}) % {_MIX_P})"
    # mirror the Spark operator's loud weight contract (NULL / <= 0 /
    # NaN / inf raise): without this the twin would silently return a
    # DIFFERENT sample (negative weights sort first and always win) on
    # inputs the operator rejects — DuckDB's NaN orders above all
    # values, so NaN even passes `> 0`
    wd = f"CAST({weight_col} AS DOUBLE)"
    w_ok = (
        f"CASE WHEN {weight_col} IS NULL OR isnan({wd}) OR isinf({wd}) "
        f"OR NOT ({wd} > 0) THEN "
        f"error('sample_weighted: weight must be finite and > 0') "
        f"ELSE {wd} END"
    )
    pri = f"(-ln((({z}) + 1.0) / {_MIX_P}.0) / ({w_ok}))"
    bound = f"""
        SELECT *, (_es_x * _es_x) % {_MIX_P} AS _es_x2 FROM (
            SELECT *, ({h}) AS _es_x FROM {table}
        )
    """
    if not by:
        return f"""
            SELECT * EXCLUDE (_es_x, _es_x2) FROM ({bound})
            ORDER BY ({pri}) ASC, {key_col} ASC LIMIT {k}
        """
    keys = ", ".join(by)
    return f"""
        SELECT * EXCLUDE (_es_x, _es_x2, _rn) FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY {keys}
                       ORDER BY ({pri}) ASC, {key_col} ASC
                   ) AS _rn
            FROM ({bound})
        ) WHERE _rn <= {k}
    """


def sample_topk_per_group_sql(
    table: str, key_col: str, by: list[str], k: int, seed: int = 1
) -> str:
    h = sample_hash_frag(key_col, "duck", seed)
    if not by:
        # global twin (bare PARTITION BY would not parse)
        return f"""
            SELECT * FROM {table}
            ORDER BY ({h}) ASC, {key_col} ASC LIMIT {k}
        """
    keys = ", ".join(by)
    return f"""
        SELECT * EXCLUDE (_sh, _rn) FROM (
            SELECT *, ({h}) AS _sh,
                   row_number() OVER (
                       PARTITION BY {keys}
                       ORDER BY ({h}) ASC, {key_col} ASC
                   ) AS _rn
            FROM {table}
        ) WHERE _rn <= {k}
    """


# --- deterministic global shuffle -------------------------------------


def deterministic_shuffle(
    df: DataFrame,
    key_col: str,
    seed: int = 1,
    pos_col: str = "pos",
    num_partitions: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """Reproducible pseudorandom GLOBAL ordering — "shuffle the training
    data once per epoch": every row gets a 0-based position under a
    permutation that is a pure function of ``(key, seed)``, independent
    of input partitioning, parallelism, file layout, or prior order.
    Different seeds give independent permutations of the same keys
    (epoch 0, epoch 1, ...).

    Order key: the family's seeded MINSTD-mixed content hash
    (``_batch_key_hashes`` — the ONE stringify-then-hash contract all
    sampling operators share), ties broken by the key itself so the
    order is total whenever keys are unique.  Duplicate keys receive
    distinct but arbitrarily-ordered consecutive positions; NULL keys
    all hash alike (coalesced to '') and sort among themselves by the
    engine's NULL placement — use unique non-NULL keys (the doc-id
    contract) when cross-engine positional equality matters.

    Scale shape: hash per Arrow batch (map-only), then the package's
    two-phase distributed prefix sum (``pack._range_phase1`` and
    ``pack._with_prefix``) over a size of one per row:
    ``repartitionByRange`` on (hash, key) + in-partition sort -> phase 1
    collects one COUNT per partition (O(partitions) driver rows) ->
    phase 2 assigns ``base[pid] + local_index`` map-only.  No global
    single-partition window anywhere — a ``row_number() OVER (ORDER BY
    ...)`` with no PARTITION BY, the naive form, serializes the whole
    table through one task and is exactly what this operator exists to
    avoid.  Positions are independent of where the sampled range
    boundaries fall (position = rank in the total order), so the result
    is deterministic even though ``repartitionByRange`` samples.

    ``persist``: the range-partitioned table is consumed twice (count
    pass + position pass); without it phase 2's layout could disagree
    with phase 1's boundaries, which silently produces duplicate or
    skipped positions, so ``persist=False`` REQUIRES a deterministic
    input (see ``pack._range_phase1``).  Released by
    ``release_dedup_caches``, which must run only after the result is
    consumed unless the input is deterministic.

    SQL twin: :func:`deterministic_shuffle_sql`.
    """
    ctx = "deterministic_shuffle"
    if pos_col in df.columns:
        raise ValueError(f"{ctx}: pos_col {pos_col!r} already in DataFrame")
    parts, base = _range_phase1(
        _with_key_hash(df, key_col, seed, "_h", ctx), [], ["_h", key_col],
        None, num_partitions, persist, ctx,
    )
    return _with_prefix(parts, [], None, base, pos_col, ctx).drop("_h", "_pid")


def deterministic_shuffle_sql(
    table: str, key_col: str, seed: int = 1, pos_col: str = "pos"
) -> str:
    """Semantic (window-form) twin of :func:`deterministic_shuffle` —
    the definition the scale path must equal exactly."""
    h = sample_hash_frag(key_col, "duck", seed)
    return f"""
        SELECT *, row_number() OVER (
                   ORDER BY ({h}) ASC, {key_col} ASC
               ) - 1 AS {pos_col}
        FROM {table}
    """


def sample_token_budget(
    df: DataFrame,
    key_col: str,
    size_col: str,
    budget: int | dict,
    seed: int = 1,
    by: list[str] | None = None,
    num_partitions: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """Budget-filling sample: keep documents in deterministic-shuffle
    order (:func:`deterministic_shuffle`'s permutation — a pure function
    of ``(key, seed)``) until their cumulative ``size_col`` fills
    ``budget``; a document that would overflow the budget is NOT kept
    (whole-doc semantics — no partial documents).  This is the "take the
    first 10B tokens of this epoch's permutation" job: reproducible
    across runs/partitionings, and a different seed draws an independent
    budget-full.

    ``by``: fill an independent budget PER GROUP (the per-source token
    cap every mixture recipe needs); each group consumes its own shuffle
    order.  ``budget`` may then be a dict keyed by the single ``by``
    column's value (groups absent from the dict keep NOTHING — an
    unlisted source is capped at 0, loudly visible rather than silently
    unbounded); a scalar applies the same cap to every group.  Dict
    budgets require ``len(by) == 1``.

    Scale shape: seeded hash per Arrow batch, then the package's
    two-phase distributed prefix sum (``pack._range_phase1`` and
    ``pack._with_prefix``): ``repartitionByRange`` on (by..., hash,
    key) -> phase 1 collects one SUM(size) per (partition, group)
    (O(partitions + groups) driver rows) -> partitions where every
    group's base offset already exceeds its budget are PRUNED (at
    100 TB with a 1% budget, ~99% of partitions never reach phase 2) ->
    phase 2 adds each document's group-local start offset map-only ->
    a JVM filter keeps ``start + size <= cap`` (the SQL twin's cap
    expression).  Exact int64 arithmetic end to end; never a global
    single-partition window.  ``persist`` as in
    :func:`deterministic_shuffle`.

    SQL twin: :func:`sample_token_budget_sql` (the running-sum window
    form — the semantic definition the scale path must equal exactly).
    """
    ctx = "sample_token_budget"
    by = list(by or [])
    for c in by:
        _check_key_type(df, c, ctx)
    cap = _budget_cap(budget, by, "spark")
    if isinstance(budget, dict):
        _check_group_dict(df, by[0], budget, ctx, "budget")
        if any(v < 0 for v in budget.values()):
            raise ValueError(f"{ctx}: budgets must be >= 0")
    elif budget < 0:
        raise ValueError(f"{ctx}: budget must be >= 0")
    if "_pos" in df.columns:
        raise ValueError(f"{ctx}: input column '_pos' is reserved")
    _check_type(df, size_col, ctx, "size_col", _INTEGRAL, "integral")

    def budget_of(g: tuple) -> int:
        if isinstance(budget, dict):
            return int(budget.get(g[0], 0))
        return int(budget)

    parts, base = _range_phase1(
        _with_key_hash(df, key_col, seed, "_h", ctx), by, ["_h", key_col],
        size_col, num_partitions, persist, ctx,
    )
    # prune partitions where EVERY group present already starts at or
    # past its budget: only each group's prefix reaches phase 2
    live = sorted({pid for (pid, *g), b in base.items() if b < budget_of(g)})
    parts = parts.where(F.col("_pid").isin(live) if live else F.lit(False))
    return (
        _with_prefix(parts, by, size_col, base, "_pos", ctx)
        .where(F.col("_pos") + F.col(size_col) <= cap)
        .drop("_h", "_pid", "_pos")
    )


def _budget_cap(budget: int | dict, by: list[str], dialect: str):
    """The per-row token cap: the scalar budget, or for a dict budget
    ``CASE <by[0]> WHEN key THEN cap ... ELSE 0 END`` (an unlisted group
    gets 0).  ``dialect="spark"`` builds it as a Column from literal
    values, so a key matches its group exactly whatever characters it
    holds (Spark SQL text would unescape backslashes and quotes
    differently from DuckDB); ``"duck"`` renders the SQL twin's text."""
    if not isinstance(budget, dict):
        return str(int(budget)) if dialect == "duck" else F.lit(int(budget))
    if len(by) != 1:
        raise ValueError(
            "sample_token_budget: dict budget requires exactly one by "
            "column (keys are that column's values)"
        )
    if dialect == "duck":
        return _case_sql(by[0], budget, 0)
    cases = [(F.col(by[0]) == F.lit(k), int(v)) for k, v in budget.items()]
    if not cases:
        return F.lit(0)
    cap = F.when(*cases[0])
    for cond, v in cases[1:]:
        cap = cap.when(cond, v)
    return cap.otherwise(0)


def sample_token_budget_sql(
    table: str,
    key_col: str,
    size_col: str,
    budget: int | dict,
    seed: int = 1,
    by: list[str] | None = None,
) -> str:
    by = list(by or [])
    h = sample_hash_frag(key_col, "duck", seed)
    part = f"PARTITION BY {', '.join(by)} " if by else ""
    cap = _budget_cap(budget, by, "duck")
    return f"""
        SELECT * EXCLUDE (_cum) FROM (
            SELECT *, sum({size_col}) OVER (
                       {part}ORDER BY ({h}) ASC, {key_col} ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS _cum
            FROM {table}
        ) WHERE _cum <= {cap}
    """
