"""Reads over digest (binary) columns.

These run on *final* digests — a handful of rows, one per group — so the
per-row Python here is off the hot path by construction; the heavy lifting
(sketch builds over raw data) lives in operators/aggregate.py as batched
NumPy.  Exposes the reference's read API (Quantile/CDF/TrimmedMean,
tdigest.go:93-140/295-333/411-455) as Spark expressions so
``SELECT source, td_quantile(digest, 0.99) FROM digests`` works
distributed, plus codecs to exchange digests with go/Java implementations.

Every read is one ``sketch_udf`` (``_udf.py``), and each SQL name
registers the same object its Column-API function calls.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .. import serde
from .._udf import sketch_udf, unit_interval
from ..core import TDigest


def _is_list(v) -> bool:
    return isinstance(v, Iterable) and not isinstance(v, (str, bytes))


def _centroid_structs(d) -> list:
    means, counts = d.centroids()
    return [{"mean": float(m), "count": int(c)} for m, c in zip(means, counts)]


def _cdf_knots(d) -> np.ndarray:
    """Breakpoints of the digest's piecewise-linear CDF (core.py cdf:
    [lo0, midpoints...]; single centroid = a step at its mean)."""
    means, _ = d.centroids()
    m = means.size
    if m == 0:
        return np.empty(0, dtype=np.float64)
    if m == 1:
        return means.astype(np.float64)
    mids = (means[:-1] + means[1:]) / 2.0
    lo0 = means[0] - (means[1] - means[0]) / 2.0
    return np.concatenate(([lo0], mids))


def _ks_distance(da, db):
    if da.count == 0 or db.count == 0:
        # an empty digest has no CDF (core.cdf returns NaN) — a
        # degenerate comparison is NULL, never a silent NaN that
        # makes every drift threshold evaluate False
        return None
    # sup of |F_a - F_b| for two piecewise-linear CDFs is attained
    # at a breakpoint of EITHER function; nextafter points capture
    # the left limits of the terminal jumps
    knots = np.union1d(_cdf_knots(da), _cdf_knots(db))
    xs = np.union1d(knots, np.nextafter(knots, -np.inf))
    return float(np.max(np.abs(da.cdf(xs) - db.cdf(xs))))


# per-row q/x reads decode each distinct digest once per batch: tdigest_rank
# and friends repeat one group digest over millions of fact rows
_td_quantile_udf = sketch_udf(serde.decode, TDigest.quantile, DoubleType(), per_distinct=True)
_td_cdf_udf = sketch_udf(serde.decode, TDigest.cdf, DoubleType(), per_distinct=True)
_td_trimmed_mean_udf = sketch_udf(
    serde.decode, lambda d, p1, p2: d.trimmed_mean(float(p1), float(p2)), DoubleType()
)
_td_count_udf = sketch_udf(serde.decode, lambda d: d.count, LongType())
_td_ncentroids_udf = sketch_udf(serde.decode, len, IntegerType())
_td_centroids_udf = sketch_udf(
    serde.decode,
    _centroid_structs,
    ArrayType(StructType([StructField("mean", DoubleType()), StructField("count", LongType())])),
)
_td_to_ref_bytes_udf = sketch_udf(serde.decode, serde.to_ref_bytes, BinaryType())
_td_from_ref_bytes_udf = sketch_udf(serde.from_ref_bytes, serde.encode, BinaryType())
_td_merge_pair_udf = sketch_udf(
    serde.decode, lambda a, b: serde.encode(a.merge(b)), BinaryType(),
    n_sketches=2, nulls="identity",
)
_td_ks_distance_udf = sketch_udf(serde.decode, _ks_distance, DoubleType(), n_sketches=2)


def td_quantile(digest: Column | str, q) -> Column:
    """Quantile(s) of a digest column. ``q`` may be a float or a list of
    floats (returns array<double>); each must lie in [0, 1]."""
    if _is_list(q):
        qs = np.array([unit_interval(v) for v in q])
        return sketch_udf(
            serde.decode, lambda d: d.quantile(qs).tolist(), ArrayType(DoubleType())
        )(digest)
    return _td_quantile_udf(digest, F.lit(unit_interval(q)))


def td_cdf(digest: Column | str, x) -> Column:
    if _is_list(x):
        xs = np.array([float(v) for v in x])
        return sketch_udf(
            serde.decode, lambda d: d.cdf(xs).tolist(), ArrayType(DoubleType())
        )(digest)
    return _td_cdf_udf(digest, F.lit(float(x)))


def td_cdf_col(digest: Column | str, x: Column) -> Column:
    """CDF evaluated at a PER-ROW ``x`` column (td_cdf takes a scalar).
    One decode per distinct digest per batch — safe to call on a fact
    table that repeats a group digest across millions of rows."""
    return _td_cdf_udf(digest, x)


def td_quantile_col(digest: Column | str, q: Column) -> Column:
    """Quantile at a PER-ROW ``q`` column; see td_cdf_col."""
    return _td_quantile_udf(digest, q)


def td_trimmed_mean(digest: Column | str, p1: float, p2: float) -> Column:
    p1f, p2f = float(p1), float(p2)
    if not 0.0 <= p1f < p2f <= 1.0:
        raise ValueError(f"need 0 <= p1 < p2 <= 1, got p1={p1!r}, p2={p2!r}")
    return _td_trimmed_mean_udf(digest, F.lit(p1f), F.lit(p2f))


def td_count(digest: Column | str) -> Column:
    return _td_count_udf(digest)


def td_ncentroids(digest: Column | str) -> Column:
    return _td_ncentroids_udf(digest)


def td_centroids(digest: Column | str) -> Column:
    """Explodable lineage view of a digest (parity: ForEachCentroid,
    tdigest.go:360-362)."""
    return _td_centroids_udf(digest)


def td_merge_pair(a: Column | str, b: Column | str) -> Column:
    """Merge two digest columns into one digest — the incremental-
    maintenance read (yesterday's digest + today's without touching raw
    data; reference Merge semantics, tdigest.go:262-272).  NULL is the
    merge identity: NULL+d = d, NULL+NULL = NULL — matching how a group
    absent from one side's aggregation should combine."""
    return _td_merge_pair_udf(a, b)


def td_ks_distance(a: Column | str, b: Column | str) -> Column:
    """Approximate Kolmogorov-Smirnov distance between the two digests'
    distributions: max |CDF_a(x) - CDF_b(x)| over the union of both
    CDFs' breakpoints (plus their left limits), where the sup of a
    difference of piecewise-linear functions must lie — the
    drift-detection read (today's value distribution vs yesterday's,
    cohort A vs cohort B) computed from sketches alone.  Exactly 0.0
    for identical digests; NULL if either side is NULL or empty.
    Accuracy inherits the digests' CDF error (~1/compression interior),
    fine for drift thresholds like 0.05+."""
    return _td_ks_distance_udf(a, b)


def td_to_ref_bytes(digest: Column | str) -> Column:
    """Re-encode to the go/Java-compatible smallEncoding v2 wire format."""
    return _td_to_ref_bytes_udf(digest)


def td_from_ref_bytes(buf: Column | str) -> Column:
    """Ingest digests serialized by go-tdigest / Java t-digest."""
    return _td_from_ref_bytes_udf(buf)


# SQL name -> the UDF its Column-API function calls (q/x/p as columns)
_SQL_READS = {
    "td_quantile": _td_quantile_udf,
    "td_cdf": _td_cdf_udf,
    "td_trimmed_mean": _td_trimmed_mean_udf,
    "td_count": _td_count_udf,
    "td_merge_pair": _td_merge_pair_udf,
    "td_ks_distance": _td_ks_distance_udf,
}


def register_sql_functions(spark: SparkSession) -> None:
    """Register the SQL reads, e.g. ``td_quantile(digest, 0.99)`` inside
    spark.sql."""
    for name, udf in _SQL_READS.items():
        spark.udf.register(name, udf)
