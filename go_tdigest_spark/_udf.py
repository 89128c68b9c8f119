"""One factory for every sketch read.

A read decodes one or two serialized sketches and evaluates a function
on them (``Quantile``/``CDF``/``TrimmedMean``, tdigest.go:93-140,
295-333, 411-455, and their analogues on the other sketches).
``sketch_udf`` builds that read as a pandas UDF once, so the decode, the
NULL rule and the batching live here and each read is one line.  The
Column API and ``spark.udf.register`` share the returned object.

A leaf module: it imports only numpy, pandas and pyspark, so both
``functions`` and ``operators`` can build reads without an import cycle.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DataType


def sketch_udf(
    decode: Callable,
    fn: Callable,
    ret_type: DataType,
    *,
    n_sketches: int = 1,
    nulls: str = "propagate",
    per_distinct: bool = False,
):
    """Pandas UDF ``(sketch..., arg...) -> ret_type``.

    The first ``n_sketches`` columns are decoded with ``decode``; the
    rest are plain per-row arguments.  ``ret_type`` is a DataType object,
    not a DDL string: module-level reads are built at import time,
    before a SparkSession exists, and the string form needs the JVM.

    ``nulls="propagate"``: a row with any NULL argument is NULL and
    ``fn`` is not called.  The test is ``pd.isna``, because a SQL NULL
    number arrives as NaN.  ``fn(*sketches, *args)`` gets scalars.

    ``nulls="identity"`` (two-sketch merges): a NULL side returns the
    other side's bytes unchanged; NULL with NULL is NULL.

    ``per_distinct=True``: each distinct sketch value is decoded once
    per batch and ``fn(sketch, *arg_arrays)`` evaluates all of its rows
    at once, returning one value per row — the probe and annotator path,
    where one sketch repeats over many fact rows.  ``decode`` may return
    None (a lookup miss); those rows are NULL.

    A NaN result is NULL too: Spark masks ``isnull`` on the way out.
    """
    if nulls not in ("propagate", "identity"):
        raise ValueError(f"nulls must be 'propagate' or 'identity', got {nulls!r}")

    def read(*cols: pd.Series) -> pd.Series:
        vals = [c.to_numpy() for c in cols]
        isna = [c.isna().to_numpy() for c in cols]
        out = np.full(len(vals[0]), None, dtype=object)
        if nulls == "identity":
            (a, b), (na, nb) = vals, isna
            out[na] = b[na]
            out[nb & ~na] = a[nb & ~na]
        live = np.flatnonzero(~np.logical_or.reduce(isna))
        if per_distinct:
            args = [v[live] for v in vals[1:]]
            keys = vals[0][live]
            for key, pos in pd.Series(keys).groupby(keys, sort=False).indices.items():
                sketch = decode(key)
                if sketch is not None:
                    out[live[pos]] = fn(sketch, *(a[pos] for a in args))
        else:
            for i in live:
                row = [v[i] for v in vals]
                out[i] = fn(*map(decode, row[:n_sketches]), *row[n_sketches:])
        return pd.Series(out)

    return pandas_udf(read, ret_type)


def unit_interval(q) -> float:
    """``q`` as a float in [0, 1], or a ValueError when the Column is
    built — not a worker exception at action time."""
    f = float(q)
    if not 0.0 <= f <= 1.0:
        raise ValueError(f"q must be between 0 and 1 (inclusive), got {q!r}")
    return f
