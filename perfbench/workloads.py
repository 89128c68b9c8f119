"""The benchmark workloads: what each query runs, the exact answers it is
checked against, and the check itself.

Rank conventions.  A quantile estimate ``x`` for ``q`` is scored by its
exact rank in the input under the digest's own interpolation (order
statistic ``i`` sits at rank ``i/(n-1)``, linear in between; a run of
equal values covers the whole interval of its ranks).  The error is the
distance from ``q`` to that rank (interval).  It is exact for a digest
that keeps every value, so the error measures compression alone.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

import numpy as np

# q values whose rank error must stay within RANK_BOUND
CHECK_QS = (0.001, 0.01, 0.5, 0.99, 0.999)


def read_qs(steps: int) -> tuple:
    """Quantiles a query reads: 0, CHECK_QS and ``k/steps`` for every k,
    and 1.  The rank error is measured at all but 0 and 1."""
    grid = set(CHECK_QS) | {k / steps for k in range(1, steps)}
    return (0.0,) + tuple(sorted(grid)) + (1.0,)

# largest rank error a check accepts (the bound in ROADMAP.md)
RANK_BOUND = 0.015
FANIN = 64


def quantile_rank_error(u: np.ndarray, cnt: np.ndarray, x: np.ndarray,
                        q: np.ndarray) -> np.ndarray:
    """|exact rank of x[j] - q[j]| over sorted distinct values ``u`` with
    multiplicities ``cnt``."""
    cum = np.cumsum(cnt)
    n = int(cum[-1])
    if n == 1:
        return np.where(x == u[0], 0.0, 1.0)
    i = np.searchsorted(u, x, side="left")
    ic = np.minimum(i, u.size - 1)
    hit = u[ic] == x
    # strictly between u[i-1] and u[i]: interpolate between the last
    # order statistic of u[i-1] and the first of u[i]
    ip = np.clip(i - 1, 0, max(u.size - 2, 0))
    gap = u[np.minimum(ip + 1, u.size - 1)] - u[ip]
    frac = np.divide(x - u[ip], gap, out=np.zeros_like(x, dtype=float),
                     where=gap > 0)
    pos = np.where(i == 0, 0.0,
                   np.where(i == u.size, n - 1.0, cum[ip] - 1 + frac))
    lo = np.where(hit, cum[ic] - cnt[ic], pos)
    hi = np.where(hit, cum[ic] - 1, pos)
    target = q * (n - 1)
    return np.maximum(np.maximum(lo - target, target - hi), 0.0) / (n - 1)


@dataclass
class Check:
    problems: list = field(default_factory=list)
    errors: list = field(default_factory=list)
    max_rank_err: float = 0.0

    @property
    def ok(self) -> bool:
        return not self.problems

    @property
    def mean_rank_err(self) -> float:
        return float(np.concatenate(self.errors).mean()) if self.errors else 0.0

    def rank(self, where: str, err: np.ndarray, bounded: np.ndarray) -> None:
        """Record rank errors; those at ``bounded`` must be within bound."""
        self.errors.append(err)
        worst = float(err[bounded].max(initial=0.0))
        self.max_rank_err = max(self.max_rank_err, worst)
        if not worst <= RANK_BOUND:
            self.problems.append(f"{where}: rank error {worst:.5f} > {RANK_BOUND}")


class Workload:
    """Base: a digest build (``tdigest_agg`` then quantile reads) over one
    parquet input, checked group by group."""

    name = ""
    value_col = ""
    by = ""
    explode = False
    grid_steps = 100

    def __init__(self, data_dir: str, manifest: dict) -> None:
        self.data_dir = data_dir
        self.values_per_query = manifest["values"]
        self.exact = dict(np.load(os.path.join(data_dir, "exact.npz")))
        self.digest_bytes: list[int] = []
        self.read_qs = read_qs(self.grid_steps)
        self.checked = np.isin(self.read_qs[1:-1], CHECK_QS)

    def path(self, sub: str) -> str:
        return os.path.join(self.data_dir, sub)

    def read(self, spark, warm: bool):
        """The parquet input; when ``warm``, a quarter of its files but at
        least one per core, so that every Python worker has run the
        query's code before timing starts."""
        if not warm:
            return spark.read.parquet(self.path("data"))
        files = sorted(glob.glob(os.path.join(self.path("data"), "*.parquet")))
        cores = spark.sparkContext.defaultParallelism
        return spark.read.parquet(*files[:max(cores, len(files) // 4)])

    def groups(self):
        """Yield (key, distinct sorted values, counts, n_rows) per group."""
        raise NotImplementedError

    def query(self, spark, tracer, warm: bool = False):
        """Run the query and return its rows.  ``warm`` runs it on a slice
        of the input, to compile the query's code before timing."""
        from pyspark.sql import functions as F

        from go_tdigest_spark.functions.tdigest_fns import td_count, td_quantile
        from go_tdigest_spark.operators import tdigest_agg

        with tracer.span("query.plan"):
            df = self.read(spark, warm)
            digests = tdigest_agg(df, self.value_col, by=[self.by],
                                  explode_arrays=self.explode, fanin=FANIN)
            out = digests.select(
                self.by, "n_rows", "total_weight",
                td_count("digest").alias("digest_count"),
                td_quantile("digest", list(self.read_qs)).alias("q"),
                F.length("digest").alias("nbytes"))
        with tracer.span("query.action"):
            return out.collect()

    def check(self, rows) -> Check:
        c = Check()
        got = {r[0]: r for r in rows}
        self.digest_bytes = [r["nbytes"] for r in rows]
        expected = 0
        for key, u, cnt, n_rows in self.groups():
            expected += 1
            r = got.get(key)
            if r is None:
                c.problems.append(f"group {key} missing")
                continue
            n = int(cnt.sum())
            got_n = (r["digest_count"], r["total_weight"], r["n_rows"])
            if got_n != (n, n, n_rows):
                c.problems.append(f"group {key}: digest count, weight, rows "
                                  f"{got_n} != {(n, n, n_rows)}")
            qv = r["q"]
            if qv[0] != u[0] or qv[-1] != u[-1]:
                c.problems.append(f"group {key}: min/max {qv[0]}/{qv[-1]} "
                                  f"!= {u[0]}/{u[-1]}")
            c.rank(f"group {key}", quantile_rank_error(
                u, cnt, np.asarray(qv[1:-1]), np.asarray(self.read_qs[1:-1])),
                self.checked)
        if len(got) != expected:
            c.problems.append(f"{len(got)} groups, expected {expected}")
        return c


class TokensBySource(Workload):
    name = "tokens_by_source"
    value_col, by, explode = "tokens", "source", True
    # four groups only: a fine grid keeps the mean rank error steady
    grid_steps = 1000

    def groups(self):
        hist, rows = self.exact["hist"], self.exact["rows"]
        for s in range(hist.shape[0]):
            nz = np.nonzero(hist[s])[0]
            if nz.size:
                yield s, nz.astype(np.float64), hist[s][nz], int(rows[s])


class FineGroups(Workload):
    name = "fine_groups"
    value_col, by = "v", "g"

    def groups(self):
        sv, off = self.exact["sorted"], self.exact["offsets"]
        for g in range(off.size - 1):
            if off[g + 1] > off[g]:
                u = sv[off[g]:off[g + 1]]
                yield g, u, np.ones(u.size, dtype=np.int64), u.size


WORKLOADS = {w.name: w for w in (TokensBySource, FineGroups)}
