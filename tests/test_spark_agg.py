"""Spark-tier tests: two-phase t-digest aggregation over real parquet,
checked against exact oracles computed with NumPy on the same data —
the reference's test strategy (exact oracle + error bound,
tdigest_test.go:284-295) lifted to the distributed setting.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from go_tdigest_spark import serde
from go_tdigest_spark.core import TDigest
from go_tdigest_spark.functions import (
    register_sql_functions,
    td_cdf,
    td_centroids,
    td_count,
    td_from_ref_bytes,
    td_ncentroids,
    td_quantile,
    td_to_ref_bytes,
    td_trimmed_mean,
)
from go_tdigest_spark.operators import build_partials, merge_partials, tdigest_agg
from go_tdigest_spark.sources import table

from conftest import SF_TINY
from test_core import oracle_quantile


def _n_merge_levels(plan: str) -> int:
    """Count tree-merge stages in an executed-plan string: every level
    (keyed, salted and the global final one) runs as MapInArrow over
    the tree's ``run`` closure (repartition + task-level merge with
    exact-key discipline, _tree.py grouped_merge).  ``MapInArrow run(``
    distinguishes merge levels from stage 1's ``MapInArrow gen(``
    nodes."""
    return plan.count("MapInArrow run(")


@pytest.fixture(scope="module")
def lineitem(spark):
    return table(spark, SF_TINY, "lineitem").cache()


@pytest.fixture(scope="module")
def lineitem_pd(lineitem):
    return lineitem.select("l_returnflag", "l_extendedprice").toPandas()


def test_grouped_tdigest_matches_oracle(spark, lineitem, lineitem_pd):
    out = tdigest_agg(
        lineitem, "l_extendedprice", by=["l_returnflag"], fanin=4
    ).toPandas()
    assert set(out.columns) == {"l_returnflag", "digest", "n_rows", "total_weight"}

    for _, row in out.iterrows():
        flag = row["l_returnflag"]
        vals = np.sort(
            lineitem_pd.loc[
                lineitem_pd["l_returnflag"] == flag, "l_extendedprice"
            ].to_numpy()
        )
        d = serde.decode(bytes(row["digest"]))
        assert d.count == len(vals) == row["n_rows"] == row["total_weight"]
        # exact tails (singleton preservation)
        assert d.quantile(0.0) == vals[0]
        assert d.quantile(1.0) == vals[-1]
        for q in (0.01, 0.1, 0.5, 0.9, 0.99):
            want = oracle_quantile(q, vals)
            got = d.quantile(q)
            # rank-space error bound: |cdf(est) - q| within the merged
            # bound of the reference suite (tdigest_test.go:359-366)
            rank = np.searchsorted(vals, got) / len(vals)
            assert abs(rank - q) < 0.015, (flag, q, got, want)


def test_global_tdigest_no_groups(spark, lineitem, lineitem_pd):
    out = tdigest_agg(lineitem, "l_extendedprice", by=[], fanin=None).toPandas()
    assert len(out) == 1
    d = serde.decode(bytes(out["digest"].iloc[0]))
    vals = np.sort(lineitem_pd["l_extendedprice"].to_numpy())
    assert d.count == len(vals)
    assert abs(d.cdf(float(np.median(vals))) - 0.5) < 0.01


def test_partials_then_tree_merge_equivalence(spark, lineitem, lineitem_pd):
    # merging with different fan-ins must agree within sketch error —
    # the distributed version of merge associativity
    partials = build_partials(lineitem, "l_extendedprice", ["l_returnflag"])
    res = {}
    for fanin in (None, 2, 3):
        merged = merge_partials(partials, ["l_returnflag"], fanin=fanin).toPandas()
        for _, row in merged.iterrows():
            d = serde.decode(bytes(row["digest"]))
            res.setdefault(row["l_returnflag"], []).append(
                (d.count, d.quantile(0.5))
            )
    for flag, entries in res.items():
        counts = {c for c, _ in entries}
        assert len(counts) == 1  # count exact under any merge tree
        meds = np.array([m for _, m in entries])
        vals = lineitem_pd.loc[
            lineitem_pd["l_returnflag"] == flag, "l_extendedprice"
        ].to_numpy()
        spread_rank = (
            np.searchsorted(np.sort(vals), meds.max())
            - np.searchsorted(np.sort(vals), meds.min())
        ) / len(vals)
        assert spread_rank < 0.03


def test_query_udfs(spark, lineitem, lineitem_pd):
    digests = tdigest_agg(lineitem, "l_extendedprice", by=["l_returnflag"])
    out = digests.select(
        "l_returnflag",
        td_quantile("digest", 0.5).alias("p50"),
        td_quantile("digest", [0.25, 0.75]).alias("iqr"),
        td_cdf("digest", 30000.0).alias("cdf30k"),
        td_trimmed_mean("digest", 0.1, 0.9).alias("tmean"),
        td_count("digest").alias("cnt"),
        td_ncentroids("digest").alias("ncent"),
    ).toPandas()
    for _, row in out.iterrows():
        vals = np.sort(
            lineitem_pd.loc[
                lineitem_pd["l_returnflag"] == row["l_returnflag"],
                "l_extendedprice",
            ].to_numpy()
        )
        assert row["cnt"] == len(vals)
        assert 0 < row["ncent"] < 2000
        rank = np.searchsorted(vals, row["p50"]) / len(vals)
        assert abs(rank - 0.5) < 0.015
        assert row["iqr"][0] < row["p50"] < row["iqr"][1]
        want_cdf = (vals <= 30000.0).mean()
        assert abs(row["cdf30k"] - want_cdf) < 0.015
        lo, hi = vals[int(0.1 * len(vals))], vals[int(0.9 * len(vals)) - 1]
        want_tm = vals[(vals >= lo) & (vals <= hi)].mean()
        assert abs(row["tmean"] - want_tm) / want_tm < 0.02


def test_ref_bytes_udf_roundtrip(spark, lineitem):
    digests = tdigest_agg(lineitem, "l_extendedprice", by=["l_returnflag"])
    out = digests.select(
        "l_returnflag",
        td_count("digest").alias("n0"),
        td_count(td_from_ref_bytes(td_to_ref_bytes("digest"))).alias("n1"),
    ).toPandas()
    assert (out["n0"] == out["n1"]).all()


def test_sql_registration(spark, lineitem):
    register_sql_functions(spark)
    tdigest_agg(lineitem, "l_extendedprice", by=["l_returnflag"]).createOrReplaceTempView(
        "li_digests"
    )
    out = spark.sql(
        """
        SELECT l_returnflag,
               td_quantile(digest, 0.99) AS p99,
               td_cdf(digest, 50000.0) AS c,
               td_trimmed_mean(digest, 0.25, 0.75) AS tm,
               td_count(digest) AS n
        FROM li_digests ORDER BY l_returnflag
        """
    ).toPandas()
    assert len(out) >= 2
    assert (out["n"] > 0).all()
    assert (out["p99"] > out["tm"]).all()
    assert out["c"].between(0, 1).all()

    # pair functions callable from SQL: self-merge doubles the count,
    # self-KS is exactly zero
    pair = spark.sql(
        """
        SELECT td_count(td_merge_pair(digest, digest)) AS n2,
               td_count(digest) AS n,
               td_ks_distance(digest, digest) AS ks
        FROM li_digests
        """
    ).toPandas()
    assert (pair["n2"] == 2 * pair["n"]).all()
    assert (pair["ks"] == 0.0).all()


def test_explode_arrays_tokens_path(spark):
    # per-token value distribution: array<int> flattened inside Arrow
    pdf = pd.DataFrame(
        {
            "source": ["a"] * 50 + ["b"] * 50,
            "tokens": [
                np.random.default_rng(i).integers(0, 1000, size=20 + (i % 30)).tolist()
                for i in range(100)
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    out = tdigest_agg(df, "tokens", by=["source"], explode_arrays=True).toPandas()
    assert len(out) == 2
    for _, row in out.iterrows():
        flat = np.concatenate(
            pdf.loc[pdf["source"] == row["source"], "tokens"].map(np.asarray).to_list()
        )
        d = serde.decode(bytes(row["digest"]))
        assert d.count == len(flat) == row["total_weight"]
        assert row["n_rows"] == 50
        assert d.quantile(0.0) == flat.min()
        assert d.quantile(1.0) == flat.max()


def test_weighted_agg(spark):
    pdf = pd.DataFrame({"v": np.arange(1, 101, dtype=float), "w": np.arange(1, 101)})
    df = spark.createDataFrame(pdf)
    out = tdigest_agg(df, "v", weight_col="w").toPandas()
    d = serde.decode(bytes(out["digest"].iloc[0]))
    assert d.count == int(pdf["w"].sum()) == out["total_weight"].iloc[0]
    expanded = np.repeat(pdf["v"].to_numpy(), pdf["w"].to_numpy())
    want = oracle_quantile(0.5, np.sort(expanded))
    assert abs(d.quantile(0.5) - want) <= 1.0 + 0.02 * 100


def test_centroids_lineage_view(spark, lineitem):
    digests = tdigest_agg(lineitem, "l_extendedprice", by=["l_returnflag"])
    exploded = digests.select(
        "l_returnflag", F.explode(td_centroids("digest")).alias("c")
    ).select("l_returnflag", "c.mean", "c.count")
    agg = exploded.groupBy("l_returnflag").agg(
        F.sum("count").alias("total"), F.count("*").alias("ncent")
    )
    joined = (
        digests.select("l_returnflag", "total_weight")
        .join(agg, "l_returnflag")
        .toPandas()
    )
    assert (joined["total"] == joined["total_weight"]).all()


def test_tdigest_vs_duckdb_quantile_cont(spark, lineitem):
    # FIXTURES.md F3: sketch estimates within the reference thresholds of
    # DuckDB's exact quantile_cont on the same parquet
    import duckdb

    from conftest import SF_TINY as _SF

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{_SF}/lineitem.parquet')"
    )
    exact = {
        (r[0], q): r[i + 1]
        for r in con.execute(
            """
            SELECT l_returnflag,
                   quantile_cont(l_extendedprice, 0.01),
                   quantile_cont(l_extendedprice, 0.5),
                   quantile_cont(l_extendedprice, 0.99)
            FROM lineitem GROUP BY l_returnflag
            """
        ).fetchall()
        for i, q in enumerate((0.01, 0.5, 0.99))
    }
    counts = dict(
        con.execute(
            "SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1"
        ).fetchall()
    )
    out = tdigest_agg(lineitem, "l_extendedprice", by=["l_returnflag"]).toPandas()
    vals = lineitem.select("l_returnflag", "l_extendedprice").toPandas()
    for _, row in out.iterrows():
        flag = row["l_returnflag"]
        d = serde.decode(bytes(row["digest"]))
        s = np.sort(
            vals.loc[vals["l_returnflag"] == flag, "l_extendedprice"].to_numpy()
        )
        assert d.count == counts[flag]
        # rank-space thresholds from the reference uniform suite
        # (tdigest_test.go:85-91), relaxed x2 for the merged setting
        for q, tol in ((0.01, 0.01), (0.5, 0.04), (0.99, 0.01)):
            est = d.quantile(q)
            want = exact[(flag, q)]
            lo = np.searchsorted(s, min(est, want), side="left") / len(s)
            hi = np.searchsorted(s, max(est, want), side="right") / len(s)
            assert hi - lo <= tol + 2.0 / len(s), (flag, q, est, want)


def test_empty_and_degenerate_inputs(spark):
    import pandas as pd

    empty = spark.createDataFrame([], "g string, v double")
    assert tdigest_agg(empty, "v", by=["g"]).count() == 0

    allnull = spark.createDataFrame(
        [("a", None), ("b", None)], "g string, v double"
    )
    assert tdigest_agg(allnull, "v", by=["g"]).count() == 0

    one = spark.createDataFrame([("a", 5.0)], "g string, v double")
    row = tdigest_agg(one, "v", by=["g"]).collect()[0]
    d = serde.decode(bytes(row["digest"]))
    assert d.count == 1 and d.quantile(0.5) == 5.0


def test_salted_merge_bounds_fanin_under_skew(spark):
    # axis A: a 99%-skewed group key must not funnel all partials into a
    # single reducer — with fanin=f and P partitions the plan must insert
    # an intermediate salted merge level, and results stay exact
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "k": ["hot"] * 99_000 + ["cold"] * 1_000,
            "v": np.arange(100_000, dtype=float),
        }
    )
    # stage 1 may coalesce a small input to one task per core, so the 32
    # stage-1 partitions (at most one partial per partition and group)
    # come from four builds over disjoint row slices of 8 partitions each
    slices = [
        build_partials(
            spark.createDataFrame(pdf.iloc[i::4]).repartition(8), "v", ["k"]
        )
        for i in range(4)
    ]
    partials = reduce(lambda a, b: a.union(b), slices)
    assert partials.rdd.getNumPartitions() == 32
    salted = merge_partials(partials, ["k"], fanin=4)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    # every merge level (keyed/salted/global) is one MapInArrow node
    assert _n_merge_levels(plan) == 3  # 32 -> 8 -> 2 -> final

    out = {r["k"]: r for r in salted.collect()}
    assert out["hot"]["total_weight"] == 99_000
    assert out["cold"]["total_weight"] == 1_000
    d = serde.decode(bytes(out["hot"]["digest"]))
    assert d.quantile(0.0) == 0.0 and d.quantile(1.0) == 98_999.0

    # single-level plan when partials fit the fan-in
    flat = merge_partials(partials, ["k"], fanin=None)
    plan1 = flat._jdf.queryExecution().executedPlan().toString()
    assert _n_merge_levels(plan1) == 1

    # recursive tree: 32 partitions with fanin=3 needs 32->11->4->2->final
    deep = merge_partials(partials, ["k"], fanin=3)
    plan3 = deep._jdf.queryExecution().executedPlan().toString()
    assert _n_merge_levels(plan3) == 4
    out3 = {r["k"]: r for r in deep.collect()}
    assert out3["hot"]["total_weight"] == 99_000
    d3 = serde.decode(bytes(out3["hot"]["digest"]))
    assert d3.quantile(0.0) == 0.0 and d3.quantile(1.0) == 98_999.0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        merge_partials(partials, ["k"], fanin=1)


def test_merge_entry_points_share_fanin_default():
    """A bare ``merge_partials(partials, by)`` gets the salted tree like
    ``tdigest_agg`` and ``merge_sketches``; ``fanin=None`` is the
    one-reducer funnel."""
    import inspect

    from go_tdigest_spark.operators import merge_sketches

    defaults = {
        f.__name__: inspect.signature(f).parameters["fanin"].default
        for f in (merge_partials, merge_sketches, tdigest_agg)
    }
    assert set(defaults.values()) == {64}, defaults


def test_stage1_runs_at_most_one_task_per_core(spark):
    """A small input with more partitions than cores is coalesced
    before stage 1: one narrow Coalesce node (no Exchange), at most
    defaultParallelism stage-1 partitions for every partial builder,
    and the same per-group counts and extremes as a one-partition
    build.  An input with at most one partition per core, an input
    larger than cores x COALESCE_BYTES_PER_CORE and an input of unknown
    size keep their partition counts."""
    from go_tdigest_spark.operators import exact_percentiles, hll_partials
    from go_tdigest_spark.operators._batch import COALESCE_BYTES_PER_CORE

    cores = spark.sparkContext.defaultParallelism
    n = 30_000

    def src(parts):
        return spark.range(0, n, 1, parts).selectExpr(
            "id % 7 AS k", "CAST((id * 7919) % 10007 AS DOUBLE) AS v"
        )

    wide = src(3 * cores)
    assert wide.rdd.getNumPartitions() == 3 * cores
    partials = build_partials(wide, "v", ["k"])
    assert partials.rdd.getNumPartitions() <= cores
    before = wide._jdf.queryExecution().executedPlan().toString()
    after = partials._jdf.queryExecution().executedPlan().toString()
    assert after.count("Coalesce") == before.count("Coalesce") + 1
    assert after.count("Exchange") == before.count("Exchange") == 0
    # every stage-1 caller shares the cap
    assert hll_partials(wide, ["v"], ["k"]).rdd.getNumPartitions() <= cores
    exact = exact_percentiles(wide, "v", [0.5], by=["k"])
    assert "Coalesce" in exact._jdf.queryExecution().executedPlan().toString()

    def per_group(parts):
        out = {}
        for r in parts.withColumn("c", td_count("digest")).collect():
            d = serde.decode(bytes(r["digest"]))
            n_rows, weight, count, lo, hi = out.get(
                r["k"], (0, 0, 0, np.inf, -np.inf)
            )
            out[r["k"]] = (
                n_rows + r["n_rows"],
                weight + r["total_weight"],
                count + int(r["c"]),
                min(lo, d.quantile(0.0)),
                max(hi, d.quantile(1.0)),
            )
        return out

    one = build_partials(src(1), "v", ["k"])
    assert one.rdd.getNumPartitions() == 1
    expect = per_group(one)
    assert len(expect) == 7
    assert sum(e[0] for e in expect.values()) == n
    assert per_group(partials) == expect

    # coalescing to as many partitions as the input has keeps them all
    fits = build_partials(src(cores), "v", ["k"])
    assert fits.rdd.getNumPartitions() == cores
    # an input the plan sizes above the bound is left alone (not run here)
    big = spark.range(0, 10**9, 1, 3 * cores).selectExpr("id % 7 AS k", "id AS v")
    big_size = big._jdf.queryExecution().analyzed().stats().sizeInBytes()
    assert big_size > cores * COALESCE_BYTES_PER_CORE
    assert build_partials(big, "v", ["k"]).rdd.getNumPartitions() == 3 * cores
    # so is an input of unknown size
    pdf = pd.DataFrame({"k": np.arange(n) % 7, "v": np.arange(n, dtype=float)})
    unsized = spark.createDataFrame(pdf).repartition(3 * cores)
    assert build_partials(unsized, "v", ["k"]).rdd.getNumPartitions() == 3 * cores
    # a streaming input (unknown size too) still builds
    stream = spark.readStream.format("rate").load().selectExpr(
        "value % 7 AS k", "CAST(value AS DOUBLE) AS v"
    )
    assert build_partials(stream, "v", ["k"]).isStreaming


def _run_in_group(spark, group, fn):
    """Run ``fn()`` with its jobs in job group ``group``; return its
    result and, for each job of the group in id order, the task count
    of every stage that ran (skipped stages left out)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    tasks = []
    for job in sorted(tracker.getJobIdsForGroup(group)):
        stages = [store.lastStageAttempt(s) for s in tracker.getJobInfo(job).stageIds]
        tasks.append(
            [s.numTasks() for s in stages if s.status().toString() != "SKIPPED"]
        )
    return out, tasks


def test_merge_builds_start_no_job_over_an_aggregated_input(spark):
    """Building a one-level merge over an input with a shuffle of its own
    (a ``groupBy().agg()``) runs nothing: the merge exchange is sized
    by adaptive execution at run time, not from a partition-count probe
    that would run the upstream stages while the DataFrame is built."""
    from go_tdigest_spark.operators import exact_percentiles

    def agg_input():
        return (
            spark.range(0, 20_000, 1, 4)
            .groupBy((F.col("id") % 500).alias("u"))
            .agg(F.count("*").alias("n"))
            .selectExpr("u % 5 AS k", "CAST(n * u AS DOUBLE) AS v")
        )

    builds = {
        "exact_percentiles": lambda: exact_percentiles(agg_input(), "v", [0.5], by=["k"]),
        "tdigest_agg": lambda: tdigest_agg(agg_input(), "v", by=["k"], fanin=None),
    }
    for name, build in builds.items():
        df, jobs = _run_in_group(spark, f"build:{name}", build)
        assert jobs == [], (name, jobs)
        assert df.count() == 5, name


def test_merge_exchange_is_sized_by_adaptive_execution(spark):
    """The merge exchange of a keyed level is Spark's own aggregate
    exchange: hash partitioning on the key at
    spark.sql.shuffle.partitions (``REPARTITION_BY_COL``), which adaptive
    execution coalesces by bytes, so a small grouped aggregate merges and
    is read in ONE task however many cores run stage 1.  Results equal a
    one-partition build with adaptive execution on and off."""
    import re

    cores = spark.sparkContext.defaultParallelism
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = 40_000

    def src(parts):
        return spark.range(0, n, 1, parts).selectExpr(
            "id % 4 AS k", "CAST((id * 7919) % 10007 AS DOUBLE) AS v"
        )

    def read(parts):
        return tdigest_agg(src(parts), "v", by=["k"]).select(
            "k", "n_rows", "total_weight", td_count("digest").alias("c"),
            td_quantile("digest", 0.0).alias("lo"),
            td_quantile("digest", 1.0).alias("hi"),
        )

    def by_key(rows):
        return {r["k"]: tuple(r)[1:] for r in rows}

    wide = read(3 * cores)
    plan = wide._jdf.queryExecution().sparkPlan().toString()
    exchanges = re.findall(r"Exchange (\w+)\((\w+)#\d+L?, (\d+)\), (\w+)", plan)
    assert exchanges == [
        ("hashpartitioning", "k", str(n_shuffle), "REPARTITION_BY_COL")
    ], plan

    rows, jobs = _run_in_group(spark, "merge-width", wide.collect)
    # the last job is the merge + read stage, read from one coalesced
    # shuffle partition
    assert jobs[-1] == [1], jobs
    expect = by_key(read(1).collect())
    assert len(expect) == 4 and sum(e[0] for e in expect.values()) == n
    assert by_key(rows) == expect

    # a persisted result's last shuffle is coalesced too, because the
    # session lets adaptive execution change a cached plan's partitioning
    cached = tdigest_agg(src(3 * cores), "v", by=["k"]).persist()
    try:
        assert cached.count() == 4
        assert cached.rdd.getNumPartitions() == 1
    finally:
        cached.unpersist()

    key = "spark.sql.adaptive.enabled"
    spark.conf.set(key, "false")
    try:
        assert by_key(read(3 * cores).collect()) == expect
    finally:
        spark.conf.unset(key)
    assert spark.conf.get(key) == "true"


def test_grouped_merge_exact_keys_beyond_2_53_with_nulls(spark):
    """Advisor r3 (medium): the merge stage's pandas-side split must
    group on EXACT key values.  A long group column containing ANY null
    arrives in pandas as lossy float64, where 2^53 and 2^53+1 collide —
    grouping on the pandas column would silently merge those two groups'
    digests.  Arrow key codes of the exact values keep them distinct,
    and the NULL group stays its own group (not folded with NaN-keyed
    rows)."""
    base = 1 << 53
    rows = (
        [(base, float(i)) for i in range(10)]
        + [(base + 1, float(100 + i)) for i in range(10)]
        + [(None, float(200 + i)) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "k long, v double").repartition(8)
    merged = tdigest_agg(df, "v", by=["k"], fanin=2)
    out = {r["k"]: r for r in merged.collect()}
    assert set(out) == {base, base + 1, None}
    assert out[base]["total_weight"] == 10
    assert out[base + 1]["total_weight"] == 10
    assert out[None]["total_weight"] == 10
    d_lo = serde.decode(bytes(out[base]["digest"]))
    d_hi = serde.decode(bytes(out[base + 1]["digest"]))
    assert d_lo.quantile(1.0) == 9.0
    assert d_hi.quantile(0.0) == 100.0


def test_grouped_merge_exotic_keys(spark):
    """Exact-key discipline edge cases: int64 extremes, JSON-hostile
    unicode strings (quotes, backslashes, braces), the literal string
    'null' vs a true NULL — each must stay its own group with exact
    counts and key values through stage 1 and the salted merge tree,
    for the t-digest, a per-group sketch (HLL) and exact_percentiles."""
    from go_tdigest_spark.operators import exact_percentiles, hll_agg

    lkeys = [(-(1 << 63)), (1 << 63) - 1, None]
    skeys = ['he said "hi"', "back\\slash", "{\"j\":1}", "null", None]
    rows = []
    for i, k in enumerate(lkeys):
        rows += [(k, "s", float(i * 100 + j)) for j in range(5)]
    for i, s in enumerate(skeys):
        rows += [(0, s, float(1000 + i * 100 + j)) for j in range(5)]
    df = spark.createDataFrame(
        rows, "k long, s string, v double"
    ).repartition(8)
    merged = tdigest_agg(df, "v", by=["k", "s"], fanin=2)
    out = {(r["k"], r["s"]): r["total_weight"] for r in merged.collect()}
    assert len(out) == len(lkeys) + len(skeys)
    for k in lkeys:
        assert out[(k, "s")] == 5
    for s in skeys:
        assert out[(0, s)] == 5
    hll = {(r["k"], r["s"]): r["n_rows"] for r in
           hll_agg(df, ["v"], by=["k", "s"], fanin=2).collect()}
    assert hll == out
    # each group's 5 values are base + 0..4, so the median is base + 2
    med = {(r["k"], r["s"]): r["_pb"] for r in
           exact_percentiles(df, "v", [0.5], by=["k", "s"]).collect()}
    assert med == {
        key: [float(v + 2)]
        for key, v in [((k, "s"), i * 100) for i, k in enumerate(lkeys)]
        + [((0, s), 1000 + i * 100) for i, s in enumerate(skeys)]
    }
    # the Arrow key codes every level numbers groups with stay exact
    # when the per-column radix product passes 2^63 (eight columns of
    # 1000 distinct values, every tuple twice): ids match a
    # Python-tuple numbering
    import pyarrow as pa

    from go_tdigest_spark.operators._batch import group_ids

    half = np.random.default_rng(0).integers(0, 1 << 40, (8, 1000))
    cols = [pa.array(np.tile(c, 2)) for c in half]
    tuples = list(zip(*(c.to_pylist() for c in cols)))
    gids, n_groups, first = group_ids(cols)
    ref = {}
    assert gids.tolist() == [ref.setdefault(t, len(ref)) for t in tuples]
    assert n_groups == len(ref) == 1000 and first.tolist() == list(range(1000))


def test_parquet_row_count_single_file_and_directory(tmp_path):
    """sources.parquet_row_count (the generalized n_docs hint): exact on
    a single file, sums footers across a multi-file dataset directory,
    and refuses an empty directory loudly."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from go_tdigest_spark.sources import parquet_row_count

    t1 = pa.table({"x": list(range(7))})
    t2 = pa.table({"x": list(range(5))})
    single = tmp_path / "one.parquet"
    pq.write_table(t1, single)
    assert parquet_row_count(str(single)) == 7

    ds = tmp_path / "ds"
    (ds / "sub").mkdir(parents=True)
    pq.write_table(t1, ds / "part-0.parquet")
    pq.write_table(t2, ds / "sub" / "part-1.parquet")
    (ds / "_SUCCESS").write_text("")
    assert parquet_row_count(str(ds)) == 12

    empty = tmp_path / "empty"
    empty.mkdir()
    with _pytest.raises(FileNotFoundError):
        parquet_row_count(str(empty))


def test_driver_estimate_queries_bounds_gated(spark):
    """The converted td_quantiles_lineitem / td_cdf_events driver
    queries carry their bound checks in-result (ok_* booleans hashed
    against TRUE oracles) — this test (a) asserts those booleans really
    are all True at the driver's sf, and (b) independently re-derives
    the underlying estimates and re-checks them against DuckDB's exact
    quantile_cont / rank-CDF, so a bug that inverted the in-query bound
    logic can't pass silently.  Rank-space eps 0.015 mirrors the
    reference's published bound (~1/compression mid-range, tighter at
    tails)."""
    import duckdb
    import sys, os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from go_tdigest_spark.functions import td_cdf, td_quantile, td_trimmed_mean
    from go_tdigest_spark.operators import tdigest_agg

    sf = "/root/testdata/sf0.01"
    qs = entry.queries()

    # (a) the driver queries' in-result bound booleans hold
    got = qs["td_quantiles_lineitem"](spark, sf).toPandas()
    assert len(got) > 0
    for col in ("ok_p50", "ok_p95", "ok_p99"):
        assert got[col].all(), col
    gotc = qs["td_cdf_events"](spark, sf).toPandas()
    assert len(gotc) > 0
    for col in ("ok_cdf10", "ok_cdf100", "ok_iqm"):
        assert gotc[col].all(), col

    # (b) independent re-derivation of the same estimates, checked
    # against DuckDB exactly as the pre-conversion test did
    li = table(spark, sf, "lineitem")
    est = (
        tdigest_agg(li, "l_extendedprice", by=["l_returnflag"])
        .select(
            "l_returnflag",
            td_quantile("digest", 0.5).alias("p50"),
            td_quantile("digest", 0.95).alias("p95"),
            td_quantile("digest", 0.99).alias("p99"),
        )
        .toPandas()
        .set_index("l_returnflag")
    )
    vals = duckdb.sql(
        "SELECT l_returnflag, list(l_extendedprice ORDER BY l_extendedprice) v "
        f"FROM read_parquet('{sf}/lineitem.parquet') GROUP BY 1"
    ).fetchdf().set_index("l_returnflag")
    for flag, row in est.iterrows():
        s = np.asarray(vals.loc[flag]["v"], dtype=float)
        for q, col in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
            rank = np.searchsorted(s, row[col]) / len(s)
            assert abs(rank - q) <= 0.015, (flag, col, rank)

    ev = table(spark, sf, "events")
    estc = (
        tdigest_agg(ev, "value", by=["event_type"])
        .select(
            "event_type",
            td_cdf("digest", 10.0).alias("cdf_10"),
            td_cdf("digest", 100.0).alias("cdf_100"),
            td_trimmed_mean("digest", 0.25, 0.75).alias("iqm"),
        )
        .toPandas()
        .set_index("event_type")
    )
    truth = duckdb.sql(
        "SELECT event_type, "
        "avg(CASE WHEN value <= 10 THEN 1.0 ELSE 0.0 END) AS cdf_10, "
        "avg(CASE WHEN value <= 100 THEN 1.0 ELSE 0.0 END) AS cdf_100 "
        f"FROM read_parquet('{sf}/events.parquet') "
        "WHERE value IS NOT NULL GROUP BY 1"
    ).fetchdf().set_index("event_type")
    for et, row in estc.iterrows():
        t = truth.loc[et]
        assert abs(row["cdf_10"] - t["cdf_10"]) <= 0.015
        assert abs(row["cdf_100"] - t["cdf_100"]) <= 0.015
        # interquartile mean sits inside the exact [p25, p75] value range
    vals = duckdb.sql(
        "SELECT event_type, "
        "quantile_cont(value, 0.25) AS p25, quantile_cont(value, 0.75) AS p75 "
        f"FROM read_parquet('{sf}/events.parquet') GROUP BY 1"
    ).fetchdf().set_index("event_type")
    for et, row in estc.iterrows():
        t = vals.loc[et]
        assert t["p25"] - 1e-9 <= row["iqm"] <= t["p75"] + 1e-9


def test_plan_discipline_no_rowwise_python_and_pruned_scans(spark):
    """Guardrail over the executed plans of the hot-path driver queries:
    no row-at-a-time Python (BatchEvalPython) anywhere, and the flagship
    scan reads exactly the columns it needs with the null filter pushed
    to the source."""
    import sys, os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    hot = [
        "td_quantiles_lineitem",
        "td_cdf_events",
        "agg_pricing_summary",
        "join_customer_orders",
        "window_top_orders",
        "text_stats",
        "dedup_minhash_signatures",
        "dedup_simhash",
        "dedup_invindex_jaccard",
        "ann_lsh_topk",
        "kll_stats_lineitem",
        "hll_distinct_users",
        "pipeline_curation",
        "heavy_hitter_users",
        "sample_suite_docs",
        "sample_topk_orders",
        "cms_supplier_freq",
        "bloom_membership",
        "asof_purchase_click",
        "range_join_error_blast",
        "tfidf_top_terms",
        "skew_join_user_totals",
        "pack_docs",
        "dedup_cluster_canonical",
        "pipeline_pretrain",
        "ntile_price_deciles",
        "td_bucket_lineitem",
        "td_drift_events",
        "td_hourly_events",
        "hll_overlap_users",
        "decontam_docs",
        "repetition_docs",
    ]
    for name in hot:
        df = qs[name](spark, sf)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # BatchEvalPython = row-wise Python UDF; Arrow paths show up as
        # ArrowEvalPython / MapInArrow / FlatMapGroupsInPandas instead
        assert "BatchEvalPython" not in plan, name
        if name in ("asof_purchase_click", "range_join_error_blast"):
            # the operators' reason to exist: time-predicate joins must
            # NOT degrade to a nested-loop/cartesian physical plan
            assert "BroadcastNestedLoopJoin" not in plan, name
            assert "CartesianProduct" not in plan, name

    # the LSH+exact-verify dedup (VERDICT r2 #2): the only Python in the
    # plan is the vectorized mapInArrow hashing kernels — the verify
    # stage itself is pure Catalyst (joins + grouped counts), no
    # per-pair MapInPandas
    dj = qs["dedup_ngram_jaccard"](spark, sf)
    dj.collect()
    djplan = dj._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in djplan
    assert "BatchEvalPython" not in djplan

    # scan-shape asserts on an sf no other test caches: Spark's cache
    # manager substitutes InMemoryRelation for matching logical plans,
    # which hides the FileScan pruning this test pins
    sf_uncached = "/root/testdata/sf0.01"
    flagship = qs["td_quantiles_lineitem"](spark, sf_uncached)
    flagship.collect()
    plan = flagship._jdf.queryExecution().executedPlan().toString()
    # the digest arm's scan: 2-column projection, null filter pushed
    # (the exact-percentile verification arm scans beside it)
    assert "ReadSchema: struct<l_extendedprice:double,l_returnflag:string>" in plan
    assert "PushedFilters: [IsNotNull(l_extendedprice)]" in plan

    # broadcast join stays broadcast (dimension side never shuffles)
    jq = qs["join_customer_orders"](spark, sf_uncached)
    jq.collect()
    jplan = jq._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in jplan


@pytest.mark.parametrize(
    "op, null_keys",
    [("rollup", False), ("cube", False), ("rollup", True), ("cube", True)],
    ids=["rollup", "cube", "rollup-null-key", "cube-null-key"],
)
def test_weighted_rollup_exact_vs_sql(spark, op, null_keys):
    """weight_col threads through every grouping set of tdigest_rollup /
    tdigest_cube: as a multiset, the rows' keys, weighted count, exact
    min and max and weighted mean equal GROUP BY ROLLUP / CUBE with
    weights.  With real NULLs in the first key, the finest NULL-key
    rows and the rolled-up NULL rows must both appear, apart."""
    import duckdb

    from go_tdigest_spark.functions import td_count, td_quantile, td_trimmed_mean
    from go_tdigest_spark.operators import tdigest_cube, tdigest_rollup

    fn = {"rollup": tdigest_rollup, "cube": tdigest_cube}[op]
    flag = "l_returnflag"
    if null_keys:
        flag = "CASE WHEN l_orderkey % 5 = 0 THEN NULL ELSE l_returnflag END"
    li = table(spark, SF_TINY, "lineitem").withColumns({
        "qty_w": F.floor("l_quantity").cast("long"),
        "l_returnflag": F.expr(flag),
    })
    key = ["l_returnflag", "l_linestatus"]
    d = fn(li, "l_extendedprice", key, weight_col="qty_w")
    got = d.select(
        *key,
        td_count("digest").alias("w"),
        td_quantile("digest", 0.0).alias("lo"),
        td_quantile("digest", 1.0).alias("hi"),
        F.round(td_trimmed_mean("digest", 0.0, 1.0), 4).alias("w_mean"),
    ).toPandas()
    want = duckdb.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS w,
               min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
               round(sum(l_extendedprice * floor(l_quantity))
                     / sum(floor(l_quantity)), 4) AS w_mean
        FROM (
            SELECT {flag} AS l_returnflag, l_linestatus, l_quantity,
                   l_extendedprice
            FROM read_parquet('{SF_TINY}/lineitem.parquet')
        )
        GROUP BY {op.upper()}(l_returnflag, l_linestatus)
        """
    ).fetchdf()
    order = key + ["w", "lo", "hi"]
    g = got.fillna("~").sort_values(order).reset_index(drop=True)
    w = want.fillna("~").sort_values(order).reset_index(drop=True)
    assert len(g) == len(w)
    assert (g[key] == w[key]).all().all()
    for c in ("w", "lo", "hi"):
        assert (g[c].to_numpy() == w[c].to_numpy()).all(), c
    assert np.allclose(g["w_mean"].astype(float), w["w_mean"].astype(float))
    if null_keys:  # the real NULL key's own (NULL, NULL) row and the total
        assert (got["l_returnflag"].isna() & got["l_linestatus"].isna()).sum() >= 2


@pytest.mark.parametrize("op", ["rollup", "cube"])
def test_grouping_sets_of_no_keys_equal_tdigest_agg(spark, op):
    """by=[] has one grouping set, the global one: one row, equal to
    tdigest_agg's (digest bytes included)."""
    from go_tdigest_spark.operators import tdigest_cube, tdigest_rollup

    fn = {"rollup": tdigest_rollup, "cube": tdigest_cube}[op]
    li = table(spark, SF_TINY, "lineitem")
    got = fn(li, "l_extendedprice", []).collect()
    want = tdigest_agg(li, "l_extendedprice").collect()
    assert len(got) == 1
    assert got[0].asDict() == want[0].asDict()


@pytest.mark.parametrize("op", ["rollup", "cube"])
def test_grouping_sets_merge_in_one_tree(spark, op):
    """Rollup and cube expand the finest digests into every coarser
    grouping set and merge them in ONE tree, output beside the finest
    level: with finest_groups_hint <= fanin the pre-AQE plan has one
    two-branch Union and three merge levels (the finest one in each
    branch and the grouping-set one), not one merge (and one union
    branch) per grouping set."""
    from go_tdigest_spark.operators import (
        release_dedup_caches,
        tdigest_cube,
        tdigest_rollup,
    )

    fn = {"rollup": tdigest_rollup, "cube": tdigest_cube}[op]
    release_dedup_caches()
    df = spark.range(3000).select(
        (F.col("id") % 3).cast("string").alias("a"),
        (F.col("id") % 7).alias("b"),
        (F.col("id") * 0.5).alias("v"),
    )
    d = fn(df, "v", ["a", "b"], fanin=64, finest_groups_hint=21)
    plan = d._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("Union") == 1
    assert _n_merge_levels(plan) == 3
    assert d.count() == {"rollup": 21 + 3 + 1, "cube": 21 + 3 + 7 + 1}[op]


@pytest.mark.parametrize("op", ["rollup", "cube"])
def test_grouping_sets_reject_gset_key(spark, op):
    """A `by` column named like the grouping-set key would be replaced
    by the mask and give wrong keys; it raises instead."""
    from go_tdigest_spark.operators import tdigest_cube, tdigest_rollup

    fn = {"rollup": tdigest_rollup, "cube": tdigest_cube}[op]
    df = spark.range(10).select(
        (F.col("id") % 2).alias("_gset"), F.col("id").cast("double").alias("v")
    )
    with pytest.raises(ValueError, match="_gset"):
        fn(df, "v", ["_gset"])


def test_rollup_coarse_levels_use_bounded_salted_tree(spark):
    """VERDICT r2 #1: a HIGH-cardinality finest grouping must not funnel
    every finest digest into one grand-total reducer.  With 1000 finest
    groups and fanin=8 the grand-total merge must show >=2 salted tree
    levels in the executed plan (1000 -> 125 -> 16 -> 2 -> final), and
    the result must stay exact on count/weight and inside the quantile
    bound."""
    from go_tdigest_spark.operators import tdigest_rollup

    n, groups, fanin = 20_000, 1000, 8
    df = spark.range(n).select(
        (F.col("id") % groups).cast("string").alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    d = tdigest_rollup(df, "v", ["k"], fanin=fanin)
    rows = d.collect()
    assert len(rows) == groups + 1

    plan = d._jdf.queryExecution().executedPlan().toString()
    # finest level is persisted (InMemoryTableScan); the grand-total
    # branch alone must contribute >=3 merge stages
    # (>=2 salted levels + the final per-group merge).
    assert "InMemoryTableScan" in plan
    assert _n_merge_levels(plan) >= 3

    total = next(r for r in rows if r["k"] is None)
    assert total["n_rows"] == n
    assert total["total_weight"] == n
    got = serde.decode(total["digest"])
    exact = np.arange(n, dtype=np.float64)
    for q in (0.01, 0.5, 0.99):
        rank_err = abs(
            (exact <= got.quantile(q)).mean() - q
        )
        assert rank_err < 0.02, (q, rank_err)


def test_rollup_finest_groups_hint_skips_sizing_action(spark):
    """finest_groups_hint <= fanin keeps the single-level coarse merge
    (no persist, no count action) and stays exact."""
    from go_tdigest_spark.operators import tdigest_rollup

    from go_tdigest_spark.operators.aggregate import _coarse_merge_bound

    li = table(spark, SF_TINY, "lineitem")
    # the hint is returned as-is: no persist(), no count() action
    # (plan-string checks are unreliable here — other tests' cached
    # fixtures can substitute InMemoryRelation into any matching scan)
    probe = li.limit(1)
    out_df, n = _coarse_merge_bound(probe, 64, 16)
    assert n == 16 and out_df is probe
    assert not out_df.storageLevel.useMemory
    hinted = tdigest_rollup(
        li, "l_extendedprice", ["l_returnflag", "l_linestatus"],
        finest_groups_hint=16,
    )
    default = tdigest_rollup(
        li, "l_extendedprice", ["l_returnflag", "l_linestatus"]
    )
    key = ["l_returnflag", "l_linestatus"]
    a = hinted.select(*key, "n_rows", "total_weight").toPandas()
    b = default.select(*key, "n_rows", "total_weight").toPandas()
    a = a.fillna("~").sort_values(key).reset_index(drop=True)
    b = b.fillna("~").sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_tdigest_bucket_semantics_and_population(spark):
    """Approximate decile bucketing: buckets are defined by GLOBAL
    cutpoints (so value ranges never overlap across buckets), every
    bucket's population is within t-digest rank error of n/10, and NULL
    values get NULL bucket."""
    from go_tdigest_spark.operators import tdigest_bucket

    li = table(spark, SF_TINY, "lineitem").select("l_extendedprice")
    b = tdigest_bucket(li, "l_extendedprice", 10).cache()
    n = li.count()
    stats = {
        r["bucket"]: (r["cnt"], r["lo"], r["hi"])
        for r in b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .collect()
    }
    assert set(stats) == set(range(10))
    # population: boundary rank error <= 0.015 each side (the reference
    # merge-suite bound) -> each decile in [0.07, 0.13] x n
    for cnt, _, _ in stats.values():
        assert 0.07 * n <= cnt <= 0.13 * n
    # global cutpoints: bucket ranges are disjoint and ordered
    for i in range(9):
        assert stats[i][2] <= stats[i + 1][1]
    b.unpersist()

    # NULL value -> NULL bucket; n_buckets=1 -> everything in bucket 0
    df = spark.createDataFrame([(1.0,), (None,), (2.0,)], "v double")
    got = {
        r["v"]: r["bucket"]
        for r in tdigest_bucket(df, "v", 1).collect()
    }
    assert got[1.0] == 0 and got[2.0] == 0 and got[None] is None


def test_tdigest_bucket_grouped(spark):
    """Per-group boundaries: a group whose values all sit below another
    group's still spreads across its own buckets."""
    from go_tdigest_spark.operators import tdigest_bucket

    rows = [("lo", float(i)) for i in range(100)] + [
        ("hi", 1000.0 + i) for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    b = tdigest_bucket(df, "v", 4, by=["g"])
    per_group = (
        b.groupBy("g").agg(F.countDistinct("bucket").alias("nb")).collect()
    )
    assert all(r["nb"] == 4 for r in per_group)
    with pytest.raises(ValueError, match="n_buckets"):
        tdigest_bucket(df, "v", 0)


def test_td_merge_pair_and_ks_distance(spark, lineitem):
    """td_merge_pair: count exactly additive, tails preserved, NULL is
    the merge identity.  td_ks_distance: 0 for identical digests, ~1 for
    disjoint ranges, and within sketch error of the exact KS for
    overlapping distributions."""
    from go_tdigest_spark.functions import td_ks_distance, td_merge_pair

    d = tdigest_agg(lineitem, "l_extendedprice", by=["l_returnflag"])
    rows = d.collect()
    a = d.where("l_returnflag = 'A'").select(
        F.col("digest").alias("da"), F.col("n_rows").alias("na")
    )
    r = d.where("l_returnflag = 'R'").select(
        F.col("digest").alias("db"), F.col("n_rows").alias("nb")
    )
    j = a.crossJoin(r).select(
        "na",
        "nb",
        td_count(td_merge_pair("da", "db")).alias("n_merged"),
        td_quantile(td_merge_pair("da", "db"), 0.0).alias("mn"),
        td_quantile(td_merge_pair("da", "db"), 1.0).alias("mx"),
        td_ks_distance("da", "db").alias("ks_ab"),
        td_ks_distance("da", "da").alias("ks_self"),
        td_ks_distance("da", F.lit(None).cast("binary")).alias("ks_null"),
        td_count(
            td_merge_pair("da", F.lit(None).cast("binary"))
        ).alias("n_null_merge"),
    ).collect()[0]
    assert j["n_merged"] == j["na"] + j["nb"]
    assert j["n_null_merge"] == j["na"]  # NULL is the merge identity
    assert j["ks_self"] == 0.0
    assert j["ks_null"] is None
    # A and R prices are near-identically distributed -> tiny KS
    assert 0.0 <= j["ks_ab"] < 0.05
    # exact min/max survive the pair merge
    mins = [serde.decode(bytes(x["digest"])).quantile(0.0) for x in rows
            if x["l_returnflag"] in ("A", "R")]
    maxs = [serde.decode(bytes(x["digest"])).quantile(1.0) for x in rows
            if x["l_returnflag"] in ("A", "R")]
    assert j["mn"] == min(mins) and j["mx"] == max(maxs)

    # disjoint ranges -> KS ~ 1
    lo = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    hi = spark.createDataFrame(
        [(1000.0 + i,) for i in range(100)], "v double"
    )
    dlo = tdigest_agg(lo, "v").select(F.col("digest").alias("da"))
    dhi = tdigest_agg(hi, "v").select(F.col("digest").alias("db"))
    ks = dlo.crossJoin(dhi).select(
        td_ks_distance("da", "db").alias("ks")
    ).collect()[0]["ks"]
    assert ks > 0.95


def test_td_ks_distance_empty_digest_is_null(spark):
    """An empty digest has no CDF: KS vs anything is NULL, never NaN
    (review fix — NaN silently fails every drift threshold)."""
    from go_tdigest_spark.functions import td_ks_distance

    d = tdigest_agg(
        spark.createDataFrame([(1.0,), (2.0,)], "v double"), "v"
    ).select(F.col("digest").alias("da"))
    empty = F.lit(serde.empty_digest_bytes()).cast("binary")
    row = d.select(
        td_ks_distance("da", empty).alias("ks_e"),
        td_ks_distance(empty, empty).alias("ks_ee"),
    ).collect()[0]
    assert row["ks_e"] is None and row["ks_ee"] is None


def test_grouped_merge_submillisecond_timestamp_keys(spark):
    """Group keys keep the full microsecond precision Spark timestamps
    carry: a millisecond rendering (to_json's default .SSS) would
    silently merge groups whose timestamp keys differ only below the
    millisecond."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 123)     # .000123
    t1 = dt.datetime(2024, 1, 1, 0, 0, 0, 923)     # .000923 (same ms)
    rows = [(t0, float(i)) for i in range(10)] + [
        (t1, float(100 + i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v double").repartition(8)
    merged = tdigest_agg(df, "v", by=["ts"], fanin=2)
    out = {r["ts"]: r for r in merged.collect()}
    assert set(out) == {t0, t1}
    assert out[t0]["total_weight"] == 10
    assert out[t1]["total_weight"] == 10
    d0 = serde.decode(bytes(out[t0]["digest"]))
    d1 = serde.decode(bytes(out[t1]["digest"]))
    assert d0.quantile(1.0) == 9.0
    assert d1.quantile(0.0) == 100.0


def test_tdigest_rank_grouped_bounds(spark, lineitem, lineitem_pd):
    """Per-row percentile rank within group stays inside the t-digest
    rank-error bound vs the exact empirical CDF (same 0.015 budget at
    compression 100 as the td_cdf tests), and the operator preserves
    row count and input columns."""
    from go_tdigest_spark.operators import tdigest_rank

    ranked = tdigest_rank(
        lineitem.select("l_returnflag", "l_extendedprice"),
        "l_extendedprice",
        by=["l_returnflag"],
    )
    out = ranked.toPandas()
    assert len(out) == len(lineitem_pd)
    assert set(out.columns) == {"l_returnflag", "l_extendedprice", "pct_rank"}
    for flag, grp in out.groupby("l_returnflag"):
        vals = np.sort(
            lineitem_pd.loc[
                lineitem_pd["l_returnflag"] == flag, "l_extendedprice"
            ].to_numpy()
        )
        x = grp["l_extendedprice"].to_numpy()
        exact = np.searchsorted(vals, x, side="right") / len(vals)
        err = np.abs(grp["pct_rank"].to_numpy() - exact)
        # searchsorted-right vs the digest's midpoint convention differ
        # by at most one rank unit on ties; 0.015 absorbs both
        assert err.max() < 0.015, float(err.max())


def test_tdigest_rank_global_and_nulls(spark):
    """Global (no groups) form; NULL value -> NULL rank; rank is
    monotone in the value."""
    from go_tdigest_spark.operators import tdigest_rank

    rows = [(float(i),) for i in range(200)] + [(None,)]
    df = spark.createDataFrame(rows, "v double").repartition(4)
    out = tdigest_rank(df, "v").toPandas()
    assert len(out) == 201
    nulls = out[out["v"].isna()]
    assert len(nulls) == 1 and nulls["pct_rank"].isna().all()
    live = out.dropna().sort_values("v")
    r = live["pct_rank"].to_numpy()
    assert (np.diff(r) >= 0).all()
    assert abs(r[100] - 0.5) < 0.02
    # collision guard
    with pytest.raises(ValueError):
        tdigest_rank(df.withColumn("pct_rank", F.lit(0.0)), "v")


def test_tdigest_rank_plan_broadcasts_digests(spark, lineitem):
    """The digests travel as a Spark broadcast variable captured by the
    CDF kernel (r6): the fact-table plan must contain NO join and NO
    exchange at all — shuffling the fact table on group keys, or
    shipping an O(compression)-byte digest blob per fact row through
    the Arrow boundary (the pre-r6 broadcast-join plan), are both scale
    bottlenecks — and the kernel must be Arrow-vectorized (no
    row-at-a-time BatchEvalPython)."""
    from go_tdigest_spark.operators import tdigest_rank

    ranked = tdigest_rank(lineitem, "l_extendedprice", by=["l_returnflag"])
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_td_cdf_col_and_quantile_col_match_scalar_forms(spark, lineitem):
    """Grouped-decode per-row-argument kernels agree with the scalar
    td_cdf/td_quantile UDFs on the same digests, and return NULL for
    NULL arguments."""
    from go_tdigest_spark.functions import td_cdf_col, td_quantile_col

    digests = tdigest_agg(lineitem, "l_extendedprice", by=["l_returnflag"])
    probe = digests.crossJoin(
        spark.createDataFrame(
            [(10000.0, 0.25), (30000.0, 0.5), (None, None)], "x double, q double"
        )
    )
    out = probe.select(
        "l_returnflag",
        "x",
        "q",
        td_cdf_col("digest", F.col("x")).alias("c_col"),
        td_quantile_col("digest", F.col("q")).alias("q_col"),
        td_cdf("digest", 10000.0).alias("c10k"),
        td_cdf("digest", 30000.0).alias("c30k"),
        td_quantile("digest", 0.25).alias("p25"),
        td_quantile("digest", 0.5).alias("p50"),
    ).toPandas()
    for _, row in out.iterrows():
        if pd.isna(row["x"]):
            assert pd.isna(row["c_col"]) and pd.isna(row["q_col"])
        else:
            want_c = row["c10k"] if row["x"] == 10000.0 else row["c30k"]
            want_q = row["p25"] if row["q"] == 0.25 else row["p50"]
            assert row["c_col"] == pytest.approx(want_c, abs=1e-12)
            assert row["q_col"] == pytest.approx(want_q, abs=1e-12)


def test_tdigest_rank_precomputed_digests(spark, lineitem):
    """digests= (stored-sketch ranking path) must agree exactly with the
    self-build path, and validate its schema."""
    from go_tdigest_spark.operators import tdigest_rank

    li = lineitem.select("l_returnflag", "l_extendedprice")
    d = tdigest_agg(li, "l_extendedprice", by=["l_returnflag"])
    a = (
        tdigest_rank(li, "l_extendedprice", by=["l_returnflag"])
        .toPandas()
        .sort_values(["l_returnflag", "l_extendedprice"])
        .reset_index(drop=True)
    )
    b = (
        tdigest_rank(
            li,
            "l_extendedprice",
            by=["l_returnflag"],
            digests=d.select("l_returnflag", "digest"),
        )
        .toPandas()
        .sort_values(["l_returnflag", "l_extendedprice"])
        .reset_index(drop=True)
    )
    assert (a["pct_rank"] == b["pct_rank"]).all()
    with pytest.raises(ValueError):
        tdigest_rank(
            li,
            "l_extendedprice",
            by=["l_returnflag"],
            digests=d.select("l_returnflag"),
        )


def test_tdigest_winsorize_bounds_and_passthrough(spark, lineitem, lineitem_pd):
    """Clip points within rank error of the exact percentiles; interior
    values pass through BIT-IDENTICAL; NULLs stay NULL; guards fire."""
    from go_tdigest_spark.operators import tdigest_winsorize

    li = lineitem.select("l_returnflag", "l_extendedprice")
    out = tdigest_winsorize(
        li, "l_extendedprice", 0.05, 0.95, by=["l_returnflag"]
    ).toPandas()
    for flag, g in out.groupby("l_returnflag"):
        vals = np.sort(
            lineitem_pd.loc[
                lineitem_pd["l_returnflag"] == flag, "l_extendedprice"
            ].to_numpy()
        )
        w = g["l_extendedprice_winsorized"].to_numpy()
        lo, hi = w.min(), w.max()
        assert abs(np.searchsorted(vals, lo) / len(vals) - 0.05) < 0.015
        assert abs(np.searchsorted(vals, hi) / len(vals) - 0.95) < 0.015
        interior = (g["l_extendedprice"] > lo) & (g["l_extendedprice"] < hi)
        assert (
            g.loc[interior, "l_extendedprice_winsorized"]
            == g.loc[interior, "l_extendedprice"]
        ).all()
        assert (w >= lo).all() and (w <= hi).all()
    # NULL passthrough + guards
    df = spark.createDataFrame([(1.0,), (None,)] * 50, "v double")
    res = tdigest_winsorize(df, "v", 0.1, 0.9).toPandas()
    assert res["v_winsorized"].isna().sum() == 50
    with pytest.raises(ValueError):
        tdigest_winsorize(df, "v", 0.9, 0.1)
    with pytest.raises(ValueError):
        tdigest_winsorize(df.withColumn("v_winsorized", F.lit(0)), "v")


def test_tdigest_normalize_matches_target_distribution(spark):
    """Two groups with very different scales; after normalization each
    group's quantiles sit within rank error of the POOLED quantiles,
    and group-internal order is preserved."""
    from go_tdigest_spark.operators import tdigest_normalize

    rng = np.random.default_rng(3)
    a = rng.normal(0.0, 1.0, 4000)          # source A: standard normal
    b = rng.normal(100.0, 25.0, 4000)       # source B: shifted + wide
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "src string, v double").repartition(8)
    out = tdigest_normalize(df, "v", by=["src"]).toPandas()
    pooled = np.sort(np.concatenate([a, b]))
    for src, g in out.groupby("src"):
        nv = g["v_normalized"].to_numpy()
        for q in (0.1, 0.25, 0.5, 0.75, 0.9):
            est = np.quantile(nv, q)
            rank = np.searchsorted(pooled, est) / len(pooled)
            # group rank error + target inverse-read error stack
            assert abs(rank - q) < 0.03, (src, q, rank)
        # monotone within group
        gs = g.sort_values("v")
        assert (np.diff(gs["v_normalized"].to_numpy()) >= 0).all()
    # NULL -> NULL; by=() rejected; target_digest path
    dfn = spark.createDataFrame(
        [("a", 1.0), ("a", None)], "src string, v double"
    )
    res = tdigest_normalize(dfn, "v", by=["src"]).toPandas()
    assert res.loc[res["v"].isna(), "v_normalized"].isna().all()
    with pytest.raises(ValueError):
        tdigest_normalize(df, "v", by=[])
    # explicit target: normalize B onto A's distribution
    ta = tdigest_agg(df.where("src = 'a'"), "v")
    out2 = tdigest_normalize(
        df.where("src = 'b'"), "v", by=["src"], target_digest=ta
    ).toPandas()
    med = np.quantile(out2["v_normalized"].to_numpy(), 0.5)
    rank = np.searchsorted(np.sort(a), med) / len(a)
    assert abs(rank - 0.5) < 0.03


def test_winsorize_normalize_plan_broadcasts(spark, lineitem):
    from go_tdigest_spark.operators import tdigest_normalize, tdigest_winsorize

    li = lineitem.select("l_returnflag", "l_extendedprice")
    # winsorize still joins the O(groups) scalar-bounds table — it must
    # broadcast, never sort-merge (a fact-table shuffle on group keys)
    wz = tdigest_winsorize(li, "l_extendedprice", by=["l_returnflag"])
    plan = wz._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    # normalize (r6) ships the digests as a Spark broadcast captured by
    # the fused kernel: no join, no exchange, no per-row digest blob
    nm = tdigest_normalize(li, "l_extendedprice", by=["l_returnflag"])
    plan = nm._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_tree_merge_negative_zero_group_key(spark):
    """A double group key containing BOTH 0.0 and -0.0 must merge into
    ONE group (Spark groupBy folds them via NormalizeFloatingNumbers;
    the tree's to_json gkey rendered them differently pre-fix) and the
    emitted key must be +0.0.  NaN keys of any bit pattern are one
    group too, and stage 1 emits one partial per Spark group even when
    those keys arrive over many Arrow batches of one task."""
    import math
    import struct

    rows = [(0.0, float(i)) for i in range(50)]
    rows += [(-0.0, float(i + 100)) for i in range(50)]
    rows += [(2.5, 7.0)]
    df = spark.createDataFrame(rows, "g double, v double")
    out = tdigest_agg(df, "v", by=["g"], fanin=4).collect()
    assert len(out) == 2, [r["g"] for r in out]
    zero = [r for r in out if r["g"] == 0.0]
    assert len(zero) == 1
    assert math.copysign(1.0, zero[0]["g"]) == 1.0  # +0.0, not -0.0
    assert zero[0]["n_rows"] == 100  # both zero groups' rows merged
    d = serde.decode(bytes(zero[0]["digest"]))
    assert d.count == 100
    # exact_percentiles too: one zero group, with Spark percentile()'s
    # value over both zeros' rows
    from go_tdigest_spark.operators import exact_percentiles

    got = exact_percentiles(df, "v", [0.5], by=["g"]).collect()
    want = df.groupBy("g").agg(
        F.expr("percentile(v, array(0.5D))").alias("_pb")
    ).collect()
    assert sorted((r["g"], r["_pb"]) for r in got) == sorted(
        (r["g"], r["_pb"]) for r in want
    )
    assert [r["_pb"] for r in got if r["g"] == 0.0] == [[74.5]]
    assert all(math.copysign(1.0, r["g"]) == 1.0 for r in got)

    # one partition read in 5-row batches: <= 1 partial per (stage-1
    # task, group) is what the level-0 salt's fan-in bound rests on
    nan2 = struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000001))[0]
    keyed = spark.createDataFrame(
        rows
        + [(math.nan, float(200 + i)) for i in range(10)]
        + [(nan2, float(300 + i)) for i in range(10)],
        "g double, v double",
    ).repartition(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        parts = build_partials(keyed, "v", ["g"]).collect()
    finally:
        spark.conf.set(key, old)
    assert len(parts) == keyed.select("g").distinct().count() == 3
    n_rows = {
        "nan" if math.isnan(r["g"]) else r["g"]: r["n_rows"] for r in parts
    }
    assert n_rows == {0.0: 100, "nan": 20, 2.5: 1}


def test_annotator_single_row_guards(spark):
    """Stored-digest paths that crossJoin (by=[] rank/winsorize, any
    normalize target) reject multi-row digest tables loudly instead of
    silently multiplying every fact row."""
    from go_tdigest_spark.operators import (
        tdigest_normalize,
        tdigest_rank,
        tdigest_winsorize,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("a", 3.0)], "g string, v double"
    )
    per_group = tdigest_agg(df, "v", by=["g"])  # 2 rows
    with pytest.raises(ValueError, match="exactly one row"):
        tdigest_rank(df, "v", digests=per_group.drop("g"))
    with pytest.raises(ValueError, match="exactly one row"):
        tdigest_winsorize(df, "v", digests=per_group.drop("g"))
    with pytest.raises(ValueError, match="exactly one row"):
        tdigest_normalize(
            df, "v", by=["g"], target_digest=per_group.select("digest")
        )
    # the single-row forms still work
    pooled = tdigest_agg(df, "v")
    assert tdigest_rank(df, "v", digests=pooled).count() == 3
    assert (
        tdigest_normalize(
            df, "v", by=["g"], target_digest=pooled.select("digest")
        ).count()
        == 3
    )


@pytest.mark.parametrize("op", ["rank", "normalize", "winsorize", "bucket"])
def test_annotators_read_null_group_key_as_its_own_group(spark, op):
    """A NULL group key is its own group for every annotator, as in
    tdigest_agg: its rows read exactly what they read once the key is
    relabelled to a fresh value (NULL never equals NULL in a plain
    equi-join, which left those rows unclipped / unbucketed).  A -0.0
    key is the +0.0 group, as in tdigest_agg."""
    import math

    from go_tdigest_spark.operators import (
        tdigest_bucket,
        tdigest_normalize,
        tdigest_rank,
        tdigest_winsorize,
    )

    annotate = {
        "rank": lambda d: tdigest_rank(d, "v", by=["g"]),
        "normalize": lambda d: tdigest_normalize(d, "v", by=["g"]),
        "winsorize": lambda d: tdigest_winsorize(d, "v", 0.1, 0.9, by=["g"]),
        "bucket": lambda d: tdigest_bucket(d, "v", 4, by=["g"]),
    }[op]
    df = spark.createDataFrame(
        [("a", float(v)) for v in range(10)]
        + [(None, float(100 + v)) for v in range(10)],
        "g string, v double",
    )
    relabelled = df.withColumn("g", F.coalesce("g", F.lit("fresh")))

    def rows(out, key):
        return sorted(tuple(r) for r in out.where(key).drop("g").collect())

    got = rows(annotate(df), F.col("g").isNull())
    want = rows(annotate(relabelled), F.col("g") == "fresh")
    assert len(got) == 10 and all(x is not None for r in got for x in r)
    assert got == want

    # a double key: rows at -0.0 read what the same rows read at +0.0
    # (float keys fold as in tdigest_agg), and keep their own -0.0
    def zeros(z):
        return spark.createDataFrame(
            [(0.0, float(v)) for v in range(10)]
            + [(z, float(10 + v)) for v in range(10)]
            + [(1.0, float(100 + v)) for v in range(5)],
            "g double, v double",
        )

    band = F.col("v").between(10, 19)
    neg = annotate(zeros(-0.0)).where(band)
    assert {math.copysign(1.0, r["g"]) for r in neg.collect()} == {-1.0}
    got = rows(neg, F.lit(True))
    want = rows(annotate(zeros(0.0)), band)
    assert len(got) == 10 and all(x is not None for r in got for x in r)
    assert got == want


def test_exact_percentiles_matches_spark_percentile(spark, lineitem):
    """The Arrow sorted-run kernel (operators/exactq.py) must be
    VALUE-IDENTICAL to Spark's percentile() aggregate — grouped and
    global, including exact hits (q=0/1) and interpolated mid-points —
    and must ignore NULL values exactly as the aggregate does."""
    from go_tdigest_spark.operators import exact_percentiles

    qs = [0.0, 0.015, 0.25, 0.485, 0.5, 0.935, 0.99, 1.0]
    qlit = ", ".join(f"{q!r}D" for q in qs)
    li = lineitem.withColumn(
        "v", F.when(F.col("l_orderkey") % 7 == 0, None).otherwise(
            F.col("l_extendedprice")
        )
    )
    got = {
        r["l_returnflag"]: r["_pb"]
        for r in exact_percentiles(li, "v", qs, by=["l_returnflag"]).collect()
    }
    want = {
        r["l_returnflag"]: r["_pb"]
        for r in li.groupBy("l_returnflag")
        .agg(F.expr(f"percentile(v, array({qlit}))").alias("_pb"))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])
    # global (no groups) form
    g = exact_percentiles(li, "v", qs).collect()
    w = li.agg(F.expr(f"percentile(v, array({qlit}))").alias("_pb")).collect()
    assert len(g) == 1 and g[0]["_pb"] == w[0]["_pb"]
    # multi-partition input must merge runs identically
    g4 = exact_percentiles(
        li.repartition(4), "v", qs, by=["l_returnflag"]
    ).collect()
    assert {r["l_returnflag"]: r["_pb"] for r in g4} == want
    # invalid q
    with pytest.raises(ValueError):
        exact_percentiles(li, "v", [1.5])


def test_grouped_agg_matches_per_group_digests_across_partitions_and_batches(spark):
    """tdigest_agg over several partitions, each read in several Arrow
    batches, equals the per-group path: one TDigest per (partition,
    group) merged with TDigest.merge_all — same centroid counts, n_rows
    and total_weight for every group (the task-level kernels are exact
    re-implementations, not approximations of it)."""
    rng = np.random.default_rng(11)
    sizes = {f"g{i}": int(s) for i, s in enumerate(rng.zipf(1.3, 60).clip(1, 4000))}
    sizes["big"] = 6000
    keys = np.repeat(list(sizes), list(sizes.values()))
    vals = rng.lognormal(size=keys.size)
    vals[rng.random(keys.size) < 0.01] = np.nan  # counted in n_rows only
    pdf = pd.DataFrame({"k": keys, "v": vals, "p": rng.integers(0, 7, keys.size)})
    df = (
        spark.createDataFrame(pdf)
        .repartition(4, "p")
        .withColumn("pid", F.spark_partition_id())
        .cache()
    )
    rows = df.toPandas()
    assert rows["pid"].nunique() > 1
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "500")
    try:
        out = {r["k"]: r for r in tdigest_agg(df, "v", by=["k"]).collect()}
    finally:
        spark.conf.set(key, old)
        df.unpersist()

    assert set(out) == set(sizes)
    for k, grp in rows.groupby("k"):
        partials = []
        for _, part in grp.groupby("pid"):
            v = part["v"].to_numpy()
            partials.append(TDigest.from_values(v[~np.isnan(v)]))
        want = TDigest.merge_all(partials)
        want.compress()
        got = serde.decode(bytes(out[k]["digest"]))
        np.testing.assert_array_equal(got.centroids()[1], want.centroids()[1])
        assert out[k]["n_rows"] == len(grp)
        assert out[k]["total_weight"] == want.count == int(grp["v"].notna().sum())
