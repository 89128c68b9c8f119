"""Auxiliary sketch tests: HLL / Bloom / Count-Min kernels and their
two-phase Spark aggregations, error bounds vs exact answers."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from go_tdigest_spark.sketches import HLL, BloomFilter, CountMinSketch, clz64
from go_tdigest_spark.operators.sketch_agg import (
    bloom_agg,
    bloom_might_contain,
    cms_agg,
    cms_point_query,
    hll_agg,
    hll_estimate,
)
from go_tdigest_spark.sources import table

from conftest import SF_TINY


# ------------------------------------------------------------- kernels


def test_clz64_exact():
    xs = np.array(
        [0, 1, 2, 3, (1 << 63), (1 << 63) - 1, (1 << 53) - 1, 1 << 52],
        dtype=np.uint64,
    )
    want = [64, 63, 62, 62, 0, 1, 11, 11]
    assert clz64(xs).tolist() == want


@pytest.mark.parametrize("n", [100, 10_000, 1_000_000])
def test_hll_error_bound(n):
    rng = np.random.default_rng(n)
    h = rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)
    sk = HLL(p=12)
    sk.update_hashes(h)
    est = sk.estimate()
    # standard error 1.04/sqrt(m) ~ 1.6%; allow 5 sigma
    assert abs(est - n) / n < 5 * 1.04 / np.sqrt(4096), (n, est)
    # duplicates must not change the estimate
    sk.update_hashes(h[: n // 2])
    assert sk.estimate() == est


def test_hll_merge_equals_whole():
    rng = np.random.default_rng(4)
    h = rng.integers(-(2**63), 2**63 - 1, size=200_000, dtype=np.int64)
    whole = HLL()
    whole.update_hashes(h)
    parts = []
    for i in range(8):
        s = HLL()
        s.update_hashes(h[i::8])
        parts.append(s)
    merged = parts[0]
    for s in parts[1:]:
        merged.merge(s)
    assert (merged.regs == whole.regs).all()  # merge is exact on registers
    rt = HLL.from_bytes(whole.to_bytes())
    assert rt.estimate() == whole.estimate()


def test_bloom_no_false_negatives_and_fpr():
    rng = np.random.default_rng(5)
    h1 = rng.integers(-(2**63), 2**63 - 1, size=5000, dtype=np.int64)
    h2 = rng.integers(-(2**63), 2**63 - 1, size=5000, dtype=np.int64)
    bf = BloomFilter(n_bits=1 << 16, k=5)
    bf.update_hashes(h1, h2)
    assert bf.might_contain_hashes(h1, h2).all()  # no false negatives
    q1 = rng.integers(-(2**63), 2**63 - 1, size=20_000, dtype=np.int64)
    q2 = rng.integers(-(2**63), 2**63 - 1, size=20_000, dtype=np.int64)
    fpr = bf.might_contain_hashes(q1, q2).mean()
    # theoretical fpr ~ (1-e^{-kn/m})^k ~ 0.9% here; allow 3x
    assert fpr < 0.03, fpr
    m = BloomFilter.from_bytes(bf.to_bytes())
    assert (m.bits == bf.bits).all()


def test_cms_overcount_only_and_bound():
    rng = np.random.default_rng(6)
    items = rng.zipf(1.3, size=50_000).astype(np.int64)
    h = ((items.view(np.uint64) * np.uint64(0x9E3779B97F4A7C15))
         ^ items.view(np.uint64)).view(np.int64)  # deterministic hash
    cms = CountMinSketch(d=5, w=2048)
    cms.update_hashes(h)
    uniq, true_counts = np.unique(items, return_counts=True)
    uh = ((uniq.view(np.uint64) * np.uint64(0x9E3779B97F4A7C15))
          ^ uniq.view(np.uint64)).view(np.int64)
    est = cms.point_query_hashes(uh)
    assert (est >= true_counts).all()  # never undercounts
    # CM bound: overcount <= e/w * N with prob 1-e^-d; check 99.9th pct
    over = est - true_counts
    assert np.quantile(over, 0.999) <= np.e / 2048 * cms.total * 3

    parts = [CountMinSketch(d=5, w=2048) for _ in range(4)]
    for i, p in enumerate(parts):
        p.update_hashes(h[i::4])
    merged = parts[0]
    for p in parts[1:]:
        merged.merge(p)
    assert (merged.table == cms.table).all()  # merge exact
    rt = CountMinSketch.from_bytes(cms.to_bytes())
    assert (rt.table == cms.table).all() and rt.total == cms.total


# --------------------------------------------------------------- spark


def test_hll_agg_spark(spark):
    ev = table(spark, SF_TINY, "events")
    out = hll_agg(ev, ["user_id"], by=["event_type"])
    res = out.select(
        "event_type", hll_estimate("sketch").alias("approx_users"), "n_rows"
    ).toPandas()
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for _, row in res.iterrows():
        want = exact[row["event_type"]]
        assert abs(row["approx_users"] - want) / want < 0.05, (
            row["event_type"],
            row["approx_users"],
            want,
        )


def test_bloom_agg_spark(spark):
    orders = table(spark, SF_TINY, "orders")
    blooms = bloom_agg(orders, ["o_custkey"], by=["o_orderstatus"])
    cust = table(spark, SF_TINY, "customer").select("c_custkey")
    probe = blooms.crossJoin(cust.limit(200)).select(
        "o_orderstatus",
        "c_custkey",
        bloom_might_contain(
            "sketch", F.xxhash64("c_custkey"), F.xxhash64("c_custkey", F.lit(1))
        ).alias("maybe"),
    )
    got = probe.groupBy("o_orderstatus").agg(
        F.sum(F.col("maybe").cast("int")).alias("hits"),
        F.count(F.lit(1)).alias("n"),
    ).toPandas()
    # true membership counts per status for the same 200 customers
    truth = (
        orders.join(
            cust.limit(200),
            orders.o_custkey == F.col("c_custkey"),
            "inner",
        )
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("true_members"))
        .toPandas()
        .set_index("o_orderstatus")["true_members"]
    )
    for _, row in got.iterrows():
        t = int(truth.get(row["o_orderstatus"], 0))
        assert row["hits"] >= t  # no false negatives
        assert row["hits"] <= row["n"]


def test_cms_agg_spark(spark):
    li = table(spark, SF_TINY, "lineitem")
    sk = cms_agg(li, ["l_suppkey"], by=[], d=5, w=4096)
    # probe the 5 most frequent suppliers
    top = (
        li.groupBy("l_suppkey").count().orderBy(F.desc("count")).limit(5).collect()
    )
    probe_df = spark.createDataFrame(
        [(r["l_suppkey"], r["count"]) for r in top], "l_suppkey long, true_n long"
    )
    res = (
        sk.crossJoin(probe_df)
        .select(
            "l_suppkey",
            "true_n",
            cms_point_query("sketch", F.xxhash64("l_suppkey")).alias("est"),
        )
        .toPandas()
    )
    n_total = li.count()
    for _, row in res.iterrows():
        assert row["est"] >= row["true_n"]
        assert row["est"] - row["true_n"] <= np.e / 4096 * n_total * 3


def test_hll_multicol_groups_and_tuple_hash(spark):
    # grouping by two columns + hashing a multi-column tuple
    li = table(spark, SF_TINY, "lineitem")
    out = hll_agg(
        li, ["l_orderkey", "l_linenumber"], by=["l_returnflag", "l_linestatus"]
    )
    res = out.select(
        "l_returnflag", "l_linestatus", hll_estimate("sketch").alias("est"), "n_rows"
    ).toPandas()
    exact = {
        (r["l_returnflag"], r["l_linestatus"]): r["n"]
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.countDistinct("l_orderkey", "l_linenumber").alias("n"))
        .collect()
    }
    assert len(res) == len(exact)
    for _, row in res.iterrows():
        want = exact[(row["l_returnflag"], row["l_linestatus"])]
        assert abs(row["est"] - want) / want < 0.06
        assert row["n_rows"] >= want  # rows >= distinct tuples


def test_cms_weighted_spark(spark):
    li = table(spark, SF_TINY, "lineitem").withColumn(
        "qty", F.col("l_quantity").cast("long")
    )
    sk = cms_agg(li, ["l_returnflag"], by=[], d=5, w=1024, weight_col="qty")
    truth = {
        r["l_returnflag"]: r["w"]
        for r in li.groupBy("l_returnflag").agg(F.sum("qty").alias("w")).collect()
    }
    probe = spark.createDataFrame(
        [(k,) for k in truth], "l_returnflag string"
    )
    res = (
        sk.crossJoin(probe)
        .select(
            "l_returnflag",
            cms_point_query("sketch", F.xxhash64("l_returnflag")).alias("est"),
        )
        .toPandas()
    )
    for _, row in res.iterrows():
        assert row["est"] >= truth[row["l_returnflag"]]  # overcount-only holds


# ----------------------------------------------- tree merge / validation


def test_sketch_tree_merge_equals_flat(spark):
    """>=1000 synthetic partials through >=2 salted levels must merge to
    byte-identical sketches vs the flat (single-reducer) merge — HLL
    register-max / CMS counter-add / Bloom bit-or are exact under any
    merge order, so equality (not bounds) is the assert."""
    from go_tdigest_spark.operators.sketch_agg import merge_sketches

    rng = np.random.default_rng(3)
    n_partials = 1000
    rows = {"hll": [], "cms": [], "blm": []}
    for _ in range(n_partials):
        h = rng.integers(-(2**62), 2**62, size=20, dtype=np.int64)
        hll = HLL(8)
        hll.update_hashes(h)
        cms = CountMinSketch(3, 256)
        cms.update_hashes(h)
        blm = BloomFilter(1 << 10, 3)
        blm.update_hashes(h, h + 1)
        rows["hll"].append((hll.to_bytes(), 20))
        rows["cms"].append((cms.to_bytes(), 20))
        rows["blm"].append((blm.to_bytes(), 20))

    decoders = {
        "hll": HLL.from_bytes,
        "cms": CountMinSketch.from_bytes,
        "blm": BloomFilter.from_bytes,
    }
    for kind, decode in decoders.items():
        partials = spark.createDataFrame(
            rows[kind], "sketch binary, n_rows long"
        ).repartition(n_partials)
        tree = merge_sketches(partials, [], decode, fanin=8)
        # 1000 -> 125 -> 16 -> 2 -> final: three salted levels + final
        plan = tree._jdf.queryExecution().executedPlan().toString()
        from test_spark_agg import _n_merge_levels
        assert _n_merge_levels(plan) == 4, kind
        flat = merge_sketches(partials, [], decode, fanin=None)
        t = tree.collect()[0]
        f = flat.collect()[0]
        assert bytes(t["sketch"]) == bytes(f["sketch"]), kind
        assert t["n_rows"] == f["n_rows"] == n_partials * 20, kind


def test_cms_rejects_nonpositive_and_float_counts(spark):
    cms = CountMinSketch(3, 256)
    h = np.array([1, 2, 3], dtype=np.int64)
    with pytest.raises(TypeError):
        cms.update_hashes(h, np.array([1.5, 2.0, 3.0]))
    with pytest.raises(ValueError):
        cms.update_hashes(h, np.array([1, 0, 2], dtype=np.int64))
    with pytest.raises(ValueError):
        cms.update_hashes(h, np.array([1, -2, 2], dtype=np.int64))
    # plan-time rejection of a fractional weight column
    df = spark.createDataFrame([("a", 1.5)], "k string, w double")
    with pytest.raises(TypeError):
        cms_agg(df, ["k"], weight_col="w")


# ------------------------------------------------------------------ KLL


def test_kll_rank_error_and_exact_tracking():
    from go_tdigest_spark.sketches import KLL

    rng = np.random.default_rng(1)
    for data in (
        rng.uniform(0, 1, 200_000),
        rng.lognormal(0, 2, 200_000),
        np.arange(200_000, dtype=float),
    ):
        k = KLL(200)
        for chunk in np.array_split(data, 37):
            k.update(chunk)
        s = np.sort(data)
        for q in np.arange(0.05, 1.0, 0.05):
            rank = np.searchsorted(s, k.quantile(q)) / len(s)
            assert abs(rank - q) <= 0.01  # k=200 -> ~1/k worst-case
        assert k.count == len(data)
        assert k.quantile(0.0) == s[0] and k.quantile(1.0) == s[-1]
        v, w = k._weighted_items()
        assert int(w.sum()) == k.count  # weight conservation is exact
        # cdf is monotone and hits the exact endpoints
        assert k.cdf(s[0] - 1) == 0.0 and k.cdf(s[-1]) == 1.0


def test_kll_merge_permutation_and_serde():
    import random

    from go_tdigest_spark.sketches import KLL

    rng = np.random.default_rng(2)
    data = rng.lognormal(0, 1, 300_000)
    parts = np.array_split(data, 64)

    def build(order):
        ks = []
        for i in order:
            kk = KLL(200)
            kk.update(parts[i])
            ks.append(kk)
        m = ks[0]
        for kk in ks[1:]:
            m.merge(kk)
        return m

    s = np.sort(data)
    order = list(range(64))
    random.Random(5).shuffle(order)
    for m in (build(list(range(64))), build(order)):
        assert m.count == len(data)
        for q in np.arange(0.05, 1.0, 0.05):
            rank = np.searchsorted(s, m.quantile(q)) / len(s)
            assert abs(rank - q) <= 0.015  # merged bound, both orders

    m = build(list(range(64)))
    r = KLL.from_bytes(m.to_bytes())
    assert r.to_bytes() == m.to_bytes()
    assert r.count == m.count and r.quantile(0.5) == m.quantile(0.5)
    with pytest.raises(ValueError):
        KLL.from_bytes(m.to_bytes() + b"x")
    with pytest.raises(ValueError):
        KLL.from_bytes(b"NOPE" + m.to_bytes()[4:])
    with pytest.raises(ValueError):
        KLL(200).merge(KLL(100))


def test_kll_agg_spark_vs_duckdb(spark):
    import duckdb

    from go_tdigest_spark.operators import kll_agg, kll_count, kll_quantile

    li = table(spark, SF_TINY, "lineitem")
    sk = kll_agg(li, "l_extendedprice", by=["l_returnflag"], k=200)
    got = sk.select(
        "l_returnflag",
        kll_count("sketch").alias("n"),
        kll_quantile("sketch", 0.0).alias("mn"),
        kll_quantile("sketch", 0.5).alias("p50"),
        kll_quantile("sketch", 1.0).alias("mx"),
    ).toPandas().set_index("l_returnflag")

    truth = duckdb.sql(
        "SELECT l_returnflag, count(*) AS n, min(l_extendedprice) AS mn, "
        "max(l_extendedprice) AS mx "
        "FROM read_parquet('/root/testdata/sf0.001/lineitem.parquet') "
        "GROUP BY 1"
    ).fetchdf().set_index("l_returnflag")
    vals = duckdb.sql(
        "SELECT l_returnflag, list(l_extendedprice ORDER BY l_extendedprice) v "
        "FROM read_parquet('/root/testdata/sf0.001/lineitem.parquet') GROUP BY 1"
    ).fetchdf().set_index("l_returnflag")

    for flag, row in got.iterrows():
        t = truth.loc[flag]
        assert row["n"] == t["n"] and row["mn"] == t["mn"] and row["mx"] == t["mx"]
        s = np.asarray(vals.loc[flag]["v"])
        rank = np.searchsorted(s, row["p50"]) / len(s)
        assert abs(rank - 0.5) <= 0.015


def test_probe_udfs_null_semantics(spark):
    """NULL sketch or NULL probe hash must yield NULL, never a probe of
    hash 0 (a false membership / wrong count)."""
    from go_tdigest_spark.operators.sketch_agg import (
        bloom_might_contain,
        cms_point_query,
    )

    bf = BloomFilter(1 << 10, 3)
    bf.update_hashes(
        np.array([1, 2], dtype=np.int64), np.array([11, 12], dtype=np.int64)
    )
    cms = CountMinSketch(3, 256)
    cms.update_hashes(np.array([5, 5, 7], dtype=np.int64))

    df = spark.createDataFrame(
        [(bf.to_bytes(), cms.to_bytes(), 1, 11), (bf.to_bytes(), cms.to_bytes(), None, None), (None, None, 1, 11)],
        "bl binary, cm binary, h1 long, h2 long",
    )
    out = df.select(
        bloom_might_contain("bl", F.col("h1"), F.col("h2")).alias("maybe"),
        cms_point_query("cm", F.col("h1")).alias("freq"),
    ).collect()
    assert out[0]["maybe"] is True
    assert out[1]["maybe"] is None and out[1]["freq"] is None
    assert out[2]["maybe"] is None and out[2]["freq"] is None


def test_kll_agg_nan_and_cms_gate_case_insensitive(spark):
    from go_tdigest_spark.operators import kll_agg, kll_count, kll_quantile

    df = spark.createDataFrame(
        [("a", 1.0), ("a", float("nan")), ("a", 3.0), ("a", None)],
        "g string, v double",
    )
    row = (
        kll_agg(df, "v", by=["g"])
        .select(
            kll_count("sketch").alias("n"),
            kll_quantile("sketch", 0.0).alias("mn"),
            kll_quantile("sketch", 1.0).alias("mx"),
            "n_rows",
        )
        .collect()[0]
    )
    # NaN and NULL both excluded JVM-side: sketch count == n_rows
    assert row["n"] == row["n_rows"] == 2
    assert row["mn"] == 1.0 and row["mx"] == 3.0

    # weight gate resolves names case-insensitively and accepts
    # zero-scale decimals (both valid Spark resolutions)
    d2 = spark.createDataFrame([("a", 2)], "k string, Quantity long").withColumn(
        "DecW", F.col("Quantity").cast("decimal(10,0)")
    )
    cms_agg(d2, ["k"], weight_col="quantity").collect()
    cms_agg(d2, ["k"], weight_col="decw").collect()


def test_driver_sketch_queries_bounds_gated(spark):
    """The converted hll_distinct_users / hll_overlap_users /
    cms_supplier_freq / bloom_membership driver queries carry their
    bound checks in-result (ok booleans hashed against TRUE oracles) —
    assert the booleans really are all True at the driver's sf, and
    independently re-derive the HLL and CMS estimates against DuckDB
    exact answers so inverted in-query bound logic can't pass
    silently."""
    import sys, os

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from go_tdigest_spark.operators import cms_agg, cms_point_query, hll_agg, hll_estimate

    sf = "/root/testdata/sf0.01"
    qs = entry.queries()

    got = qs["hll_distinct_users"](spark, sf).toPandas()
    assert len(got) > 0 and got["est_ok"].all()
    got = qs["hll_overlap_users"](spark, sf).toPandas()
    assert len(got) == 1
    assert got["union_ok"].all() and got["common_ok"].all()
    got = qs["cms_supplier_freq"](spark, sf).toPandas()
    assert len(got) == 10 and got["over_ok"].all()
    got = qs["bloom_membership"](spark, sf).toPandas()
    assert len(got) > 0 and got["fp_ok"].all()
    # no false negatives: present-key hits == exact distinct (already
    # hash-gated, re-asserted here for local signal)
    truth = duckdb.sql(
        "SELECT o_orderstatus, count(DISTINCT o_custkey) AS m "
        f"FROM read_parquet('{sf}/orders.parquet') "
        "WHERE o_custkey < 200 GROUP BY 1"
    ).fetchdf().set_index("o_orderstatus")["m"]
    for st, row in got.set_index("o_orderstatus").iterrows():
        assert row["present_hits"] == truth[st]

    # independent HLL re-derivation: p=12 -> rel err ~1.6%; allow 5%
    ev = table(spark, sf, "events")
    est = (
        hll_agg(ev, ["user_id"], by=["event_type"])
        .select("event_type", hll_estimate("sketch").alias("est"))
        .toPandas()
        .set_index("event_type")["est"]
    )
    truth = duckdb.sql(
        "SELECT event_type, count(DISTINCT user_id) AS d "
        f"FROM read_parquet('{sf}/events.parquet') GROUP BY 1"
    ).fetchdf().set_index("event_type")["d"]
    for et, e in est.items():
        assert abs(e - truth[et]) / truth[et] <= 0.05

    # independent CMS re-derivation: overcount-only, <= exact + (e/w)*N
    li = table(spark, sf, "lineitem")
    sk = cms_agg(li, ["l_suppkey"], by=[], d=5, w=4096)
    probes = li.select("l_suppkey").distinct().orderBy("l_suppkey").limit(10)
    est = (
        sk.crossJoin(F.broadcast(probes))
        .select(
            "l_suppkey",
            cms_point_query("sketch", F.xxhash64("l_suppkey")).alias("est"),
        )
        .toPandas()
        .set_index("l_suppkey")["est"]
    )
    freq = duckdb.sql(
        "SELECT l_suppkey, count(*) AS f "
        f"FROM read_parquet('{sf}/lineitem.parquet') GROUP BY 1"
    ).fetchdf().set_index("l_suppkey")["f"]
    total = int(freq.sum())
    for skey, e in est.items():
        exact = int(freq[skey])
        assert e >= exact  # never undercounts
        assert e <= exact + (np.e / 4096) * total


def test_fd_driver_query_bounds_gated_and_nonvacuous(spark):
    """fd_embedding_spectrum (the r5 driver row for Frequent Directions):
    every certificate boolean is True at the driver SF, n_vectors is the
    exact per-label count, AND the sketch genuinely shrank (shrink_total
    > 0 for every label) so the spectral-bound booleans are non-vacuous
    — ell=8 < rows per label by construction."""
    import os
    import sys

    import duckdb

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as entry
    from go_tdigest_spark.operators import fd_agg, fd_spectral_bound

    sf = "/root/testdata/sf0.01"
    qs = entry.queries()
    got = qs["fd_embedding_spectrum"](spark, sf).toPandas()
    assert len(got) == 10
    assert got["fnorm2_ok"].all()
    assert got["bound_ok"].all()
    assert got["bfro_ok"].all()
    truth = duckdb.sql(
        "SELECT label, count(embedding) AS n "
        f"FROM read_parquet('{sf}/embeddings.parquet') GROUP BY 1"
    ).fetchdf().set_index("label")["n"]
    for lbl, row in got.set_index("label").iterrows():
        assert row["n_vectors"] == truth[lbl]
    # non-vacuity: the same build really applied shrinkage everywhere
    emb = table(spark, sf, "embeddings")
    shr = (
        fd_agg(emb, "embedding", dim=64, by=["label"], ell=8)
        .select("label", fd_spectral_bound("sketch").alias("b"))
        .toPandas()
    )
    assert (shr["b"] > 0).all()


def test_sketch_sql_function_registration(spark):
    """SQL-only consumers can read every sketch type the aggregations
    produce (mirrors the t-digest's register_sql_functions)."""
    from go_tdigest_spark.functions import register_sketch_sql_functions
    from go_tdigest_spark.operators import bloom_agg, cms_agg, hll_agg, kll_agg

    register_sketch_sql_functions(spark)
    ev = table(spark, SF_TINY, "events")

    kll_agg(ev, "value", by=["event_type"]).createOrReplaceTempView("kll_t")
    got = spark.sql(
        "SELECT event_type, kll_count(sketch) n, kll_quantile(sketch, 0.0) mn, "
        "kll_quantile(sketch, 1.0) mx, kll_cdf(sketch, 1e18) c FROM kll_t"
    ).toPandas().set_index("event_type")
    truth = ev.where("value IS NOT NULL AND NOT isnan(value)").groupBy(
        "event_type"
    ).agg(
        F.count("value").alias("n"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    ).toPandas().set_index("event_type")
    for et, row in got.iterrows():
        t = truth.loc[et]
        assert row["n"] == t["n"] and row["mn"] == t["mn"] and row["mx"] == t["mx"]
        assert row["c"] == 1.0

    hll_agg(ev, ["user_id"], by=[]).createOrReplaceTempView("hll_t")
    est = spark.sql("SELECT hll_estimate(sketch) e FROM hll_t").collect()[0]["e"]
    exact = ev.select("user_id").distinct().count()
    assert abs(est - exact) / exact <= 0.05

    cms_agg(ev, ["event_type"], by=[]).createOrReplaceTempView("cms_t")
    freq = spark.sql(
        "SELECT cms_point_query(sketch, xxhash64('click')) f FROM cms_t"
    ).collect()[0]["f"]
    assert freq >= ev.where("event_type = 'click'").count()

    bloom_agg(ev, ["user_id"], by=[]).createOrReplaceTempView("blm_t")
    some_user = ev.select("user_id").first()["user_id"]
    hit = spark.sql(
        f"SELECT bloom_might_contain(sketch, xxhash64({some_user}L), "
        f"xxhash64({some_user}L, 1)) h FROM blm_t"
    ).collect()[0]["h"]
    assert hit is True

    from go_tdigest_spark.operators import fd_agg

    emb = table(spark, SF_TINY, "embeddings")
    fd_agg(emb, "embedding", 64, ell=16).createOrReplaceTempView("fd_t")
    fd_row = spark.sql(
        "SELECT fd_rows(sketch) n, fd_fnorm2(sketch) f2, "
        "fd_spectral_bound(sketch) b, fd_singular_values(sketch, 2) sv "
        "FROM fd_t"
    ).collect()[0]
    exact = emb.where("embedding IS NOT NULL").agg(
        F.count("*").alias("n"),
        F.sum(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda a, x: a + x.cast("double") * x.cast("double"),
            )
        ).alias("f2"),
    ).collect()[0]
    assert fd_row["n"] == exact["n"]
    assert abs(fd_row["f2"] - exact["f2"]) / exact["f2"] < 1e-9
    assert 0.0 <= fd_row["b"] <= fd_row["f2"] / 16 + 1e-9
    assert len(fd_row["sv"]) == 2 and fd_row["sv"][0] >= fd_row["sv"][1]


def test_probe_precision_survives_null_in_batch(spark):
    """One NULL hash in a probe batch must not corrupt the other rows:
    pandas would convert the whole int64 hash column to float64 (lossy
    above 2^53) — the Column API masks NULLs JVM-side so the kernel only
    ever sees exact int64 hashes."""
    from go_tdigest_spark.operators.sketch_agg import (
        bloom_might_contain,
        cms_point_query,
    )

    # hashes near 2^63 where float64 rounding would move bit positions
    big = [(1 << 62) + 1, (1 << 62) + 3, -((1 << 62) + 5)]
    h1 = np.array(big, dtype=np.int64)
    h2 = h1 + 7
    bf = BloomFilter(1 << 16, 5)
    bf.update_hashes(h1, h2)
    cms = CountMinSketch(5, 4096)
    cms.update_hashes(h1)

    rows = [(bf.to_bytes(), cms.to_bytes(), int(a), int(b)) for a, b in zip(h1, h2)]
    rows.append((bf.to_bytes(), cms.to_bytes(), None, None))
    df = spark.createDataFrame(rows, "bl binary, cm binary, h1 long, h2 long")
    out = df.select(
        bloom_might_contain("bl", F.col("h1"), F.col("h2")).alias("maybe"),
        cms_point_query("cm", F.col("h1")).alias("freq"),
    ).collect()
    # inserted keys MUST be found (no false negatives) despite the NULL
    # row sharing their batch
    for r in out[:3]:
        assert r["maybe"] is True
        assert r["freq"] >= 1
    assert out[3]["maybe"] is None and out[3]["freq"] is None


# ------------------------------------------------------------ Misra-Gries


def test_mg_guarantees_and_merge():
    from go_tdigest_spark.sketches import MisraGries

    rng = np.random.default_rng(5)
    heavy = np.repeat(np.arange(5), [50_000, 30_000, 20_000, 9_000, 6_000])
    tail = rng.integers(1000, 200_000, size=100_000)
    data = np.concatenate([heavy, tail])
    rng.shuffle(data)
    n = data.size
    vals, cnts = np.unique(data, return_counts=True)
    truth = dict(zip(vals.tolist(), cnts.tolist()))

    import random

    parts = np.array_split(data, 64)

    def build(order, k):
        sks = []
        for i in order:
            m = MisraGries(k)
            m.update_hashes(parts[i])
            sks.append(m)
        out = sks[0]
        for m in sks[1:]:
            out.merge(m)
        return out

    order = list(range(64))
    random.Random(3).shuffle(order)
    for mg in (build(list(range(64)), 32), build(order, 32)):
        assert mg.total == n
        assert mg.hashes.size <= 32
        for h, c in zip(mg.hashes, mg.counts):
            t = truth[int(h)]
            assert c <= t  # never overcounts
            assert c >= t - mg.err  # undercount bounded by err
        surv = {int(x) for x in mg.hashes}
        for v, t in truth.items():
            if t > mg.err:
                assert v in surv  # recall guarantee

    mg = build(list(range(64)), 32)
    r = MisraGries.from_bytes(mg.to_bytes())
    assert r.to_bytes() == mg.to_bytes() and r.total == mg.total
    with pytest.raises(ValueError):
        MisraGries.from_bytes(mg.to_bytes() + b"x")
    with pytest.raises(ValueError):
        MisraGries(32).merge(MisraGries(16))
    with pytest.raises(ValueError):
        MisraGries(4).update_hashes(
            np.array([1], dtype=np.int64), np.array([0], dtype=np.int64)
        )


def test_heavy_hitters_exact_vs_groupby(spark):
    """Sketch-driven candidates + exact verify == plain GROUP BY HAVING,
    including on a skewed distribution where MG actually prunes."""
    from go_tdigest_spark.operators import heavy_hitters

    rng = np.random.default_rng(9)
    heavy = np.repeat(np.arange(4), [4000, 2500, 1200, 700])
    tail = rng.integers(100, 20_000, size=12_000)
    data = np.concatenate([heavy, tail])
    rng.shuffle(data)
    df = spark.createDataFrame([(int(x),) for x in data], "item long")

    for phi, k in ((0.02, None), (0.05, 20)):
        got = {
            (r["item"], r["cnt"])
            for r in heavy_hitters(df, ["item"], phi=phi, k=k).collect()
        }
        thresh = int(np.ceil(phi * data.size))
        vals, cnts = np.unique(data, return_counts=True)
        want = {
            (int(v), int(c)) for v, c in zip(vals, cnts) if c >= thresh
        }
        assert got == want, (phi, k)
        assert len(want) > 0  # discriminative fixture

    # a k too small for phi voids the recall guarantee -> rejected
    with pytest.raises(ValueError, match="cannot guarantee"):
        heavy_hitters(df, ["item"], phi=0.05, k=8)
    with pytest.raises(ValueError):  # int32 wire-format bound on k
        from go_tdigest_spark.sketches import MisraGries
        MisraGries(2**31)


def test_mg_guarantees_survive_salted_tree(spark):
    """MG is not byte-deterministic across merge-tree shapes (prune
    order differs), so the salted-tree assert is the GUARANTEE, not
    equality: never overcount, undercount <= err, recall above err."""
    from go_tdigest_spark.operators.sketch_agg import merge_sketches
    from go_tdigest_spark.sketches import MisraGries

    rng = np.random.default_rng(13)
    heavy = np.repeat(np.arange(3), [30_000, 15_000, 8_000])
    tail = rng.integers(100, 50_000, size=40_000)
    data = np.concatenate([heavy, tail])
    rng.shuffle(data)
    parts = np.array_split(data, 200)
    rows = []
    for chunk in parts:
        m = MisraGries(32)
        m.update_hashes(chunk)
        rows.append((m.to_bytes(), len(chunk)))
    partials = spark.createDataFrame(
        rows, "sketch binary, n_rows long"
    ).repartition(200)

    merged = merge_sketches(partials, [], MisraGries.from_bytes, fanin=8)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    from test_spark_agg import _n_merge_levels
    assert _n_merge_levels(plan) >= 3  # >=2 salted levels
    row = merged.collect()[0]
    mg = MisraGries.from_bytes(bytes(row["sketch"]))
    assert mg.total == data.size and row["n_rows"] == data.size

    vals, cnts = np.unique(data, return_counts=True)
    truth = dict(zip(vals.tolist(), cnts.tolist()))
    for h, c in zip(mg.hashes, mg.counts):
        t = truth[int(h)]
        assert c <= t and c >= t - mg.err
    surv = {int(x) for x in mg.hashes}
    for v, t in truth.items():
        if t > mg.err:
            assert v in surv


def test_heavy_hitters_grouped(spark):
    """Per-group heavy hitters: thresholds are per-group row counts and
    results stay exact vs pandas ground truth."""
    from go_tdigest_spark.operators import heavy_hitters

    rng = np.random.default_rng(17)
    rows = []
    for g, heavy_item, n_heavy, n_tail in (
        ("a", 1, 500, 600),
        ("b", 2, 50, 2000),
    ):
        rows += [(g, heavy_item)] * n_heavy
        rows += [(g, int(x)) for x in rng.integers(100, 5000, size=n_tail)]
    df = spark.createDataFrame(rows, "g string, item long")

    got = {
        (r["g"], r["item"], r["cnt"])
        for r in heavy_hitters(df, ["item"], phi=0.1, by=["g"]).collect()
    }
    import collections

    want = set()
    per_group = collections.defaultdict(collections.Counter)
    for g, it in rows:
        per_group[g][it] += 1
    for g, ctr in per_group.items():
        n = sum(ctr.values())
        thresh = int(np.ceil(0.1 * n))
        for it, c in ctr.items():
            if c >= thresh:
                want.add((g, it, c))
    assert got == want
    assert any(g == "a" for g, _, _ in want)
    assert not any(g == "b" for g, _, _ in want)  # b's heavy item is below 10%


def test_heavy_hitters_grouped_no_forced_broadcast(spark):
    """With many groups the O(groups x k) candidate table must not be
    force-broadcast (ADVICE r2): grouped default leaves the join
    strategy to the planner, broadcast_candidates=False forbids the
    broadcast outright — and the result stays exact vs GROUP BY HAVING
    either way."""
    from go_tdigest_spark.operators import heavy_hitters

    rng = np.random.default_rng(23)
    n_groups = 200
    rows = []
    for g in range(n_groups):
        rows += [(f"g{g}", 7)] * 30  # heavy item per group
        rows += [(f"g{g}", int(x)) for x in rng.integers(100, 4000, size=60)]
    df = spark.createDataFrame(rows, "g string, item long")

    hh = heavy_hitters(df, ["item"], phi=0.25, by=["g"],
                       broadcast_candidates=False)
    got = {(r["g"], r["item"], r["cnt"]) for r in hh.collect()}
    plan = hh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan

    import collections

    per_group = collections.defaultdict(collections.Counter)
    for g, it in rows:
        per_group[g][it] += 1
    want = set()
    for g, ctr in per_group.items():
        n = sum(ctr.values())
        thresh = int(np.ceil(0.25 * n))
        for it, c in ctr.items():
            if c >= thresh:
                want.add((g, it, c))
    assert got == want and len(want) >= n_groups


def test_sql_probe_functions_null_semantics(spark):
    """ADVICE r2: SQL callers of cms_point_query / bloom_might_contain
    get true NULL-in/NULL-out semantics — a NULL-bearing BIGINT hash
    column must neither error (pandas float64 trap) nor corrupt the
    non-NULL rows' results."""
    from go_tdigest_spark.functions import register_sketch_sql_functions
    from go_tdigest_spark.operators import bloom_agg, cms_agg

    register_sketch_sql_functions(spark)
    df = spark.createDataFrame([(i % 5,) for i in range(100)], "k long")
    cms_agg(df, ["k"]).createOrReplaceTempView("cms_null_t")
    bloom_agg(df, ["k"]).createOrReplaceTempView("blm_null_t")
    spark.createDataFrame(
        [(0,), (4,), (None,)], "k long"
    ).createOrReplaceTempView("probes_null_t")

    got = spark.sql(
        """
        SELECT p.k,
               cms_point_query(sketch,
                   CASE WHEN p.k IS NULL THEN NULL ELSE xxhash64(p.k) END) f
        FROM cms_null_t, probes_null_t p
        """
    ).collect()
    by_k = {r["k"]: r["f"] for r in got}
    assert by_k[None] is None and by_k[0] == 20 and by_k[4] == 20

    assert (
        spark.sql("SELECT cms_point_query(NULL, 5L) f").collect()[0]["f"]
        is None
    )
    hits = spark.sql(
        """
        SELECT p.k,
               bloom_might_contain(sketch,
                   CASE WHEN p.k IS NULL THEN NULL ELSE xxhash64(p.k) END,
                   CASE WHEN p.k IS NULL THEN NULL
                        ELSE xxhash64(p.k, 1) END) h
        FROM blm_null_t, probes_null_t p
        """
    ).collect()
    by_k = {r["k"]: r["h"] for r in hits}
    assert by_k[None] is None and by_k[0] is True and by_k[4] is True


def test_weight_and_plane_guards(spark):
    """Loud failures instead of silent corruption: float weights on the
    CMS partials path and on MisraGries.update_hashes; n_planes beyond
    the float64-exact bit-pack range."""
    from go_tdigest_spark.operators import cms_partials
    from go_tdigest_spark.operators.ann import lsh_features, lsh_signature_col
    from go_tdigest_spark.sketches import MisraGries

    df = spark.createDataFrame([(1, 1.5), (2, 2.0)], "k long, w double")
    with pytest.raises(TypeError, match="integral"):
        cms_partials(df, ["k"], weight_col="w")

    mg = MisraGries(k=4)
    with pytest.raises(TypeError, match="integral"):
        mg.update_hashes(np.array([1, 2]), np.array([1.5, 2.0]))

    emb = spark.createDataFrame(
        [(0, [0.1] * 8)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="n_planes"):
        lsh_features(emb, "embedding", "vec_id", 54, 8)
    with pytest.raises(ValueError, match="n_planes"):
        lsh_signature_col("embedding", 64, 8)


# ------------------------------------------------------- sketch algebra


def test_hll_pair_union_and_intersection(spark):
    """Inclusion-exclusion overlap from HLL sketches vs exact set
    arithmetic on overlapping integer cohorts."""
    from go_tdigest_spark.operators import (
        hll_agg,
        hll_estimate,
        hll_intersect_estimate,
        hll_union_pair,
    )

    a_vals = [(i,) for i in range(2000)]
    b_vals = [(i,) for i in range(1000, 4000)]
    da = spark.createDataFrame(a_vals, "v long")
    db = spark.createDataFrame(b_vals, "v long")
    sa = hll_agg(da, ["v"]).select(F.col("sketch").alias("sa"))
    sb = hll_agg(db, ["v"]).select(F.col("sketch").alias("sb"))
    row = sa.crossJoin(sb).select(
        hll_estimate(hll_union_pair("sa", "sb")).alias("u"),
        hll_intersect_estimate("sa", "sb").alias("i"),
        hll_estimate(hll_union_pair("sa", F.lit(None).cast("binary"))).alias(
            "u_null"
        ),
        hll_intersect_estimate("sa", F.lit(None).cast("binary")).alias(
            "i_null"
        ),
    ).collect()[0]
    # union = 4000, intersection = 1000 exactly; HLL p=12 rel err ~1.6%,
    # intersection inherits the sum of three errors -> generous bounds
    assert abs(row["u"] - 4000) / 4000 < 0.1
    assert abs(row["i"] - 1000) / 1000 < 0.3
    assert abs(row["u_null"] - 2000) / 2000 < 0.1  # NULL union identity
    assert row["i_null"] is None  # NULL propagates for intersection


def test_bloom_pair_union_intersect(spark):
    from go_tdigest_spark.operators import (
        bloom_agg,
        bloom_intersect_pair,
        bloom_might_contain,
        bloom_union_pair,
    )
    da = spark.createDataFrame([(i,) for i in range(500)], "v long")
    db = spark.createDataFrame([(i,) for i in range(400, 900)], "v long")
    sa = bloom_agg(da, ["v"]).select(F.col("sketch").alias("sa"))
    sb = bloom_agg(db, ["v"]).select(F.col("sketch").alias("sb"))
    pair = sa.crossJoin(sb).select(
        bloom_union_pair("sa", "sb").alias("u"),
        bloom_intersect_pair("sa", "sb").alias("i"),
    )
    probes = spark.createDataFrame(
        [(450,), (10,), (880,)], "v long"
    )  # in-both, only-A, only-B
    probed = (
        probes.crossJoin(pair)
        .select(
            "v",
            bloom_might_contain(
                "u", F.xxhash64("v"), F.xxhash64("v", F.lit(1))
            ).alias("in_u"),
            bloom_might_contain(
                "i", F.xxhash64("v"), F.xxhash64("v", F.lit(1))
            ).alias("in_i"),
        )
        .collect()
    )
    got = {r["v"]: (r["in_u"], r["in_i"]) for r in probed}
    # union: no false negatives anywhere; intersect: never misses a
    # common key (one-sided guarantee — only-A/only-B may false-positive)
    assert got[450] == (True, True)
    assert got[10][0] is True and got[880][0] is True


def test_cms_pair_merge_additive(spark):
    from go_tdigest_spark.operators import (
        cms_agg,
        cms_merge_pair,
        cms_point_query,
        cms_total,
    )
    da = spark.createDataFrame([(1,)] * 30 + [(2,)] * 5, "v long")
    db = spark.createDataFrame([(1,)] * 20 + [(3,)] * 7, "v long")
    sa = cms_agg(da, "v").select(F.col("sketch").alias("sa"))
    sb = cms_agg(db, "v").select(F.col("sketch").alias("sb"))
    pair = sa.crossJoin(sb).select(cms_merge_pair("sa", "sb").alias("m"))
    row = (
        spark.createDataFrame([(1,)], "v long")
        .crossJoin(pair)
        .select(
            cms_total("m").alias("total"),
            cms_point_query("m", F.xxhash64("v")).alias("est1"),
        )
        .collect()[0]
    )
    assert row["total"] == 62  # counter-wise sum: totals exactly additive
    assert row["est1"] >= 50  # overcount-only survives the pair merge


def test_sketch_algebra_sql_callable(spark):
    """The pair ops are SQL-registered (shared module-level UDFs)."""
    from go_tdigest_spark.functions.sketch_fns import (
        register_sketch_sql_functions,
    )
    from go_tdigest_spark.operators import hll_agg

    register_sketch_sql_functions(spark)
    df = spark.createDataFrame([(i,) for i in range(100)], "v long")
    hll_agg(df, ["v"]).select(
        F.col("sketch").alias("s")
    ).createOrReplaceTempView("alg_sk")
    row = spark.sql(
        """
        SELECT hll_estimate(hll_union_pair(s, s)) AS u,
               hll_intersect_estimate(s, s) AS i,
               cms_merge_pair(CAST(NULL AS BINARY),
                              CAST(NULL AS BINARY)) AS cm
        FROM alg_sk
        """
    ).collect()[0]
    # self-union = the set itself; self-intersection = the set itself
    assert abs(row["u"] - 100) / 100 < 0.15
    assert abs(row["i"] - 100) / 100 < 0.15
    assert row["cm"] is None


def test_kll_merge_pair_algebra(spark):
    """kll_merge_pair completes the pairwise sketch algebra: merged
    count is exact (additive), tracked min/max survive (q=0/1 reads stay
    oracle-exact), the merged p50 keeps the KLL rank bound, and NULL is
    the merge identity."""
    from go_tdigest_spark.operators import (
        kll_agg,
        kll_count,
        kll_merge_pair,
        kll_quantile,
    )

    da = spark.range(0, 2000).selectExpr("CAST(id AS DOUBLE) v")
    db = spark.range(5000, 6000).selectExpr("CAST(id AS DOUBLE) v")
    sa = kll_agg(da, "v", k=200).select(F.col("sketch").alias("sa"))
    sb = kll_agg(db, "v", k=200).select(F.col("sketch").alias("sb"))
    row = sa.crossJoin(sb).select(
        kll_count(kll_merge_pair("sa", "sb")).alias("n"),
        kll_quantile(kll_merge_pair("sa", "sb"), 0.0).alias("mn"),
        kll_quantile(kll_merge_pair("sa", "sb"), 1.0).alias("mx"),
        kll_quantile(kll_merge_pair("sa", "sb"), 0.5).alias("p50"),
        kll_count(
            kll_merge_pair("sa", F.lit(None).cast("binary"))
        ).alias("n_ident"),
    ).collect()[0]
    assert row["n"] == 3000
    assert row["mn"] == 0.0 and row["mx"] == 5999.0
    # merged distribution: 2000 values in [0,2000) + 1000 in [5000,6000);
    # exact p50 rank sits at value ~1500; KLL k=200 rank error ~1.5%
    # of 3000 -> +-45 ranks -> value within [1455, 1545] generously
    assert 1400 <= row["p50"] <= 1600
    assert row["n_ident"] == 2000  # NULL identity keeps the left sketch

    # SQL registration twin
    from go_tdigest_spark.functions import register_sketch_sql_functions

    register_sketch_sql_functions(spark)
    sa.crossJoin(sb).createOrReplaceTempView("kll_pair_t")
    got = spark.sql(
        "SELECT kll_count(kll_merge_pair(sa, sb)) AS n FROM kll_pair_t"
    ).collect()[0]["n"]
    assert got == 3000


# -------------------------------------------------- frequent directions


def test_fd_kernel_bound_and_exactness():
    """FD guarantee: 0 <= x'(A'A - B'B)x <= shrink_total <= ||A||F^2/ell
    for every x; exact (no shrink) while the buffer holds; n_rows and
    fnorm2 exact; serde byte-roundtrip; loud guards."""
    from go_tdigest_spark.sketches import FrequentDirections

    rng = np.random.default_rng(11)
    A = rng.normal(size=(3000, 24)) @ np.diag([12, 9, 7, 4, 3] + [1] * 19)
    fd = FrequentDirections(10, 24)
    fd.update(A)
    G = A.T @ A
    eigs = np.linalg.eigvalsh(G - fd.cov())
    assert eigs.min() > -1e-6  # never overestimates
    assert eigs.max() <= fd.shrink_total + 1e-6  # certified bound
    assert fd.shrink_total <= fd.fnorm2 / 10 + 1e-9  # paper bound
    assert fd.n_rows == 3000
    assert abs(fd.fnorm2 - (A * A).sum()) < 1e-5
    assert fd.rows.shape[0] <= 2 * 10 and fd.rows.shape[1] == 24
    # top singular values bracket the truth
    true_s = np.linalg.svd(A, compute_uv=False)
    est_s = fd.singular_values(3)
    for t, e in zip(true_s, est_s):
        assert e <= t + 1e-6
        assert e**2 >= t**2 - fd.shrink_total - 1e-6

    # exact while small (buffer below 2*ell: no shrink ever applied)
    small = FrequentDirections(10, 24)
    small.update(A[:12])
    assert small.shrink_total == 0.0
    assert np.allclose(small.cov(), A[:12].T @ A[:12])

    # serde
    b = fd.to_bytes()
    back = FrequentDirections.from_bytes(b)
    assert back.to_bytes() == b and back.n_rows == fd.n_rows
    with pytest.raises(ValueError, match="not a FrequentDirections"):
        FrequentDirections.from_bytes(b"XXXX" + b[4:])
    with pytest.raises(ValueError, match="trailing"):
        FrequentDirections.from_bytes(b + b"\x00")

    # guards
    with pytest.raises(ValueError, match="ell"):
        FrequentDirections(1, 4)
    with pytest.raises(ValueError, match="expected"):
        FrequentDirections(4, 4).update(np.zeros((3, 5)))
    with pytest.raises(ValueError, match="non-finite"):
        FrequentDirections(4, 2).update(np.array([[1.0, np.nan]]))
    with pytest.raises(ValueError, match="different ell"):
        FrequentDirections(4, 2).merge(FrequentDirections(8, 2))


def test_fd_merge_any_order_keeps_bound():
    """Mergeability (Ghashami et al. SS3): chunked + permuted merge
    orders all keep the certified bound and the exact sums."""
    from go_tdigest_spark.sketches import FrequentDirections

    rng = np.random.default_rng(23)
    A = rng.normal(size=(1500, 16)) * np.linspace(5, 0.5, 16)
    G = A.T @ A
    parts = np.array_split(A, 9)
    import random

    for seed in (0, 1, 2):
        order = list(range(9))
        random.Random(seed).shuffle(order)
        m = FrequentDirections(8, 16)
        for i in order:
            p = FrequentDirections(8, 16)
            p.update(parts[i])
            m.merge(p)
        assert m.n_rows == 1500
        assert abs(m.fnorm2 - (A * A).sum()) < 1e-5
        eigs = np.linalg.eigvalsh(G - m.cov())
        assert eigs.min() > -1e-6
        assert eigs.max() <= m.shrink_total + 1e-6
        assert m.shrink_total <= m.fnorm2 / 8 + 1e-9


def test_fd_spark_agg_embeddings(spark):
    """fd_agg over the embeddings fixture: exact companions (fd_rows,
    fd_fnorm2) match SQL; the merged sketch's certified bound holds
    against the exact Gram matrix; grouped and global forms; tree merge
    (small fanin) preserves everything."""
    from go_tdigest_spark.operators import (
        fd_agg,
        fd_fnorm2,
        fd_rows,
        fd_singular_values,
        fd_spectral_bound,
    )
    from go_tdigest_spark.sketches import FrequentDirections

    emb = table(spark, SF_TINY, "embeddings")
    rowsd = emb.select("label", "embedding").collect()
    import collections

    by_label = collections.defaultdict(list)
    for r in rowsd:
        by_label[r["label"]].append(r["embedding"])

    # global, forced multi-level tree
    agg = fd_agg(emb.repartition(8), "embedding", 64, ell=16, fanin=2)
    out = agg.select(
        fd_rows("sketch").alias("n"),
        fd_fnorm2("sketch").alias("f2"),
        fd_spectral_bound("sketch").alias("bound"),
        fd_singular_values("sketch", 3).alias("sv"),
    ).collect()
    assert len(out) == 1
    allvecs = np.array(
        [v for vs in by_label.values() for v in vs], dtype=np.float64
    )
    assert out[0]["n"] == allvecs.shape[0]
    assert np.isclose(out[0]["f2"], (allvecs * allvecs).sum(), rtol=1e-9)
    G = allvecs.T @ allvecs
    # reconstruct the sketch to check the matrix-level bound
    sk = FrequentDirections.from_bytes(
        bytes(agg.select("sketch").collect()[0]["sketch"])
    )
    eigs = np.linalg.eigvalsh(G - sk.cov())
    assert eigs.min() > -1e-6
    assert eigs.max() <= out[0]["bound"] + 1e-6
    assert out[0]["bound"] <= out[0]["f2"] / 16 + 1e-9
    assert len(out[0]["sv"]) == 3

    # grouped by label
    got = {
        r["label"]: r
        for r in fd_agg(emb, "embedding", 64, by=["label"], ell=16)
        .select(
            "label",
            fd_rows("sketch").alias("n"),
            fd_fnorm2("sketch").alias("f2"),
            "sketch",
        )
        .collect()
    }
    assert set(got) == set(by_label)
    for lbl, vecs in by_label.items():
        M = np.asarray(vecs, dtype=np.float64)
        assert got[lbl]["n"] == M.shape[0]
        assert np.isclose(got[lbl]["f2"], (M * M).sum(), rtol=1e-9)
        s = FrequentDirections.from_bytes(bytes(got[lbl]["sketch"]))
        e = np.linalg.eigvalsh(M.T @ M - s.cov())
        assert e.min() > -1e-6 and e.max() <= s.shrink_total + 1e-6


# ---------------------------------------------------------- Theta/KMV


def _theta_hashes(rng, n):
    # full-range uint64 viewed as int64 — the shape xxhash64 delivers
    return rng.integers(0, 2**64, size=n, dtype=np.uint64).view(np.int64)


def test_theta_kernel_exact_estimate_serde():
    from go_tdigest_spark.sketches import ThetaSketch

    rng = np.random.default_rng(11)
    # exact mode below k
    small = _theta_hashes(rng, 1000)
    sk = ThetaSketch(k=4096)
    sk.update_hashes(small)
    assert sk.is_exact()
    assert sk.estimate() == len(np.unique(small))
    assert sk.rse_bound() == 0.0
    # sampling mode: estimate within 3*RSE of the true distinct count
    big = _theta_hashes(rng, 300_000)
    sk2 = ThetaSketch(k=2048)
    for i in range(0, len(big), 7331):
        sk2.update_hashes(big[i : i + 7331])
    true = len(np.unique(big))
    rel = abs(sk2.estimate() - true) / true
    assert rel < sk2.rse_bound(3.0), (rel, sk2.rse_bound(3.0))
    assert sk2.n_retained() == 2048
    # serde round-trip is bitwise
    rt = ThetaSketch.from_bytes(sk2.to_bytes())
    assert rt.to_bytes() == sk2.to_bytes()
    assert rt.estimate() == sk2.estimate()
    with pytest.raises(ValueError):
        ThetaSketch(k=8)
    with pytest.raises(ValueError):
        ThetaSketch.from_bytes(b"XXXX" + b"\x00" * 20)


def test_theta_merge_any_order_bitwise():
    """Union is associative AND order-insensitive in its BYTES (unlike
    KLL/MG): any merge tree over the same partials yields the identical
    sketch — the property that makes tree depth irrelevant."""
    import random

    from go_tdigest_spark.sketches import ThetaSketch

    rng = np.random.default_rng(5)
    parts = []
    for _ in range(17):
        p = ThetaSketch(k=512)
        p.update_hashes(_theta_hashes(rng, 9000))
        parts.append(p.to_bytes())

    def chain(bufs):
        acc = ThetaSketch(k=512)
        for b in bufs:
            acc.merge(ThetaSketch.from_bytes(b))
        return acc.to_bytes()

    want = chain(parts)
    for seed in (1, 2, 3):
        random.seed(seed)
        sh = parts[:]
        random.shuffle(sh)
        assert chain(sh) == want


def test_theta_set_algebra_kernel():
    from go_tdigest_spark.sketches import ThetaSketch

    rng = np.random.default_rng(23)
    universe = _theta_hashes(rng, 250_000)
    a_vals, b_vals = universe[:150_000], universe[100_000:]
    A = ThetaSketch(4096)
    A.update_hashes(a_vals)
    B = ThetaSketch(4096)
    B.update_hashes(b_vals)
    au, bu = np.unique(a_vals), np.unique(b_vals)
    cases = [
        (ThetaSketch.from_bytes(A.to_bytes()).merge(B), len(np.union1d(au, bu))),
        (A.intersect(B), len(np.intersect1d(au, bu))),
        (A.a_not_b(B), len(np.setdiff1d(au, bu))),
        (B.a_not_b(A), len(np.setdiff1d(bu, au))),
    ]
    for sk, true in cases:
        rel = abs(sk.estimate() - true) / true
        assert rel < sk.rse_bound(3.0), (rel, sk.rse_bound(3.0), true)
    # empty intersection of disjoint cohorts estimates ~0 with few hits
    C = ThetaSketch(4096)
    C.update_hashes(_theta_hashes(rng, 50_000))
    D = ThetaSketch(4096)
    D.update_hashes(_theta_hashes(rng, 50_000))
    assert C.intersect(D).n_retained() <= 2  # collisions only


def test_theta_agg_spark_exact_and_sampling(spark):
    from go_tdigest_spark.operators import theta_agg, theta_estimate

    ev = table(spark, SF_TINY, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    # k large enough to stay exact at this SF: estimates are EXACT
    res = (
        theta_agg(ev, ["user_id"], by=["event_type"], k=4096)
        .select("event_type", theta_estimate("sketch").alias("est"))
        .toPandas()
    )
    for _, row in res.iterrows():
        assert row["est"] == exact[row["event_type"]]
    # small k forces sampling through the salted tree; bound still holds
    from go_tdigest_spark.operators import theta_rse_bound

    res2 = (
        theta_agg(ev, ["user_id"], by=["event_type"], k=64, fanin=2)
        .select(
            "event_type",
            theta_estimate("sketch").alias("est"),
            theta_rse_bound("sketch", 4.0).alias("bound"),
        )
        .toPandas()
    )
    for _, row in res2.iterrows():
        want = exact[row["event_type"]]
        # <=: a group with fewer distincts than k stays exact (bound 0)
        assert abs(row["est"] - want) / want <= row["bound"]


def test_theta_pair_algebra_spark(spark):
    from go_tdigest_spark.operators import (
        theta_a_not_b_pair,
        theta_agg,
        theta_estimate,
        theta_intersect_pair,
        theta_n_retained,
        theta_union_pair,
    )

    da = spark.createDataFrame([(i,) for i in range(2000)], "v long")
    db = spark.createDataFrame([(i,) for i in range(1000, 4000)], "v long")
    sa = theta_agg(da, ["v"]).select(F.col("sketch").alias("sa"))
    sb = theta_agg(db, ["v"]).select(F.col("sketch").alias("sb"))
    row = (
        sa.crossJoin(sb)
        .select(
            theta_estimate(theta_union_pair("sa", "sb")).alias("u"),
            theta_estimate(theta_intersect_pair("sa", "sb")).alias("i"),
            theta_estimate(theta_a_not_b_pair("sa", "sb")).alias("d"),
            theta_n_retained("sa").alias("ra"),
            theta_estimate(
                theta_union_pair("sa", F.lit(None).cast("binary"))
            ).alias("u_null"),
            theta_estimate(
                theta_intersect_pair("sa", F.lit(None).cast("binary"))
            ).alias("i_null"),
        )
        .collect()[0]
    )
    # both cohorts below k=4096 -> EXACT set algebra, no error at all
    assert row["u"] == 4000.0
    assert row["i"] == 1000.0
    assert row["d"] == 1000.0
    assert row["ra"] == 2000
    assert row["u_null"] == 2000.0  # NULL is the union identity
    assert row["i_null"] is None  # NULL propagates through intersection


def test_theta_sql_callable(spark):
    from go_tdigest_spark.functions import register_sketch_sql_functions
    from go_tdigest_spark.operators import theta_agg

    register_sketch_sql_functions(spark)
    ev = table(spark, SF_TINY, "events")
    theta_agg(ev, ["user_id"], by=["event_type"], k=256).createOrReplaceTempView(
        "theta_ev"
    )
    out = spark.sql(
        """
        SELECT a.event_type AS ta, b.event_type AS tb,
               theta_estimate(theta_intersect_pair(a.sketch, b.sketch)) AS i,
               theta_estimate(theta_union_pair(a.sketch, b.sketch)) AS u,
               theta_rse_bound(theta_intersect_pair(a.sketch, b.sketch), 4.0)
                   AS bound_i,
               theta_n_retained(a.sketch) AS ra
        FROM theta_ev a JOIN theta_ev b ON a.event_type < b.event_type
        """
    ).toPandas()
    assert len(out) > 0
    ev_pd = ev.select("event_type", "user_id").toPandas()
    by_type = {
        t: set(g["user_id"].dropna()) for t, g in ev_pd.groupby("event_type")
    }
    for _, r in out.iterrows():
        ti = len(by_type[r["ta"]] & by_type[r["tb"]])
        tu = len(by_type[r["ta"]] | by_type[r["tb"]])
        assert abs(r["u"] - tu) / tu < 0.5  # k=256: loose sanity
        if ti and np.isfinite(r["bound_i"]) and r["bound_i"] is not None:
            assert abs(r["i"] - ti) / ti < max(float(r["bound_i"]), 0.5)


def test_fd_dim_smaller_than_ell_stays_bounded_and_exact():
    """dim < ell (the constructor default, and fd_agg(ell=64) on
    32-dim embeddings): the shrink step must still COMPRESS the buffer
    (lossless rank-<=dim rewrite) instead of growing it O(n).  In this
    regime the Gram estimate is EXACT (no shrinkage ever applied)."""
    from go_tdigest_spark.sketches import FrequentDirections

    rng = np.random.default_rng(23)
    A = rng.normal(size=(5000, 3))
    fd = FrequentDirections(ell=8, dim=3)
    fd.update(A)
    # bounded buffer: at most dim compressed rows + (2*ell - 1) pending
    assert fd.rows.shape[0] < 2 * 8 + 3, fd.rows.shape
    assert fd.shrink_total == 0.0  # never lossy when dim < ell
    assert np.allclose(fd.cov(), A.T @ A, rtol=1e-9, atol=1e-6)
    assert fd.n_rows == 5000

    # merge path hits the same branch
    other = FrequentDirections(ell=8, dim=3)
    B = rng.normal(size=(3000, 3))
    other.update(B)
    fd.merge(other)
    assert fd.rows.shape[0] < 2 * 8 + 3
    assert np.allclose(fd.cov(), A.T @ A + B.T @ B, rtol=1e-9, atol=1e-6)

    # serde of the compressed form round-trips
    back = FrequentDirections.from_bytes(fd.to_bytes())
    assert np.allclose(back.cov(), fd.cov())


def test_theta_from_bytes_validation():
    """Structural validation: truncated / trailing-garbage / internally
    inconsistent payloads fail loudly (same posture as the FD sibling —
    a corrupted checkpoint read must never deserialize silently)."""
    import struct as _struct

    from go_tdigest_spark.sketches import ThetaSketch

    t = ThetaSketch(16)
    t.update_hashes(np.arange(1, 40, dtype=np.int64))
    b = t.to_bytes()
    assert ThetaSketch.from_bytes(b).to_bytes() == b

    with pytest.raises(ValueError, match="payload length"):
        ThetaSketch.from_bytes(b + b"\x00")
    with pytest.raises(ValueError, match="payload length"):
        ThetaSketch.from_bytes(b[:-1])
    with pytest.raises(ValueError, match="not a ThetaSketch"):
        ThetaSketch.from_bytes(b"XXXX" + b[4:])
    # n > k is structurally impossible from to_bytes; forge one
    sat, k, th, n = _struct.unpack_from("<BIQI", b, 4)
    forged = (
        b[:4] + _struct.pack("<BIQI", sat, 16, th, 17) + b"\x00" * (8 * 17)
    )
    with pytest.raises(ValueError, match="retains"):
        ThetaSketch.from_bytes(forged)
    # saturated with theta=0 is inconsistent
    forged2 = b[:4] + _struct.pack("<BIQI", 1, 16, 0, 0)
    with pytest.raises(ValueError, match="theta=0"):
        ThetaSketch.from_bytes(forged2)


def test_cms_seed_in_wire_format_and_merge_guard():
    """A non-default-seed CMS must round-trip with its own hash rows
    (the v1 format dropped the seed: rehydrating against the default
    probed wrong columns and could UNDERcount), and merging sketches
    hashed with different seeds must raise."""
    from go_tdigest_spark.sketches import CountMinSketch

    h = np.arange(1, 2000, dtype=np.int64)
    c7 = CountMinSketch(4, 256, seed=7)
    c7.update_hashes(h)
    back = CountMinSketch.from_bytes(c7.to_bytes())
    assert back.seed == 7
    assert (back.point_query_hashes(h) == c7.point_query_hashes(h)).all()
    # overcount-only invariant survives the round-trip
    assert (back.point_query_hashes(h) >= 1).all()

    c9 = CountMinSketch(4, 256, seed=9)
    c9.update_hashes(h)
    with pytest.raises(ValueError, match="config mismatch"):
        c9.merge(c7)
    with pytest.raises(ValueError, match="payload length"):
        CountMinSketch.from_bytes(c7.to_bytes() + b"\x00")


_NULL_CASES = ("null_sketch", "null_arg", "empty", "empty_null_arg")
_NA = "n/a"  # the read takes no argument: its NULL-argument rows read normally


def _null_table():
    """One row per public read: (read, SQL expression or None, Column-API
    expression, does the Column API take the argument as a Column,
    expected value per _NULL_CASES).  Pair reads take the second sketch
    as their argument.  "x" / "empty" stand for bytes equal to the
    non-empty / empty input sketch."""
    from go_tdigest_spark.functions import tdigest_fns as T
    from go_tdigest_spark.operators import sketch_agg as S

    h = F.col("h")
    n4, merged, meet = (None,) * 4, ("x", "x", "empty", "empty"), (None, None, "empty", None)
    return [
        ("td_quantile", "td_quantile(td, q)", lambda: T.td_quantile("td", 0.5), False, n4),
        ("td_quantile[list]", None, lambda: T.td_quantile("td", [0.0, 0.5]), False,
         (None, _NA, [None, None], _NA)),
        ("td_quantile_col", "td_quantile(td, q)", lambda: T.td_quantile_col("td", F.col("q")), True, n4),
        ("td_cdf", "td_cdf(td, x)", lambda: T.td_cdf("td", 4.5), False, n4),
        ("td_cdf[list]", None, lambda: T.td_cdf("td", [4.5]), False, (None, _NA, [None], _NA)),
        ("td_cdf_col", "td_cdf(td, x)", lambda: T.td_cdf_col("td", F.col("x")), True, n4),
        ("td_trimmed_mean", "td_trimmed_mean(td, p1, p2)",
         lambda: T.td_trimmed_mean("td", 0.1, 0.9), False, (None, None, 0.0, None)),
        ("td_count", "td_count(td)", lambda: T.td_count("td"), True, (None, _NA, 0, _NA)),
        ("td_ncentroids", None, lambda: T.td_ncentroids("td"), True, (None, _NA, 0, _NA)),
        ("td_centroids", None, lambda: T.td_centroids("td"), True, (None, _NA, [], _NA)),
        ("td_to_ref_bytes", None, lambda: T.td_to_ref_bytes("td"), True, (None, _NA, "empty", _NA)),
        ("td_from_ref_bytes", None, lambda: T.td_from_ref_bytes("ref"), True,
         (None, _NA, "empty", _NA)),
        ("td_merge_pair", "td_merge_pair(td, td_b)", lambda: T.td_merge_pair("td", "td_b"), True, merged),
        ("td_ks_distance", "td_ks_distance(td, td_b)", lambda: T.td_ks_distance("td", "td_b"), True, n4),
        ("kll_quantile", "kll_quantile(kll, q)", lambda: S.kll_quantile("kll", 0.5), False, n4),
        ("kll_cdf", "kll_cdf(kll, x)", lambda: S.kll_cdf("kll", 4.5), False, n4),
        ("kll_count", "kll_count(kll)", lambda: S.kll_count("kll"), True, (None, _NA, 0, _NA)),
        ("kll_merge_pair", "kll_merge_pair(kll, kll_b)", lambda: S.kll_merge_pair("kll", "kll_b"), True, merged),
        ("hll_estimate", "hll_estimate(hll)", lambda: S.hll_estimate("hll"), True, (None, _NA, 0.0, _NA)),
        ("hll_union_pair", "hll_union_pair(hll, hll_b)", lambda: S.hll_union_pair("hll", "hll_b"), True, merged),
        ("hll_intersect_estimate", "hll_intersect_estimate(hll, hll_b)",
         lambda: S.hll_intersect_estimate("hll", "hll_b"), True, (None, None, 0.0, None)),
        ("bloom_might_contain", "bloom_might_contain(bloom, h, h + 1)",
         lambda: S.bloom_might_contain("bloom", h, h + 1), True, (None, None, False, None)),
        ("bloom_union_pair", "bloom_union_pair(bloom, bloom_b)",
         lambda: S.bloom_union_pair("bloom", "bloom_b"), True, merged),
        ("bloom_intersect_pair", "bloom_intersect_pair(bloom, bloom_b)",
         lambda: S.bloom_intersect_pair("bloom", "bloom_b"), True, meet),
        ("cms_point_query", "cms_point_query(cms, h)", lambda: S.cms_point_query("cms", h), True,
         (None, None, 0, None)),
        ("cms_total", "cms_total(cms)", lambda: S.cms_total("cms"), True, (None, _NA, 0, _NA)),
        ("cms_merge_pair", "cms_merge_pair(cms, cms_b)", lambda: S.cms_merge_pair("cms", "cms_b"), True, merged),
        ("fd_rows", "fd_rows(fd)", lambda: S.fd_rows("fd"), True, (None, _NA, 0, _NA)),
        ("fd_fnorm2", "fd_fnorm2(fd)", lambda: S.fd_fnorm2("fd"), True, (None, _NA, 0.0, _NA)),
        ("fd_spectral_bound", "fd_spectral_bound(fd)", lambda: S.fd_spectral_bound("fd"), True,
         (None, _NA, 0.0, _NA)),
        ("fd_singular_values", "fd_singular_values(fd, k)", lambda: S.fd_singular_values("fd", 2), False,
         (None, None, [], None)),
        ("theta_estimate", "theta_estimate(theta)", lambda: S.theta_estimate("theta"), True,
         (None, _NA, 0.0, _NA)),
        ("theta_n_retained", "theta_n_retained(theta)", lambda: S.theta_n_retained("theta"), True,
         (None, _NA, 0, _NA)),
        ("theta_rse_bound", "theta_rse_bound(theta, n_std)", lambda: S.theta_rse_bound("theta", 3.0), False,
         (None, None, 0.0, None)),
        ("theta_union_pair", "theta_union_pair(theta, theta_b)",
         lambda: S.theta_union_pair("theta", "theta_b"), True, merged),
        ("theta_intersect_pair", "theta_intersect_pair(theta, theta_b)",
         lambda: S.theta_intersect_pair("theta", "theta_b"), True, meet),
        ("theta_a_not_b_pair", "theta_a_not_b_pair(theta, theta_b)",
         lambda: S.theta_a_not_b_pair("theta", "theta_b"), True, meet),
    ]


def _null_frame(spark):
    """Rows "value" + _NULL_CASES over one non-empty (10 values) and one
    empty sketch per family; returns (frame, non-empty bytes, empty bytes)."""
    from go_tdigest_spark import TDigest, serde
    from go_tdigest_spark.sketches import KLL, FrequentDirections, ThetaSketch

    v = np.arange(10, dtype=np.float64)
    h = np.arange(1, 11, dtype=np.int64) * 0x9E3779B97F4A7C15 % (1 << 62)
    makers = {
        "td": (TDigest, lambda s: s.add_batch(v)),
        "kll": (KLL, lambda s: s.update(v)),
        "hll": (lambda: HLL(10), lambda s: s.update_hashes(h)),
        "cms": (lambda: CountMinSketch(3, 64), lambda s: s.update_hashes(h)),
        "bloom": (lambda: BloomFilter(1024, 3), lambda s: s.update_hashes(h, h + 1)),
        "fd": (lambda: FrequentDirections(4, 2), lambda s: s.update(np.c_[v, np.ones(10)])),
        "theta": (lambda: ThetaSketch(64), lambda s: s.update_hashes(h)),
    }
    full, empty = {}, {}
    for fam, (new, update) in makers.items():
        sk = new()
        empty[fam] = serde.encode(sk) if fam == "td" else sk.to_bytes()
        update(sk)
        full[fam] = serde.encode(sk) if fam == "td" else sk.to_bytes()
    full["ref"] = serde.to_ref_bytes(serde.decode(full["td"]))
    empty["ref"] = serde.to_ref_bytes(TDigest())
    fams = list(full)
    rows = []
    for case in ("value",) + _NULL_CASES:
        a = {"null_sketch": None, "empty": empty, "empty_null_arg": empty}.get(case, full)
        b = {"null_arg": None, "empty": empty, "empty_null_arg": None}.get(case, full)
        args = (None,) * 7 if case.endswith("null_arg") else (0.5, 4.5, 0.1, 0.9, 2, 3.0, int(h[0]))
        rows.append((case, *[a and a[f] for f in fams], *[b and b[f] for f in fams], *args))
    schema = ", ".join(
        ["case string"] + [f"{f} binary" for f in fams] + [f"{f}_b binary" for f in fams]
        + ["q double", "x double", "p1 double", "p2 double", "k int", "n_std double", "h bigint"]
    )
    return spark.createDataFrame(rows, schema), full, empty


def test_sketch_read_udfs_null_args(spark):
    """The NULL contract of every public read, through the Column API and
    its SQL name: a NULL sketch or a NULL argument reads NULL (a SQL NULL
    number arrives as NaN in pandas), the pair merges treat NULL as the
    identity, and an empty sketch reads its documented value.  The two
    surfaces return the same row wherever they see the same arguments."""
    from go_tdigest_spark.functions import (
        register_sketch_sql_functions,
        register_sql_functions,
    )
    from go_tdigest_spark.operators.sketch_agg import fd_agg, theta_agg

    register_sql_functions(spark)
    register_sketch_sql_functions(spark)
    # the first two cases: sketches from the Spark aggregations, SQL NULL args
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], "id long, v array<double>"
    )
    fd = fd_agg(emb, "v", dim=2, ell=4).select("sketch")
    fd.createOrReplaceTempView("_fd_null_t")
    ev = spark.createDataFrame([(i,) for i in range(50)], "u long")
    th = theta_agg(ev, ["u"], k=64).select("sketch")
    th.createOrReplaceTempView("_th_null_t")
    r = spark.sql(
        "select fd_singular_values(sketch, CAST(NULL AS INT)) as sv "
        "from _fd_null_t"
    ).collect()
    assert r[0]["sv"] is None
    r2 = spark.sql(
        "select theta_rse_bound(sketch, CAST(NULL AS DOUBLE)) as b "
        "from _th_null_t"
    ).collect()
    assert r2[0]["b"] is None

    df, full, empty = _null_frame(spark)
    df.createOrReplaceTempView("_null_reads")
    table = _null_table()
    api = {
        r["case"]: r
        for r in df.select("case", *[c().alias(f"c{i}") for i, (_, _, c, _, _) in enumerate(table)]).collect()
    }
    sql_cols = ", ".join(f"{e} AS s{i}" for i, (_, e, _, _, _) in enumerate(table) if e)
    sql = {r["case"]: r for r in spark.sql(f"select `case`, {sql_cols} from _null_reads").collect()}

    def tag(v):
        if isinstance(v, (bytes, bytearray)):
            return "x" if bytes(v) in full.values() else "empty" if bytes(v) in empty.values() else v
        if isinstance(v, list):
            return [tag(e) for e in v]
        return v

    bad = []
    for i, (read, expr, _, arg_col, want) in enumerate(table):
        for case in ("value",) + _NULL_CASES:
            got_api = api[case][f"c{i}"]
            got = sql[case][f"s{i}"] if expr else got_api
            if expr and (arg_col or not case.endswith("null_arg")) and got_api != got:
                bad.append(f"{read}/{case}: Column API {got_api!r} != SQL {got!r}")
            exp = dict(zip(_NULL_CASES, want)).get(case, _NA)
            if exp != _NA and tag(got) != exp:
                bad.append(f"{read}/{case}: {tag(got)!r}, expected {exp!r}")
    assert not bad, "\n".join(bad)


def test_out_of_range_read_args_raise_early(spark):
    """A q outside [0, 1] (or trimmed-mean bounds out of order) fails
    when the Column is built, before any action; SQL literals reach the
    kernel, which raises the same error instead of clamping."""
    from go_tdigest_spark.functions import register_sketch_sql_functions, td_quantile, td_trimmed_mean
    from go_tdigest_spark.operators.sketch_agg import kll_quantile
    from go_tdigest_spark.sketches import KLL

    bad_calls = [
        lambda: td_quantile("digest", 1.5),
        lambda: td_quantile("digest", float("nan")),
        lambda: td_quantile("digest", [0.5, -0.1]),
        lambda: kll_quantile("sketch", 1.5),
        lambda: td_trimmed_mean("digest", 0.9, 0.1),
        lambda: td_trimmed_mean("digest", -0.1, 0.5),
        lambda: td_trimmed_mean("digest", 0.1, 1.5),
    ]
    for call in bad_calls:
        with pytest.raises(ValueError):
            call()
    kll = KLL(200)
    kll.update(np.arange(10, dtype=np.float64))
    with pytest.raises(ValueError, match="between 0 and 1"):
        kll.quantile(1.5)
    register_sketch_sql_functions(spark)
    spark.createDataFrame([(kll.to_bytes(),)], "sketch binary").createOrReplaceTempView("_kll_q_range")
    with pytest.raises(Exception, match="between 0 and 1"):
        spark.sql("select kll_quantile(sketch, 1.5) from _kll_q_range").collect()
