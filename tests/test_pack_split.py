"""Sequence packing (operators/pack.py) and named splits
(sample_split): determinism, window/range path equality, hand-computed
assignments."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_tdigest_spark.operators.pack import pack_chunks
from go_tdigest_spark.operators.sample import sample_split


# --------------------------------------------------------------- packing


def _corpus(spark, n=100, sources=("a", "b", "c")):
    rows = [
        (f"d{i:04d}", sources[i % len(sources)], (i * 37) % 911 + 1)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["doc_id", "source", "n_tok"])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_hand_computed_single_group(spark):
    df = spark.createDataFrame(
        [("d1", 3), ("d2", 5), ("d3", 4)], ["doc_id", "n_tok"]
    )
    got = {
        r["doc_id"]: (
            r["start_pos"], r["end_pos"], r["bin_id"], r["bin_offset"],
            r["n_bins"],
        )
        for r in pack_chunks(df, "n_tok", "doc_id", capacity=4).collect()
    }
    # stream: d1[0..3) d2[3..8) d3[8..12); windows of 4
    assert got["d1"] == (0, 3, 0, 0, 1)
    assert got["d2"] == (3, 8, 0, 3, 2)  # straddles windows 0 and 1
    assert got["d3"] == (8, 12, 2, 0, 1)


def test_exact_boundary_doc(spark):
    # a doc ending exactly on a window boundary spans only its window
    df = spark.createDataFrame([("d1", 4), ("d2", 4)], ["doc_id", "n_tok"])
    got = {
        r["doc_id"]: (r["bin_id"], r["n_bins"])
        for r in pack_chunks(df, "n_tok", "doc_id", capacity=4).collect()
    }
    assert got == {"d1": (0, 1), "d2": (1, 1)}


@pytest.mark.parametrize("nparts", [1, 3, 16])
def test_range_path_equals_window_path(spark, nparts):
    df = _corpus(spark)
    w = pack_chunks(df, "n_tok", "doc_id", 512, by=["source"], method="window")
    r = pack_chunks(
        df, "n_tok", "doc_id", 512, by=["source"], method="range",
        num_partitions=nparts,
    )
    assert _rows(w) == _rows(r)
    spark.catalog.clearCache()  # library persist in the range path


def test_range_path_carry_across_batches(spark):
    # force multi-batch partitions so the generator's carry state and
    # the per-(partition, group) base offsets both engage
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = _corpus(spark, n=200)
        w = pack_chunks(df, "n_tok", "doc_id", 256, by=["source"])
        r = pack_chunks(
            df, "n_tok", "doc_id", 256, by=["source"], method="range",
            num_partitions=4,
        )
        assert _rows(w) == _rows(r)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.catalog.clearCache()


def test_global_stream_no_groups(spark):
    df = _corpus(spark, n=60)
    w = pack_chunks(df, "n_tok", "doc_id", 128)
    r = pack_chunks(df, "n_tok", "doc_id", 128, method="range",
                    num_partitions=5)
    assert _rows(w) == _rows(r)
    total = df.agg(F.sum("n_tok")).collect()[0][0]
    assert w.agg(F.max("end_pos")).collect()[0][0] == total
    spark.catalog.clearCache()


def test_pack_validation(spark):
    df = _corpus(spark, n=5)
    with pytest.raises(ValueError, match="capacity"):
        pack_chunks(df, "n_tok", "doc_id", 0)
    with pytest.raises(ValueError, match="method"):
        pack_chunks(df, "n_tok", "doc_id", 4, method="sorted")
    with pytest.raises(ValueError, match="not in DataFrame"):
        pack_chunks(df, "missing", "doc_id", 4)
    with pytest.raises(ValueError, match="reserved"):
        pack_chunks(df.withColumn("bin_id", F.lit(1)), "n_tok", "doc_id", 4)


def test_nonpositive_size_raises_on_range_path(spark):
    df = spark.createDataFrame([("d1", 3), ("d2", 0)], ["doc_id", "n_tok"])
    with pytest.raises(Exception, match="must be positive"):
        pack_chunks(
            df, "n_tok", "doc_id", 4, method="range", num_partitions=1
        ).collect()
    # a NULL size fails phase 1 on the driver: no action on the result
    nulls = spark.createDataFrame(
        [("d1", 3), ("d2", None)], "doc_id string, n_tok int"
    )
    with pytest.raises(ValueError, match="must not contain NULLs"):
        pack_chunks(
            nulls, "n_tok", "doc_id", 4, method="range", num_partitions=1
        )
    # so does a negative size, even when the result's consumer reads no
    # column that carries the JVM check (end_pos, n_bins)
    neg = spark.createDataFrame(
        [("d1", 3), ("d2", -2), ("d3", 4)], ["doc_id", "n_tok"]
    )
    with pytest.raises(ValueError, match="must not contain negative"):
        pack_chunks(
            neg, "n_tok", "doc_id", 4, method="range", num_partitions=1
        ).select("doc_id", "bin_id").collect()
    spark.catalog.clearCache()


# ---------------------------------------------------------------- splits


def test_split_partitions_every_row_once(spark):
    df = _corpus(spark, n=200)
    s = sample_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert s.count() == 200
    assert s.where(F.col("split").isNull()).count() == 0
    names = {r["split"] for r in s.select("split").distinct().collect()}
    assert names <= {"train", "val", "test"}
    # seeded hash: ~80/10/10 within loose tolerance on 200 keys
    n_train = s.where("split = 'train'").count()
    assert 120 <= n_train <= 195


def test_split_deterministic_and_seed_sensitive(spark):
    df = _corpus(spark, n=100)
    a1 = _rows(sample_split(df, "doc_id", {"a": 0.5, "b": 0.5}, seed=3))
    a2 = _rows(
        sample_split(df.repartition(7), "doc_id", {"a": 0.5, "b": 0.5}, seed=3)
    )
    b = _rows(sample_split(df, "doc_id", {"a": 0.5, "b": 0.5}, seed=4))
    assert a1 == a2
    assert a1 != b


def test_split_duplicate_keys_travel_together(spark):
    rows = [("k1", i) for i in range(10)] + [("k2", i) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "v"])
    s = sample_split(df, "doc_id", {"a": 0.5, "b": 0.5})
    per_key = (
        s.groupBy("doc_id")
        .agg(F.countDistinct("split").alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in per_key)


def test_split_weights_validation(spark):
    df = _corpus(spark, n=5)
    with pytest.raises(ValueError, match="sum to 1"):
        sample_split(df, "doc_id", {"a": 0.5, "b": 0.3})
    with pytest.raises(ValueError, match="non-empty"):
        sample_split(df, "doc_id", {})
    with pytest.raises(ValueError, match="already exists"):
        sample_split(
            df.withColumn("split", F.lit("x")), "doc_id", {"a": 1.0}
        )


def test_split_single_bucket(spark):
    df = _corpus(spark, n=10)
    s = sample_split(df, "doc_id", {"all": 1.0})
    assert s.where("split = 'all'").count() == 10


def test_pack_rejects_unsafe_column_types(spark):
    # review fix: date/float group or key columns don't round-trip
    # identically between Row values and Arrow numpy values
    df = spark.createDataFrame(
        [("d1", "2020-01-01", 3.5, 4)],
        "doc_id string, day string, fsize double, n_tok int",
    ).withColumn("day_d", F.to_date("day"))
    with pytest.raises(TypeError, match="integral or string"):
        pack_chunks(df, "n_tok", "doc_id", 4, by=["day_d"])
    with pytest.raises(TypeError, match="size_col must be integral"):
        pack_chunks(df, "fsize", "doc_id", 4)


def test_pack_null_int_group_raises_on_range_path(spark):
    df = spark.createDataFrame(
        [("d1", 1, 3), ("d2", None, 5)], "doc_id string, grp int, n_tok int"
    )
    with pytest.raises(Exception, match="must not contain NULLs"):
        pack_chunks(
            df, "n_tok", "doc_id", 4, by=["grp"], method="range",
            num_partitions=1,
        ).collect()
    spark.catalog.clearCache()


def test_pack_window_path_rejects_null_size(spark):
    # the window path validates sizes too
    df = spark.createDataFrame(
        [("d1", 3), ("d2", None)], "doc_id string, n_tok int"
    )
    with pytest.raises(Exception, match="must be positive"):
        pack_chunks(df, "n_tok", "doc_id", 4).collect()
    # also when the consumer reads no end_pos / n_bins (the window twin
    # of the range path's negative case)
    neg = spark.createDataFrame(
        [("d1", 3), ("d2", -2), ("d3", 4)], ["doc_id", "n_tok"]
    )
    with pytest.raises(Exception, match="must be positive"):
        pack_chunks(neg, "n_tok", "doc_id", 4).select(
            "doc_id", "bin_id"
        ).collect()


def test_split_reserved_internal_name(spark):
    df = _corpus(spark, n=3).withColumn("_split_h", F.lit(1))
    with pytest.raises(ValueError, match="_split_h"):
        sample_split(df, "doc_id", {"a": 1.0})


# --------------------------------------------------------------- mixture


def test_mixture_rates_and_union_property(spark):
    from go_tdigest_spark.operators.sample import sample_fraction, sample_mixture

    df = _corpus(spark, n=300)  # sources a, b, c round-robin
    rates = {"a": 1.0, "b": 0.4}
    s = sample_mixture(df, "doc_id", "source", rates, seed=5)
    per = {r["source"]: r["n"] for r in
           s.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per["a"] == 100              # rate 1.0 keeps everything
    assert "c" not in per               # default_fraction 0 drops
    assert 15 <= per.get("b", 0) <= 65  # ~40 of 100, loose hash bound
    # per-group mixture == per-group sample_fraction of that group
    only_b = df.where("source = 'b'")
    want_b = {r["doc_id"] for r in
              sample_fraction(only_b, "doc_id", 0.4, seed=5).collect()}
    got_b = {r["doc_id"] for r in s.where("source = 'b'").collect()}
    assert got_b == want_b


def test_mixture_null_group_uses_default(spark):
    from go_tdigest_spark.operators.sample import sample_mixture

    df = spark.createDataFrame(
        [("d1", None), ("d2", "a")], "doc_id string, source string"
    )
    kept = sample_mixture(
        df, "doc_id", "source", {"a": 1.0}, default_fraction=1.0
    )
    assert kept.count() == 2
    dropped = sample_mixture(df, "doc_id", "source", {"a": 1.0})
    assert {r["doc_id"] for r in dropped.collect()} == {"d2"}


def test_mixture_validation(spark):
    from go_tdigest_spark.operators.sample import sample_mixture

    df = _corpus(spark, n=5)
    with pytest.raises(ValueError, match="must be in"):
        sample_mixture(df, "doc_id", "source", {"a": 1.5})
    with pytest.raises(ValueError, match="default_fraction"):
        sample_mixture(df, "doc_id", "source", {}, default_fraction=-0.1)
    with pytest.raises(TypeError, match="integral or string"):
        sample_mixture(
            df.withColumn("f", F.lit(1.5)), "doc_id", "f", {}
        )


def test_split_cutoffs_property():
    """Pure-kernel property: for any weight dict summing to 1, the
    cutoff ranges are disjoint, ordered, and cover [0, DENOM) exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from go_tdigest_spark.operators.sample import _DENOM, _split_cutoffs

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
            min_size=1,
            max_size=8,
        )
    )
    def check(raw):
        total = sum(raw)
        if total <= 0:
            return
        weights = {f"b{i}": w / total for i, w in enumerate(raw)}
        # renormalized sum can still miss 1.0 by float error beyond the
        # validator's 1e-9 tolerance; skip those inputs, they are the
        # caller's to fix
        if abs(sum(weights.values()) - 1.0) > 1e-9:
            return
        cut = _split_cutoffs(weights)
        assert cut[0][1] == 0 and cut[-1][2] == _DENOM
        for (_, lo, hi), (_, lo2, _hi2) in zip(cut, cut[1:]):
            assert lo <= hi == lo2
        # widths recover the weights to within 1/DENOM each (cumulative
        # rounding never accumulates error)
        for (name, lo, hi) in cut:
            assert abs((hi - lo) / _DENOM - weights[name]) <= 2 / _DENOM

    check()


def test_mixture_key_type_mismatch_is_loud(spark):
    from go_tdigest_spark.operators.sample import sample_mixture

    df = _corpus(spark, n=5)  # source is string
    with pytest.raises(TypeError, match="does not match"):
        sample_mixture(df, "doc_id", "source", {5: 1.0})
    idf = spark.createDataFrame(
        [("d1", 5), ("d2", 6)], "doc_id string, grp int"
    )
    with pytest.raises(TypeError, match="does not match"):
        sample_mixture(idf, "doc_id", "grp", {"5": 1.0})
    # correct types pass
    assert sample_mixture(idf, "doc_id", "grp", {5: 1.0}).count() == 1


# -------------------------------------------------------------- fragments


def test_fragments_hand_computed(spark):
    from go_tdigest_spark.operators.pack import pack_fragments

    df = spark.createDataFrame(
        [("d1", 3), ("d2", 5), ("d3", 4)], ["doc_id", "n_tok"]
    )
    p = pack_chunks(df, "n_tok", "doc_id", capacity=4)
    frags = {
        (r["doc_id"], r["frag_bin"]): (
            r["frag_offset"], r["doc_offset"], r["frag_len"]
        )
        for r in pack_fragments(p, "n_tok", capacity=4).collect()
    }
    # stream d1[0..3) d2[3..8) d3[8..12), windows of 4:
    # d2 splits at position 4 -> (win0: off3 len1) + (win1: off0 len4)
    assert frags == {
        ("d1", 0): (0, 0, 3),
        ("d2", 0): (3, 0, 1),
        ("d2", 1): (0, 1, 4),
        ("d3", 2): (0, 0, 4),
    }


def test_fragments_conservation_and_tiling(spark):
    """Fragment lengths sum to each doc's size, and each window's
    fragments tile it exactly (offsets+lengths partition [0, cap) for
    every full window)."""
    from go_tdigest_spark.operators.pack import pack_fragments

    df = _corpus(spark, n=80)
    p = pack_chunks(df, "n_tok", "doc_id", 256, by=["source"])
    f = pack_fragments(p, "n_tok", 256)
    per_doc = (
        f.groupBy("doc_id", "n_tok")
        .agg(F.sum("frag_len").alias("tot"))
        .collect()
    )
    assert all(r["tot"] == r["n_tok"] for r in per_doc)
    # full windows (all but each group's last) carry exactly 256 units
    last_bin = f.groupBy("source").agg(F.max("frag_bin").alias("mb"))
    full = f.join(last_bin, "source").where(F.col("frag_bin") < F.col("mb"))
    per_win = (
        full.groupBy("source", "frag_bin")
        .agg(F.sum("frag_len").alias("w"), F.min("frag_offset").alias("o0"))
        .collect()
    )
    assert all(r["w"] == 256 and r["o0"] == 0 for r in per_win)
    spark.catalog.clearCache()


def test_fragments_validation(spark):
    from go_tdigest_spark.operators.pack import pack_fragments

    df = _corpus(spark, n=5)
    with pytest.raises(ValueError, match="not a pack_chunks result"):
        pack_fragments(df, "n_tok", 4)
    p = pack_chunks(df, "n_tok", "doc_id", 4)
    with pytest.raises(ValueError, match="collides"):
        pack_fragments(p.withColumn("frag_len", F.lit(1)), "n_tok", 4)


# ------------------------------------------------------- weighted sample


def _es_priorities(keys, weights, seed):
    """Reference E-S priorities: the exact formula the Spark kernel
    computes (same hash kernel, same numpy log)."""
    import numpy as np

    from go_tdigest_spark.operators.sample import (
        _MIX_P,
        _hash_strings_batch,
        _nl_batch,
    )

    h = _nl_batch(_hash_strings_batch([str(k) for k in keys], seed))
    return -np.log((h + 1.0) / _MIX_P) / np.asarray(weights, dtype=float)


def test_weighted_sample_matches_reference(spark):
    """sample_weighted == the k smallest reference priorities (global
    and grouped), independent of input partitioning; k >= n keeps all."""
    from go_tdigest_spark.operators import sample_weighted

    n = 5_000
    rows = [(i, f"g{i % 4}", float((i * 13) % 97 + 1)) for i in range(n)]
    df1 = spark.createDataFrame(rows, ["k", "g", "w"])
    df2 = df1.repartition(11)

    pri = _es_priorities(
        [r[0] for r in rows], [r[2] for r in rows], seed=5
    )
    order = sorted(range(n), key=lambda i: (pri[i], i))
    want_global = {rows[i][0] for i in order[:50]}
    got1 = {r["k"] for r in sample_weighted(df1, "k", "w", 50, seed=5).collect()}
    got2 = {r["k"] for r in sample_weighted(df2, "k", "w", 50, seed=5).collect()}
    assert got1 == want_global and got2 == want_global

    per_g = {}
    for i in order:
        per_g.setdefault(rows[i][1], []).append(rows[i][0])
    want_grouped = {(g, k) for g, ks in per_g.items() for k in ks[:7]}
    got_g = {
        (r["g"], r["k"])
        for r in sample_weighted(df2, "k", "w", 7, seed=5, by=["g"]).collect()
    }
    assert got_g == want_grouped

    # k >= n keeps everything, schema unchanged
    small = df1.limit(20)
    out = sample_weighted(small, "k", "w", 10_000, seed=1)
    assert out.columns == ["k", "g", "w"] and out.count() == 20

    # seed changes the sample
    got3 = {r["k"] for r in sample_weighted(df1, "k", "w", 50, seed=6).collect()}
    assert got1 != got3


def test_weighted_sample_inclusion_proportional():
    """k=1 inclusion frequency over many seeds tracks w_i / sum(w) —
    the E-S guarantee.  Pure reference-kernel check (no Spark): the
    Spark path is pinned bit-for-bit to this kernel by
    test_weighted_sample_matches_reference."""
    import numpy as np

    keys = ["a", "b", "c", "d", "e"]
    weights = [1.0, 1.0, 2.0, 4.0, 8.0]
    total = sum(weights)
    wins = {k: 0 for k in keys}
    n_seeds = 4_000
    for seed in range(n_seeds):
        pri = _es_priorities(keys, weights, seed)
        wins[keys[int(np.argmin(pri))]] += 1
    for k, w in zip(keys, weights):
        assert abs(wins[k] / n_seeds - w / total) < 0.02, (k, wins)


def test_weighted_sample_duckdb_parity(spark):
    """The DuckDB twin selects the identical rows (global + grouped)."""
    import duckdb
    import pandas as pd

    from go_tdigest_spark.operators import sample_weighted, sample_weighted_sql

    n = 2_000
    pdf = pd.DataFrame(
        {
            "k": [f"doc{i:05d}" for i in range(n)],
            "g": [f"s{i % 3}" for i in range(n)],
            "w": [float((i * 7) % 31 + 1) for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf).repartition(7)
    con = duckdb.connect()
    con.register("t", pdf)

    got = {r["k"] for r in sample_weighted(df, "k", "w", 40, seed=9).collect()}
    want = {
        r[0]
        for r in con.execute(
            sample_weighted_sql("t", "k", "w", 40, seed=9)
        ).fetchall()
    }
    assert got == want

    got_g = {
        (r["g"], r["k"])
        for r in sample_weighted(df, "k", "w", 11, seed=9, by=["g"]).collect()
    }
    want_g = {
        (r[1], r[0])
        for r in con.execute(
            sample_weighted_sql("t", "k", "w", 11, seed=9, by=["g"])
        ).fetchall()
    }
    assert got_g == want_g


def test_weighted_sample_guards(spark):
    """Loud failures: bad k, non-numeric weight, NULL/<=0/NaN weights,
    reserved column collision, bad key type."""
    from go_tdigest_spark.operators import sample_weighted

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "k long, w double"
    )
    with pytest.raises(ValueError, match="k must be"):
        sample_weighted(df, "k", "w", 0)
    with pytest.raises(TypeError, match="integral or float"):
        sample_weighted(
            spark.createDataFrame([(1, "x")], "k long, w string"),
            "k", "w", 1,
        )
    with pytest.raises(TypeError, match="integral or string"):
        sample_weighted(
            spark.createDataFrame([(1.5, 1.0)], "k double, w double"),
            "k", "w", 1,
        )
    with pytest.raises(ValueError, match="reserved"):
        sample_weighted(df.withColumn("_pri", F.lit(0.0)), "k", "w", 1)
    import re

    from py4j.protocol import Py4JJavaError

    for bad in [None, 0.0, -1.0, float("nan"), float("inf")]:
        bad_df = spark.createDataFrame([(1, 1.0), (2, bad)], "k long, w double")
        with pytest.raises(Exception) as ei:
            sample_weighted(bad_df, "k", "w", 1).collect()
        assert re.search(r"finite and > 0", str(ei.value)), bad


def test_weighted_sample_sql_rejects_bad_weights():
    """The DuckDB twin mirrors the operator's loud weight contract:
    NULL / <= 0 / NaN / inf error out instead of silently returning a
    different sample (negative priorities would always win)."""
    import duckdb
    import pandas as pd
    import pytest

    from go_tdigest_spark.operators import sample_weighted_sql

    good = pd.DataFrame({"k": ["a", "b", "c"], "w": [1.0, 2.0, 3.0]})
    q = sample_weighted_sql("t", "k", "w", 2, seed=3)
    con = duckdb.connect()
    con.register("t", good)
    assert len(con.execute(q).fetchall()) == 2

    for bad_w in [-1.0, 0.0, float("nan"), float("inf"), None]:
        bad = pd.DataFrame({"k": ["a", "b", "c"], "w": [1.0, bad_w, 3.0]})
        con2 = duckdb.connect()
        con2.register("t", bad)
        with pytest.raises(Exception, match="finite and > 0"):
            con2.execute(q).fetchall()


# --- deterministic global shuffle -------------------------------------


def test_deterministic_shuffle_permutation_and_parity(spark):
    """Positions are an exact permutation 0..n-1, invariant under input
    partitioning and parallelism, equal to the window-form DuckDB twin,
    and independent across seeds."""
    import duckdb
    import pandas as pd

    from go_tdigest_spark.operators import (
        deterministic_shuffle,
        deterministic_shuffle_sql,
        release_dedup_caches,
    )

    n = 3_000
    pdf = pd.DataFrame(
        {"k": [f"doc{i:05d}" for i in range(n)], "v": list(range(n))}
    )
    df = spark.createDataFrame(pdf)

    got = deterministic_shuffle(df.repartition(7), "k", seed=5).toPandas()
    assert sorted(got["pos"]) == list(range(n))  # exact permutation
    by_key = dict(zip(got["k"], got["pos"]))
    # not the identity / input order (astronomically unlikely if mixed)
    assert list(got.sort_values("pos")["k"]) != sorted(pdf["k"])

    # partitioning/parallelism invariance: 1 input partition + 3 range
    # partitions, and 13 input partitions + 29 range partitions, give
    # the identical permutation
    alt1 = deterministic_shuffle(
        df.coalesce(1), "k", seed=5, num_partitions=3
    ).toPandas()
    alt2 = deterministic_shuffle(
        df.repartition(13), "k", seed=5, num_partitions=29
    ).toPandas()
    assert dict(zip(alt1["k"], alt1["pos"])) == by_key
    assert dict(zip(alt2["k"], alt2["pos"])) == by_key

    # DuckDB window-form twin: identical positions
    con = duckdb.connect()
    con.register("t", pdf)
    want = dict(
        con.execute(
            "SELECT k, pos FROM ("
            + deterministic_shuffle_sql("t", "k", seed=5)
            + ")"
        ).fetchall()
    )
    assert by_key == want

    # a different seed is a different (independent) permutation
    other = deterministic_shuffle(df, "k", seed=6).toPandas()
    assert dict(zip(other["k"], other["pos"])) != by_key
    release_dedup_caches()


def test_deterministic_shuffle_guards(spark):
    import pandas as pd
    import pytest

    from go_tdigest_spark.operators import deterministic_shuffle

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "pos": [1, 2]})
    )
    with pytest.raises(ValueError, match="pos_col"):
        deterministic_shuffle(df, "k")
    fdf = spark.createDataFrame(pd.DataFrame({"k": [1.5, 2.5]}))
    with pytest.raises(TypeError, match="integral or string"):
        deterministic_shuffle(fdf, "k")
    # empty input -> empty output with the pos column appended
    from pyspark.sql import functions as F

    empty = deterministic_shuffle(
        spark.createDataFrame(pd.DataFrame({"k": ["a"]})).where(F.lit(False)),
        "k",
    )
    assert empty.columns == ["k", "pos"] and empty.count() == 0


def test_sample_token_budget(spark):
    """Budget semantics (prefix of the shuffle order, whole docs only),
    DuckDB running-sum twin parity, partitioning invariance, pruning
    path, and guards."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from go_tdigest_spark.operators import (
        release_dedup_caches,
        sample_token_budget,
        sample_token_budget_sql,
    )

    n = 2_000
    pdf = pd.DataFrame(
        {
            "k": [f"doc{i:05d}" for i in range(n)],
            "sz": [(i * 13) % 97 + 1 for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)
    budget = 20_000

    got = sample_token_budget(df.repartition(7), "k", "sz", budget, seed=9)
    gpdf = got.toPandas()
    kept = set(gpdf["k"])
    total = int(gpdf["sz"].sum())
    assert total <= budget
    # maximal prefix: the NEXT doc in shuffle order would overflow —
    # check via the twin's cumulative definition
    con = duckdb.connect()
    con.register("t", pdf)
    want = {
        r[0]
        for r in con.execute(
            sample_token_budget_sql("t", "k", "sz", budget, seed=9)
        ).fetchall()
    }
    assert kept == want
    assert 0 < len(kept) < n  # non-vacuous: budget is a strict subset

    # invariance: different input partitioning + different range
    # partition count select the identical set
    alt = sample_token_budget(
        df.coalesce(1), "k", "sz", budget, seed=9, num_partitions=29
    )
    assert {r["k"] for r in alt.collect()} == kept

    # tiny budget exercises the partition-pruning path (every partition
    # past the first is dropped before phase 2); budget smaller than the
    # first doc -> empty
    first_sz = int(
        con.execute(
            "SELECT sz FROM ("
            + sample_token_budget_sql("t", "k", "sz", 10**9, seed=9)
            + " LIMIT 1)"
        ).fetchone()[0]
    )
    assert sample_token_budget(df, "k", "sz", first_sz - 1, seed=9).count() == 0
    assert {
        r["k"]
        for r in sample_token_budget(df, "k", "sz", first_sz, seed=9).collect()
    } == {
        r[0]
        for r in con.execute(
            sample_token_budget_sql("t", "k", "sz", first_sz, seed=9)
        ).fetchall()
    }

    # guards: negative budget, non-integral size, NULL sizes
    import pytest

    with pytest.raises(ValueError, match="budget"):
        sample_token_budget(df, "k", "sz", -1)
    fdf = spark.createDataFrame(pd.DataFrame({"k": ["a"], "sz": [1.5]}))
    with pytest.raises(TypeError, match="integral"):
        sample_token_budget(fdf, "k", "sz", 10)
    ndf = spark.createDataFrame(
        [("a", 1), ("b", None)], "k string, sz long"
    )
    with pytest.raises(Exception, match="NULL"):
        sample_token_budget(ndf, "k", "sz", 10).count()
    neg = spark.createDataFrame([("a", 1), ("b", -1)], "k string, sz long")
    with pytest.raises(ValueError, match="negative"):
        sample_token_budget(neg, "k", "sz", 10).count()
    release_dedup_caches()


def test_sample_token_budget_grouped(spark):
    """Per-group budgets: independent caps per source (scalar and dict),
    exact vs the partitioned running-sum twin; unlisted groups keep
    nothing; invariance under partitioning."""
    import duckdb
    import pandas as pd
    import pytest

    from go_tdigest_spark.operators import (
        release_dedup_caches,
        sample_token_budget,
        sample_token_budget_sql,
    )

    n = 3_000
    pdf = pd.DataFrame(
        {
            "k": [f"doc{i:05d}" for i in range(n)],
            "g": [f"src{i % 4}" for i in range(n)],
            "sz": [(i * 29) % 83 + 1 for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("t", pdf)

    # scalar cap per group
    got = sample_token_budget(
        df.repartition(5), "k", "sz", 6_000, seed=3, by=["g"]
    ).toPandas()
    want = con.execute(
        sample_token_budget_sql("t", "k", "sz", 6_000, seed=3, by=["g"])
    ).df()
    assert set(zip(got["g"], got["k"])) == set(zip(want["g"], want["k"]))
    per_g = got.groupby("g")["sz"].sum()
    assert (per_g <= 6_000).all() and len(per_g) == 4

    # dict caps: src3 unlisted -> capped at 0, kept set exact per source
    caps = {"src0": 9_000, "src1": 4_000, "src2": 1_000}
    got_d = sample_token_budget(
        df.coalesce(1), "k", "sz", caps, seed=3, by=["g"], num_partitions=17
    ).toPandas()
    want_d = con.execute(
        sample_token_budget_sql("t", "k", "sz", caps, seed=3, by=["g"])
    ).df()
    assert set(zip(got_d["g"], got_d["k"])) == set(
        zip(want_d["g"], want_d["k"])
    )
    sums = got_d.groupby("g")["sz"].sum().to_dict()
    assert "src3" not in sums
    for g, cap in caps.items():
        assert sums.get(g, 0) <= cap

    # dict keys match their group exactly, whatever characters they
    # hold (a quote or a backslash reads differently in each SQL dialect)
    odd = pdf.assign(
        g=pdf["g"].map(
            {"src0": "it's", "src1": "a\\b", "src2": "src2", "src3": "src3"}
        )
    )
    odd_caps = {"it's": 9_000, "a\\b": 4_000, "src2": 1_000}
    got_o = sample_token_budget(
        spark.createDataFrame(odd), "k", "sz", odd_caps, seed=3, by=["g"]
    ).toPandas()
    con.register("o", odd)
    want_o = con.execute(
        sample_token_budget_sql("o", "k", "sz", odd_caps, seed=3, by=["g"])
    ).df()
    assert set(zip(got_o["g"], got_o["k"])) == set(
        zip(want_o["g"], want_o["k"])
    )
    assert set(got_o["g"]) == set(odd_caps)

    # guards: dict budget without exactly one by column; negative cap
    with pytest.raises(ValueError, match="exactly one"):
        sample_token_budget(df, "k", "sz", caps)
    with pytest.raises(ValueError, match=">= 0"):
        sample_token_budget(df, "k", "sz", {"src0": -1}, by=["g"])
    release_dedup_caches()


def test_token_budget_dict_key_type_mismatch_is_loud(spark):
    """A dict budget keyed by the wrong Python type raises, as
    sample_mixture does: a str key against an int group column used to
    miss the Spark-side partition pruning and keep nothing, while the
    SQL twin's '1' = 1 coerced and kept the group."""
    import duckdb
    import pandas as pd

    from go_tdigest_spark.operators import (
        release_dedup_caches,
        sample_token_budget,
        sample_token_budget_sql,
    )

    pdf = pd.DataFrame(
        {"doc": range(20), "grp": [i % 2 for i in range(20)], "sz": [3] * 20}
    )
    df = spark.createDataFrame(pdf)
    got = sample_token_budget(df, "doc", "sz", {1: 12}, seed=3, by=["grp"])
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        sample_token_budget_sql("t", "doc", "sz", {1: 12}, seed=3, by=["grp"])
    ).fetchall()
    assert sorted(r["doc"] for r in got.collect()) == [5, 7, 11, 13]
    assert sorted(r[0] for r in want) == [5, 7, 11, 13]
    for bad in ({"1": 12}, {True: 12}):
        with pytest.raises(TypeError, match="does not match"):
            sample_token_budget(df, "doc", "sz", bad, seed=3, by=["grp"])
    release_dedup_caches()


def test_prefix_sum_and_hash_pass_reserve_their_columns(spark):
    """An input column named like an internal one raises instead of
    vanishing from the output (``_pid``) or failing late as an ambiguous
    reference (``_h``)."""
    from go_tdigest_spark.operators import (
        deterministic_shuffle,
        sample_token_budget,
    )

    df = spark.createDataFrame([(1, 7), (2, 8)], "k long, sz long")
    for name in ("_pid", "_h"):
        clash = df.withColumn(name, F.lit(0))
        with pytest.raises(ValueError, match="reserved"):
            deterministic_shuffle(clash, "k")
        with pytest.raises(ValueError, match="reserved"):
            sample_token_budget(clash, "k", "sz", 5)
    with pytest.raises(ValueError, match="reserved"):
        pack_chunks(
            spark.createDataFrame([("d1", 3, 0)], "k string, n int, _pid int"),
            "n", "k", 4, method="range",
        )


def _small_batch_case(op, df):
    from go_tdigest_spark.operators import sample as S

    if op == "fraction":
        return (
            S.sample_fraction(df, "k", 0.3, seed=4),
            S.sample_fraction_sql("t", "k", 0.3, seed=4),
        )
    if op == "mixture":
        fr = {"a": 0.7, "b": 0.1}
        return (
            S.sample_mixture(df, "k", "g", fr, seed=4, default_fraction=0.4),
            S.sample_mixture_sql("t", "k", "g", fr, seed=4, default_fraction=0.4),
        )
    if op == "split":
        wts = {"train": 0.6, "val": 0.3, "test": 0.1}
        return (
            S.sample_split(df, "k", wts, seed=4),
            S.sample_split_sql("t", "k", wts, seed=4),
        )
    if op == "weighted":
        return (
            S.sample_weighted(df, "k", "w", 9, seed=4),
            S.sample_weighted_sql("t", "k", "w", 9, seed=4),
        )
    return (
        S.deterministic_shuffle(df, "k", seed=4, num_partitions=3),
        S.deterministic_shuffle_sql("t", "k", seed=4),
    )


@pytest.mark.parametrize("key_type", ["string", "int"])
@pytest.mark.parametrize(
    "op", ["fraction", "mixture", "split", "weighted", "shuffle"]
)
def test_hash_pass_small_batches_match_duckdb(spark, op, key_type):
    """Every operator on the seeded-hash pass, fed 2-row Arrow batches
    from one partition (so the filters empty some batches completely),
    with NULL keys and int32 or string keys, equals its DuckDB twin."""
    import duckdb
    import pandas as pd

    from go_tdigest_spark.operators import release_dedup_caches

    n = 40
    # the two NULL-key rows tie on the hash; they differ only in v
    nulls = (3, 23)
    keys = [
        None if i in nulls else (f"d{i}" if key_type == "string" else i * 37)
        for i in range(n)
    ]
    pdf = pd.DataFrame(
        {
            "k": pd.array(keys, dtype="string" if key_type == "string" else "Int32"),
            "g": [["a", "b", "c", None][i % 4] for i in range(n)],
            "v": range(n),
            "w": [(i % 5) + 0.5 for i in range(n)],
        }
    )
    df = spark.createDataFrame(
        list(zip(keys, pdf["g"], pdf["v"].tolist(), pdf["w"])),
        f"k {key_type}, g string, v long, w double",
    ).coalesce(1)
    con = duckdb.connect()
    con.register("t", pdf)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        out, sql = _small_batch_case(op, df)
        res = con.execute(sql)
        assert out.columns == [d[0] for d in res.description]
        want_rows = res.fetchall()
        v_at = out.columns.index("v")

        def strip_v(rows):
            return sorted(
                (tuple(x for i, x in enumerate(r) if i != v_at) for r in rows),
                key=repr,
            )

        got = strip_v(tuple(r) for r in out.collect())
        assert got == strip_v(want_rows) and got
        if op in ("fraction", "mixture"):
            kept = {r[v_at] for r in want_rows}
            assert any(
                {2 * i, 2 * i + 1}.isdisjoint(kept) for i in range(n // 2)
            )
    finally:
        spark.conf.set(key, old)
        release_dedup_caches()
