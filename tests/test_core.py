"""Kernel-tier behavioral tests, ported 1:1 from the reference suite
(caio/go-tdigest, /root/reference/tdigest_test.go) — same data shapes,
same seeds-where-possible, same tolerances.  Pure NumPy, no Spark.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from go_tdigest_spark.core import TDigest


# ---------------------------------------------------------------- oracles
# Exact oracles as defined by the reference (tdigest_test.go:271-295).


def oracle_quantile(q: float, sorted_data: np.ndarray) -> float:
    """The reference's `quantile` helper (tdigest_test.go:284-295)."""
    n = len(sorted_data)
    if n == 0:
        return math.nan
    if q == 1 or n == 1:
        return float(sorted_data[-1])
    index = q * (n - 1)
    lo = int(index)
    frac = index - lo
    return float(sorted_data[lo + 1] * frac + sorted_data[lo] * (lo + 1 - index))


def oracle_cdf(x: float, data: np.ndarray) -> float:
    """The reference's `cdf` helper (tdigest_test.go:271-282): midrank."""
    n1 = int((data < x).sum())
    n2 = int((data <= x).sum())
    return (n1 + n2) / 2.0 / len(data)


def oracle_trimmed_mean(data: np.ndarray, p1: float, p2: float) -> float:
    """The reference's `trimmedMean` helper (tdigest_test.go:612-626):
    empirical quantile = smallest x with CDF(x) >= p, then the mean of
    values inside [x1, x2] inclusive."""
    s = np.sort(data)
    n = len(s)

    def emp_q(p: float) -> float:
        if p <= 0:
            return float(s[0])
        idx = int(math.ceil(p * n)) - 1
        return float(s[min(max(idx, 0), n - 1)])

    x1, x2 = emp_q(p1), emp_q(p2)
    mask = (s >= x1) & (s <= x2)
    return float(s[mask].mean())


UNIFORM_THRESHOLDS = [  # tdigest_test.go:85-91
    (0.5, 0.02),
    (0.1, 0.01),
    (0.9, 0.01),
    (0.01, 0.005),
    (0.99, 0.005),
    (0.001, 0.001),
    (0.999, 0.001),
]


# ------------------------------------------------------------ basic behavior


def test_internals_empty_and_single():
    # tdigest_test.go:25-61 (TestTInternals)
    d = TDigest()
    assert math.isnan(d.quantile(0.5))
    assert math.isnan(d.cdf(1.0))
    assert d.count == 0

    d.add(0.4)
    for q in (0.0, 0.5, 1.0):
        assert d.quantile(q) == 0.4
    assert d.cdf(0.3) == 0.0
    assert d.cdf(0.4) == 1.0
    assert d.count == 1


def test_rejects_nan_and_bad_weight():
    d = TDigest()
    with pytest.raises(ValueError):
        d.add(math.nan)
    with pytest.raises(ValueError):
        d.add(1.0, 0)
    with pytest.raises(ValueError):
        d.add(1.0, -3)


def test_compression_validation():
    # options.go:20-28: compression must be >= 1; default is 100
    with pytest.raises(ValueError):
        TDigest(compression=0.5)
    assert TDigest().compression == 100.0


def test_quantile_range_panics():
    # tdigest_test.go:464-474 (TestPanic) — ours raises instead of panicking
    d = TDigest()
    d.add(1.0)
    with pytest.raises(ValueError):
        d.quantile(-42)
    with pytest.raises(ValueError):
        d.quantile(1.0001)


def test_uniform_distribution():
    # tdigest_test.go:78-92
    rng = np.random.default_rng(42)
    d = TDigest()
    d.add_batch(rng.random(100_000))
    for q, tol in UNIFORM_THRESHOLDS:
        assert abs(d.quantile(q) - q) < tol, (q, d.quantile(q))


def test_sequential_and_nonsequential_insertion():
    # tdigest_test.go:106-167 — ordered and strided inserts vs exact oracle
    seq = np.arange(10_000, dtype=np.float64)
    strided = np.array([(i * 1627) % 1000 for i in range(10_000)], dtype=np.float64)
    for data in (seq, strided):
        d = TDigest()
        # insert in the pathological order, in small chunks to force
        # many incremental flushes
        d_small = TDigest(buffer_size=1000)
        for chunk in np.array_split(data, 40):
            d_small.add_batch(chunk)
        d.add_batch(data)
        s = np.sort(data)
        rng_width = s[-1] - s[0]
        for both in (d, d_small):
            for q, tol in UNIFORM_THRESHOLDS:
                want = oracle_quantile(q, s)
                # scale the uniform thresholds by the value range plus one
                # oracle step of slack (reference scales the same way in
                # TestWeights, tdigest_test.go:228-236)
                assert abs(both.quantile(q) - want) <= 1.0 + tol * rng_width


def test_singleton_in_a_crowd():
    # tdigest_test.go:169-193
    d = TDigest()
    d.add_batch(np.full(10_000, 10.0))
    d.add(20.0)
    d.compress()
    for q in (0.0, 0.5, 0.8, 0.9, 0.99):
        assert abs(d.quantile(q) - 10.0) < 1e-6
    assert d.quantile(1.0) == 20.0


def test_respect_bounds():
    # tdigest_test.go:195-213
    d = TDigest(compression=10)
    for v in (0.0, 279.0, 2.0, 281.0):
        d.add(v)
    for q in (0.01, 0.25, 0.5, 0.75, 0.999):
        assert 0.0 <= d.quantile(q) <= 281.0


def test_weighted_tails_read_exact_min_and_max():
    # a heavy weighted point is a whole tail centroid: q=0/1 read its mean,
    # not an extrapolation past it (go-tdigest reads 0.0488 and 16.55 here)
    d = TDigest()
    d.add_batch(np.array([1.0, 2.0, 3.0, 10.0]), np.array([40, 1, 1, 30]))
    assert d.quantile(0.0) == 1.0 and d.quantile(1.0) == 10.0
    est = d.quantile(np.linspace(0, 1, 201))
    assert ((est >= 1.0) & (est <= 10.0)).all()


def test_weights_equivalence():
    # tdigest_test.go:215-237 — weighted insert vs repeated inserts, both
    # checked against the exact oracle with range-scaled tolerances
    d = TDigest(compression=10)
    data = []
    for i in range(1, 100):
        d.add(float(i), i)
        data.extend([float(i)] * i)
    s = np.sort(np.array(data))
    for q, tol in [
        (0.001, 0.001), (0.01, 0.005), (0.05, 0.01), (0.25, 0.01),
        (0.5, 0.02), (0.75, 0.01), (0.95, 0.01), (0.99, 0.005), (0.999, 0.001),
    ]:
        want = oracle_quantile(q, s)
        assert abs(d.quantile(q) - want) <= 1.0 + tol * 100.0


def test_integers_exact_median():
    # tdigest_test.go:239-269
    d = TDigest()
    d.add_batch(np.array([1.0, 2.0, 3.0]))
    assert d.quantile(0.5) == 2.0

    d = TDigest()
    d.add_batch(np.array([1.0] + [2.0] * 7 + [3.0]))
    assert d.quantile(0.5) == 2.0
    _, counts = d.centroids()
    assert counts.sum() == 9


@pytest.mark.parametrize("num_subs", [2, 5, 10, 20, 50, 100])
def test_merge_parts(num_subs):
    # tdigest_test.go:297-383 (TestMergeNormal) — the map-reduce theorem
    num_items = 100_000
    rng = np.random.default_rng(1234)
    data = rng.random(num_items)

    whole = TDigest.from_values(data)
    whole.compress()

    subs = [TDigest.from_values(data[i::num_subs]) for i in range(num_subs)]
    merged = TDigest.merge_all(subs)

    assert merged.count == num_items == whole.count

    s = np.sort(data)
    for q in (0.001, 0.01, 0.1, 0.2, 0.3, 0.5):
        z = oracle_quantile(q, s)
        err = merged.quantile(q) - z
        assert abs(err) < 0.015, (q, err)
        assert abs(err) / q < 0.3, (q, err)

        zc = oracle_cdf(q, s)
        errc = merged.cdf(q) - zc
        assert abs(errc) < 0.015, (q, errc)
        assert abs(errc) / q <= 0.3, (q, errc)


def test_merge_associativity_permuted_order():
    # north rule: merge associativity checked by permuting partition merge
    # order (the reference's own mechanism is randomized re-insert order,
    # summary.go:149-155)
    rng = np.random.default_rng(7)
    data = rng.random(50_000)
    subs = [TDigest.from_values(data[i::16]) for i in range(16)]
    s = np.sort(data)

    results = []
    for perm_seed in range(4):
        order = np.random.default_rng(perm_seed).permutation(16)
        merged = TDigest.merge_all([subs[i].clone() for i in order])
        assert merged.count == 50_000
        for q in (0.01, 0.5, 0.99):
            est = merged.quantile(q)
            assert abs(est - oracle_quantile(q, s)) < 0.015
        results.append([merged.quantile(q) for q in (0.01, 0.5, 0.99)])
    # all permutations agree with each other within the bound too
    arr = np.array(results)
    assert (arr.max(axis=0) - arr.min(axis=0) < 0.03).all()


def test_compress_preserves_count():
    # tdigest_test.go:385-402
    rng = np.random.default_rng(5)
    d = TDigest.from_values(rng.random(1000))
    before = d.count
    d.compress()
    assert d.count == before


def test_compress_is_idempotent():
    """compress() skips its second sweep after a flush: the sweep's
    output is a fixed point, so compressing again changes nothing —
    also for rehydrated centroids, which compress() does re-sweep."""
    rng = np.random.default_rng(6)
    for vals, w in (
        (rng.random(5000), None),
        (rng.normal(size=3000).round(1), rng.integers(1, 9, size=3000)),
        (rng.integers(0, 300, size=4000).astype(np.int32), None),
    ):
        d = TDigest()
        d.add_batch(vals, w)
        d.compress()
        once = tuple(a.copy() for a in d.centroids())
        d.compress()
        np.testing.assert_array_equal(d.centroids()[1], once[1])
        np.testing.assert_array_equal(d.centroids()[0], once[0])
        r = TDigest.from_centroids(*once)
        r.compress()
        np.testing.assert_array_equal(r.centroids()[1], once[1])


def test_gamma_distribution():
    # tdigest_test.go:404-452 — heavy skew
    rng = np.random.default_rng(0xDEADBEE)
    data = rng.gamma(0.1, 0.1, size=100_000)
    d = TDigest.from_values(data)
    s = np.sort(data)

    soft_errors = 0
    for q in (0.001, 0.01, 0.1, 0.5, 0.9, 0.99, 0.999):
        ix = len(s) * q - 0.5
        idx = int(math.floor(ix))
        p = ix - idx
        real_quantile = s[idx] * (1 - p) + s[idx + 1] * p

        assert abs(d.cdf(real_quantile) - q) <= 0.005

        err = abs(q - oracle_cdf(d.quantile(q), s))
        if err > 0.005:
            soft_errors += 1
        assert err <= 0.012
    assert soft_errors < 3

    # extreme tail: CDF at/above the maximum must be exactly 1 and never >1
    assert d.cdf(float(s[-1])) <= 1.0
    assert d.cdf(float(s[-1]) * 2) == 1.0


def test_quantiles_dont_overflow():
    # tdigest_test.go:504-513 — more than 2^32 total weight
    d = TDigest(compression=100)
    d.add(1.0)
    vals = np.arange(1024, dtype=np.float64) / 1024
    d.add_batch(vals, np.full(1024, 4_194_304, dtype=np.int64))
    assert d.count == 1 + 1024 * 4_194_304
    assert abs(d.quantile(0.5) - 0.5) < 0.02


def test_cdf_inside_last_centroid():
    # tdigest_test.go:515-530 — regression fixture pulled from a live
    # digest upstream; CDF inside the last centroid must never exceed 1
    means = np.array([
        2120.75048828125, 2260.3844299316406, 3900.490264892578,
        3937.495807647705, 5390.479816436768, 10450.335285186768,
        14152.897296905518, 16442.676349639893, 24303.143146514893,
        56961.87361526489, 63891.24959182739, 73982.55232620239,
        86477.50447463989, 110746.62556838989, 175479.7388496399,
        300492.3404121399, 440452.5279121399, 515611.7700996399,
        535827.0025215149, 546241.6822090149, 556965.3648262024,
        569791.2124824524, 587320.6870918274, 603969.4175605774,
        613751.6177558899, 624708.7593574524, 635060.0718574524,
        641924.2007637024, 650656.4302558899, 660653.1714668274,
        671380.9009590149, 687094.3667793274, 716595.8824043274,
        740870.9800605774, 760276.2437324524, 768857.5786933899,
        775021.0025215149, 787686.0337715149, 801473.4624824524,
        815225.1255683899, 832358.6997871399, 852438.4751777649,
        866134.2935371399, 1.10661549666214e+06, 1.1212118980293274e+06,
        1.2230108433418274e+06, 1.5446490620918274e+06,
        4.306712312091827e+06, 5.487582562091827e+06,
        6.306383562091827e+06, 7.089308312091827e+06,
        7.520797593341827e+06,
    ])
    counts = np.array([
        0x1, 0x1, 0x1, 0x1, 0x1, 0x2, 0x1, 0x4, 0x5, 0x6, 0x3, 0x3, 0x4,
        0x11, 0x23, 0x2f, 0x1e, 0x1b, 0x36, 0x31, 0x33, 0x4e, 0x5f, 0x61,
        0x48, 0x2e, 0x26, 0x28, 0x2a, 0x31, 0x39, 0x51, 0x32, 0x2b, 0x12,
        0x8, 0xb, 0xa, 0x11, 0xa, 0x11, 0x9, 0x7, 0x1, 0x1, 0x1, 0x3, 0x2,
        0x1, 0x1, 0x1, 0x1,
    ], dtype=np.int64)
    d = TDigest.from_centroids(means, counts, compression=5)
    assert d.count == 1250
    assert d.cdf(7.144560976650238e+06) <= 1.0


@pytest.mark.parametrize("size", [100, 1000, 10000])
@pytest.mark.parametrize(
    "p1,p2",
    [(0, 1), (0.1, 0.9), (0.2, 0.8), (0.25, 0.75),
     (0, 0.5), (0.5, 1), (0.1, 0.7), (0.3, 0.9)],
)
def test_trimmed_mean(size, p1, p2):
    # tdigest_test.go:532-610
    rng = np.random.default_rng(size * 31 + int(p1 * 100))
    data = rng.random(size)
    d = TDigest.from_values(data, compression=100)
    got = d.trimmed_mean(p1, p2)
    want = oracle_trimmed_mean(data, p1, p2)
    assert abs(got - want) <= 0.01

    d.add_batch(np.arange(10, dtype=np.float64) * 100)
    assert d.trimmed_mean(0.1, 0.999) >= 0


def test_trimmed_mean_corner_cases():
    # tdigest_test.go:581-610
    d = TDigest(compression=100)
    assert d.trimmed_mean(0, 1) == 0.0
    d.add(1.0)
    assert d.trimmed_mean(0, 1) == 1.0
    d.add(1000.0)
    assert abs(d.trimmed_mean(0, 1) - 500.5) < 1e-6
    with pytest.raises(ValueError):
        d.trimmed_mean(0.5, 0.5)
    with pytest.raises(ValueError):
        d.trimmed_mean(-0.1, 0.5)
    with pytest.raises(ValueError):
        d.trimmed_mean(0.1, 1.5)


def test_clone_independence():
    # tdigest_test.go:628-679
    rng = np.random.default_rng(3)
    d = TDigest(compression=42)
    d.add_batch(rng.random(100))
    c = d.clone()
    assert c.compression == 42
    assert c.count == d.count
    assert c.quantile(0.5) == d.quantile(0.5)
    c.add_batch(rng.random(100) + 10.0)
    assert c.count == d.count + 100
    assert c.quantile(0.99) != d.quantile(0.99)


def test_order_insensitivity():
    # construction must be insensitive to input order (within bounds):
    # the reference achieves this with randomized re-insertion
    # (tdigest.go:248,267); the merging sweep achieves it by sorting
    rng = np.random.default_rng(11)
    data = rng.standard_normal(30_000)
    d_sorted = TDigest(buffer_size=4096)
    d_sorted.add_batch(np.sort(data))
    d_shuffled = TDigest(buffer_size=4096)
    d_shuffled.add_batch(data)
    s = np.sort(data)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        w = oracle_quantile(q, s)
        assert abs(d_sorted.quantile(q) - w) < 0.05
        assert abs(d_shuffled.quantile(q) - w) < 0.05


def test_memory_bounded_centroids():
    # capacity policy parity: the sketch stays O(compression) regardless
    # of input size (tdigest.go:195-197 / 457-459)
    rng = np.random.default_rng(13)
    d = TDigest(compression=100)
    for _ in range(20):
        d.add_batch(rng.random(100_000))
    n_centroids = len(d)
    # k2 scale gives O(delta * log n) centroids; the reference's own cap
    # is 20*compression (tdigest.go:195-197)
    assert n_centroids < 20 * 100
    assert d.count == 2_000_000


def test_quantile_cdf_roundtrip_monotone():
    rng = np.random.default_rng(17)
    d = TDigest.from_values(rng.random(50_000))
    qs = np.linspace(0, 1, 101)
    est = d.quantile(qs)
    assert (np.diff(est) >= -1e-12).all()  # monotone
    xs = np.linspace(-0.1, 1.1, 121)
    cd = d.cdf(xs)
    assert (np.diff(cd) >= -1e-12).all()
    assert cd[0] == 0.0 and cd[-1] == 1.0
