"""Property-based kernel tests (hypothesis) — the role played in the
reference ecosystem by quick.Check-style randomized suites: invariants
that must hold for *any* input, not just the fixture corpus."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from go_tdigest_spark import serde
from go_tdigest_spark.core import TDigest

# subnormals excluded: a centroid-gap midpoint between 0 and a subnormal
# underflows to zero width, making CDF spans degenerate — an FP pathology
# outside the estimator's contract (the clip hardening in cdf() keeps the
# output a valid fraction even then)
finite = st.floats(
    allow_nan=False,
    allow_infinity=False,
    allow_subnormal=False,
    min_value=-1e12,
    max_value=1e12,
)
value_lists = st.lists(finite, min_size=1, max_size=400)
# statistical-equivalence properties need enough mass for rank-space
# comparisons to be meaningful (the reference's own versions use 100k
# samples); tiny inputs legitimately interpolate differently
bulk_lists = st.lists(finite, min_size=64, max_size=400)
compressions = st.sampled_from([1, 5, 20, 100, 500])


@settings(max_examples=150, deadline=None)
@given(values=value_lists, compression=compressions)
def test_bounds_count_and_monotone(values, compression):
    arr = np.asarray(values)
    d = TDigest.from_values(arr, compression=compression)
    assert d.count == len(values)
    lo, hi = arr.min(), arr.max()
    qs = np.linspace(0, 1, 21)
    est = d.quantile(qs)
    # estimates stay within observed bounds at the exact tails
    assert est[0] == lo and est[-1] == hi
    # monotone in q
    assert (np.diff(est) >= -1e-9 * max(1.0, abs(hi))).all()
    # cdf monotone, in [0,1]; 0 far below the first centroid span (the
    # reference spreads centroid mass half-way to the neighbor, so cdf can
    # be >0 slightly below min — tdigest.go:306-317), 1 at/above max
    span = max(hi - lo, 1.0)
    xs = np.linspace(lo - 2 * span, hi + 1, 23)
    cd = d.cdf(xs)
    assert (np.diff(cd) >= -1e-12).all()
    assert ((cd >= 0) & (cd <= 1)).all()
    assert cd[0] == 0.0 and cd[-1] == 1.0
    assert d.cdf(hi) == 1.0


@settings(max_examples=75, deadline=None)
@given(
    values=bulk_lists,
    compression=st.sampled_from([20, 100, 500]),
    parts=st.integers(2, 7),
)
def test_merge_equals_whole_within_bound(values, compression, parts):
    """Merged sub-digests must agree with a whole-data digest.  Agreement
    is measured in CDF space (value-space quantiles are ill-conditioned
    around large voids in arbitrary data — inherent to piecewise-linear
    interpolation, identically so in the reference)."""
    arr = np.asarray(values)
    whole = TDigest.from_values(arr, compression=compression)
    subs = [
        TDigest.from_values(arr[i::parts], compression=compression)
        for i in range(parts)
        if len(arr[i::parts])
    ]
    merged = TDigest.merge_all(subs)
    assert merged.count == whole.count == len(values)
    assert merged.quantile(0.0) == arr.min()
    assert merged.quantile(1.0) == arr.max()
    xs = np.quantile(arr, np.linspace(0, 1, 9))
    assert (np.abs(merged.cdf(xs) - whole.cdf(xs)) <= 0.11).all()


@settings(max_examples=100, deadline=None)
@given(values=value_lists, compression=compressions)
def test_serde_roundtrips(values, compression):
    d = TDigest.from_values(np.asarray(values), compression=compression)
    d2 = serde.decode(serde.encode(d))
    m1, c1 = d.centroids()
    m2, c2 = d2.centroids()
    assert (m1 == m2).all() and (c1 == c2).all()
    # reference wire format: counts exact, count preserved
    d3 = serde.from_ref_bytes(serde.to_ref_bytes(d))
    assert d3.count == d.count
    _, c3 = d3.centroids()
    assert (c1 == c3).all()


@settings(max_examples=75, deadline=None)
@given(
    values=st.lists(
        st.integers(min_value=0, max_value=5000), min_size=64, max_size=500
    ),
    compression=compressions,
)
def test_int_bincount_path_matches_float_path(values, compression):
    """The dense-int bincount fast path must agree with the generic sorted
    float path — identical weighted point sets in, same sweep."""
    ints = np.asarray(values, dtype=np.int32)
    d_int = TDigest.from_values(ints, compression=compression)
    d_float = TDigest.from_values(
        np.sort(ints.astype(np.float64)), compression=compression
    )
    assert d_int.count == d_float.count
    for q in (0.0, 0.25, 0.5, 0.75, 1.0):
        a, b = d_int.quantile(q), d_float.quantile(q)
        span = float(ints.max() - ints.min())
        # tolerance shape mirrors the reference's weighted-vs-repeated
        # test (tdigest_test.go:228-236): one discrete value step plus a
        # range-scaled term — collapsing duplicates into weighted points
        # coarsens interpolation exactly like AddWeighted does upstream
        assert abs(a - b) <= 1.0 + 0.05 * span, (q, a, b)


@settings(max_examples=50, deadline=None)
@given(values=bulk_lists)
def test_weighted_equals_repeated(values):
    """AddWeighted(v, k) must be statistically equivalent to k adds
    (parity: TestWeights, tdigest_test.go:215-237)."""
    arr = np.asarray(values)
    weights = (np.arange(len(arr)) % 3 + 1).astype(np.int64)
    d_w = TDigest()
    d_w.add_batch(arr, weights)
    d_r = TDigest()
    d_r.add_batch(np.repeat(arr, weights))
    assert d_w.count == d_r.count
    s = np.sort(np.repeat(arr, weights))
    span = max(1.0, float(s[-1] - s[0]))
    for q in (0.25, 0.5, 0.75):
        assert abs(d_w.quantile(q) - d_r.quantile(q)) <= 0.1 * span


@settings(max_examples=100, deadline=None)
@given(
    values=value_lists,
    data=st.data(),
    compression=compressions,
    parts=st.integers(min_value=1, max_value=4),
)
def test_weighted_and_merged_quantiles_stay_in_range(values, data, compression, parts):
    """A weighted digest, built in ``parts`` pieces and merged, reads the
    exact min at q=0 and the exact max at q=1, and no quantile leaves
    [min, max] — however heavy the tail points are."""
    arr = np.asarray(values)
    w = np.asarray(
        data.draw(st.lists(st.integers(1, 1000), min_size=arr.size, max_size=arr.size)),
        dtype=np.int64,
    )
    pieces = [
        TDigest.from_values(v, c, compression=compression)
        for v, c in zip(np.array_split(arr, parts), np.array_split(w, parts))
        if v.size
    ]
    d = TDigest.merge_all(pieces)
    est = d.quantile(np.linspace(0, 1, 101))
    assert d.count == w.sum()
    assert est[0] == arr.min() and est[-1] == arr.max()
    assert ((est >= arr.min()) & (est <= arr.max())).all()

def test_reset_keeps_config():
    d = TDigest(compression=42)
    d.add_batch(np.arange(100.0))
    d.reset()
    assert d.count == 0 and len(d) == 0 and d.compression == 42
    d.add(5.0)
    assert d.quantile(0.5) == 5.0


# ------------------------------------------------------------------ KLL


@settings(max_examples=80, deadline=None)
@given(values=value_lists, k=st.sampled_from([8, 32, 200]))
def test_kll_invariants(values, k):
    """KLL mirrors the reference's property posture: exact count/min/max,
    quantile outputs inside [min, max], CDF in [0, 1] and monotone."""
    from go_tdigest_spark.sketches import KLL

    arr = np.asarray(values, dtype=np.float64)
    sk = KLL(k)
    sk.update(arr)
    assert sk.count == arr.size
    assert sk.quantile(0.0) == arr.min()
    assert sk.quantile(1.0) == arr.max()
    _, w = sk._weighted_items()
    assert int(w.sum()) == sk.count
    qs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
    est = [sk.quantile(q) for q in qs]
    assert all(arr.min() <= e <= arr.max() for e in est)
    assert est == sorted(est)  # quantile function is monotone
    xs = sorted({float(arr.min()), float(np.median(arr)), float(arr.max())})
    cdfs = [sk.cdf(x) for x in xs]
    assert all(0.0 <= c <= 1.0 for c in cdfs)
    assert cdfs == sorted(cdfs)
    assert sk.cdf(arr.max()) == 1.0

    # serde roundtrip is byte-stable and query-identical
    back = KLL.from_bytes(sk.to_bytes())
    assert back.to_bytes() == sk.to_bytes()
    assert [back.quantile(q) for q in qs] == est


@settings(max_examples=50, deadline=None)
@given(values=bulk_lists, parts=st.integers(min_value=2, max_value=8))
def test_kll_merge_matches_whole_within_bound(values, parts):
    """Partitioned build + merge answers like the single build — the
    distributed-correctness property (analogue of the reference's
    TestMerge suite)."""
    from go_tdigest_spark.sketches import KLL

    arr = np.asarray(values, dtype=np.float64)
    whole = KLL(64)
    whole.update(arr)
    merged = KLL(64)
    for chunk in np.array_split(arr, parts):
        part = KLL(64)
        part.update(chunk)
        merged.merge(part)
    assert merged.count == whole.count == arr.size
    assert merged.quantile(0.0) == whole.quantile(0.0) == arr.min()
    assert merged.quantile(1.0) == whole.quantile(1.0) == arr.max()
    s = np.sort(arr)

    def rank_err(x: float, q: float) -> float:
        # duplicated mass makes a value's true rank an INTERVAL
        # [left, right]; the error is the distance from q to it
        lo = np.searchsorted(s, x, side="left") / s.size
        hi = np.searchsorted(s, x, side="right") / s.size
        return 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))

    for q in (0.25, 0.5, 0.75):
        # k=64 at <=400 points: generous but real rank bound either way
        assert rank_err(merged.quantile(q), q) <= 0.25
        assert rank_err(whole.quantile(q), q) <= 0.25


def _ksweep_reference(means, counts, compression):
    """The sweep loop with no fast path — the pre-optimization form,
    kept as the oracle for the vectorized all-singleton shortcut."""
    import math

    m = means.size
    if m <= 1:
        if counts is None:
            return means.copy(), np.ones(m, dtype=np.int64)
        return means.copy(), counts.copy()
    if counts is None:
        wi = np.arange(1, m + 1, dtype=np.int64)
        wx = np.cumsum(means)
    else:
        wi = np.cumsum(counts)
        wx = np.cumsum(means * counts.astype(np.float64))
    wf = wi.astype(np.float64)
    n = wf[-1]
    efac = math.exp(4.0 / compression)
    out_means = np.empty(m, dtype=np.float64)
    out_counts = np.empty(m, dtype=np.int64)
    k = 0
    i = 0
    wprev_i = 0
    wxprev = 0.0
    while i < m:
        q0 = wprev_i / n
        qlimit = (q0 * efac) / (1.0 - q0 + q0 * efac)
        j = int(np.searchsorted(wf, qlimit * n, side="right"))
        if j <= i:
            j = i + 1
        c = int(wi[j - 1] - wprev_i)
        x = (wx[j - 1] - wxprev) / float(c)
        lo, hi = means[i], means[j - 1]
        if x < lo:
            x = lo
        elif x > hi:
            x = hi
        out_means[k] = x
        out_counts[k] = c
        k += 1
        wprev_i = int(wi[j - 1])
        wxprev = wx[j - 1]
        i = j
    return out_means[:k], out_counts[:k]


@given(
    values=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, width=64),
        min_size=1,
        max_size=600,
    ),
    weights=st.one_of(
        st.none(),
        st.lists(st.integers(1, 50), min_size=1, max_size=600),
    ),
    compression=st.sampled_from([20.0, 100.0, 300.0]),
)
@settings(max_examples=150, deadline=None)
def test_ksweep_fast_path_matches_loop(values, weights, compression):
    # sizes straddle the all-singleton boundary (total weight ~ 2*delta)
    # in both directions, so BOTH branches are exercised and must agree
    # bit-for-bit
    from go_tdigest_spark.core import _ksweep

    means = np.sort(np.asarray(values, dtype=np.float64))
    if weights is None:
        counts = None
    else:
        counts = np.resize(np.asarray(weights, dtype=np.int64), means.size)
    got_m, got_c = _ksweep(means, counts, compression)
    want_m, want_c = _ksweep_reference(means, counts, compression)
    assert got_c.dtype == want_c.dtype and got_m.dtype == want_m.dtype
    np.testing.assert_array_equal(got_m, want_m)
    np.testing.assert_array_equal(got_c, want_c)


@st.composite
def segment_layouts(draw):
    """Many groups fed in arrival-ordered batches: 1-point groups,
    all-singleton groups and groups over the flush size, weighted or
    not, float (with NaNs) or integer values."""
    n_groups = draw(st.integers(1, 10))
    sizes = draw(
        st.lists(
            st.one_of(st.just(1), st.integers(2, 40), st.integers(150, 700)),
            min_size=n_groups,
            max_size=n_groups,
        )
    )
    weighted = draw(st.booleans())
    ints = not weighted and draw(st.booleans())
    seed = draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    groups = []
    for size in sizes:
        if ints:
            hi = int(rng.choice([50, 10**6]))
            v = rng.integers(-hi, hi, size=size)
        else:
            # few decimals: plenty of exact ties between equal values
            v = np.round(rng.normal(size=size) * 10 ** rng.integers(0, 4), 2)
            v[rng.random(size) < 0.05] = np.nan
        w = rng.integers(1, 30, size=size) if weighted else None
        groups.append((v, w))
    n_batches = draw(st.integers(1, 4))
    # each group's values split at random points over the batches
    cuts = [
        np.sort(rng.integers(0, v.size + 1, size=n_batches - 1))
        for v, _ in groups
    ]
    batches = []
    for b in range(n_batches):
        gids = rng.permutation(n_groups)
        segs = []
        for g in gids:
            bounds = np.concatenate(([0], cuts[g], [groups[g][0].size]))
            segs.append((bounds[b], bounds[b + 1]))
        lens = [hi - lo for lo, hi in segs]
        off = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
        v = np.concatenate([groups[g][0][lo:hi] for g, (lo, hi) in zip(gids, segs)])
        w = None if not weighted else np.concatenate(
            [groups[g][1][lo:hi] for g, (lo, hi) in zip(gids, segs)]
        )
        batches.append((gids, off, v, w))
    return groups, batches


def _reference_sweep():
    """Patch TDigest's sweep to the fast-path-free reference loop."""
    from unittest import mock

    return mock.patch("go_tdigest_spark.core._ksweep", _ksweep_reference)


def _oracle_digests(groups, batches, compression, buffer_size):
    """Per-group TDigest over the same add_batch calls."""
    ds = [TDigest(compression, buffer_size) for _ in groups]
    with _reference_sweep():
        for gids, off, v, w in batches:
            for k, g in enumerate(gids):
                vv = v[off[k]:off[k + 1]]
                ww = None if w is None else w[off[k]:off[k + 1]]
                if vv.dtype.kind == "f":
                    keep = ~np.isnan(vv)
                    vv, ww = vv[keep], None if ww is None else ww[keep]
                if vv.size:
                    ds[g].add_batch(vv, ww)
        for d in ds:
            d.compress()
    return ds


def _assert_segments_match(means, counts, offsets, oracle, groups):
    """Centroids bit-identical to the oracle's (counts and means); tails
    exact; every mean inside the group's value range."""
    for g, d in enumerate(oracle):
        om, oc = d.centroids()
        m, c = means[offsets[g]:offsets[g + 1]], counts[offsets[g]:offsets[g + 1]]
        np.testing.assert_array_equal(c, oc)
        np.testing.assert_array_equal(m, om)
        v = groups[g][0].astype(np.float64)
        v = v[~np.isnan(v)]
        if v.size:
            assert m[0] == v.min() and m[-1] == v.max()
            assert (m >= v.min()).all() and (m <= v.max()).all()


@given(
    layout=segment_layouts(),
    compression=st.sampled_from([20.0, 100.0, 300.0]),
    buffer_size=st.sampled_from([16, 200, 32768]),
)
@settings(max_examples=120, deadline=None)
def test_segmented_build_and_merge_match_per_group(layout, compression, buffer_size):
    """The task-level kernels (one segmented sweep for all groups) give
    every group exactly the centroids (counts and means) a per-group
    TDigest gets: for stage-1 builds (flush rule included) and for
    merges."""
    import math

    from go_tdigest_spark.core import (
        _SegmentedBuild,
        _ksweep_segments,
        _merge_segments,
    )

    groups, batches = layout
    values = [v for v, _ in groups]
    oracle = _oracle_digests(groups, batches, compression, buffer_size)
    build = _SegmentedBuild(compression, buffer_size)
    for b in batches:
        build.add(*b)
    means, counts, offsets = build.finish(len(groups))
    _assert_segments_match(means, counts, offsets, oracle, groups)

    # merge: every group's digest split into up to three partial rows
    # (built from alternate batches), rows in shuffled order
    rng = np.random.default_rng(len(batches))
    parts = [
        _oracle_digests(groups, batches[i::3], compression, buffer_size)
        for i in range(min(3, len(batches)))
    ]
    rows = [(g, p[g]) for p in parts for g in range(len(groups))]
    rows = [rows[i] for i in rng.permutation(len(rows))]
    blob_means = [d.centroids()[0] for _, d in rows]
    blob_counts = [d.centroids()[1] for _, d in rows]
    col = serde.encode_many(
        np.concatenate(blob_means),
        np.concatenate(blob_counts),
        np.concatenate(([0], np.cumsum([m.size for m in blob_means]))),
        compression,
    )
    assert col.to_pylist() == [serde.encode(d) for _, d in rows]
    dm, dc, doff, dcomp = serde.decode_many(col)
    gids = np.array([g for g, _ in rows])
    m, c, off, comp = _merge_segments(dm, dc, doff, gids, len(groups), dcomp)
    assert (comp == compression).all()
    want = []
    with _reference_sweep():
        for g in range(len(groups)):
            merged = TDigest.merge_all([d.clone() for gg, d in rows if gg == g])
            merged.compress()
            want.append(merged)
    _assert_segments_match(m, c, off, want, groups)

    # the kernel itself: every centroid is a contiguous run of its
    # segment's sorted points, its mean in the run's [min, max] and
    # within the rounding bound of two sequential prefix sums of the
    # exact (fsum) weighted mean
    pts = [np.sort(v[~np.isnan(v.astype(np.float64))]).astype(np.float64) for v in values]
    seg_off = np.concatenate(([0], np.cumsum([p.size for p in pts])))
    flat = np.concatenate(pts)
    wts = (np.arange(flat.size) % 5 + 1).astype(np.int64)
    km, kc, ko = _ksweep_segments(flat, wts, seg_off, compression)
    for g in range(len(groups)):
        p, w = flat[seg_off[g]:seg_off[g + 1]], wts[seg_off[g]:seg_off[g + 1]]
        ends = np.searchsorted(np.cumsum(w), np.cumsum(kc[ko[g]:ko[g + 1]]))
        starts = np.concatenate(([0], ends[:-1] + 1))
        ref_m, ref_c = _ksweep_reference(p, w, compression)
        np.testing.assert_array_equal(kc[ko[g]:ko[g + 1]], ref_c)
        np.testing.assert_array_equal(km[ko[g]:ko[g + 1]], ref_m)
        eps = np.finfo(np.float64).eps
        for x, s, e in zip(km[ko[g]:ko[g + 1]], starts, ends + 1):
            run, rw = p[s:e], w[s:e]
            exact = math.fsum(run * rw) / int(rw.sum())
            prefix = float(np.sum(np.abs(p[:e] * w[:e])))
            assert run.min() <= x <= run.max()
            assert abs(x - exact) <= (2 * e * eps * prefix) / int(rw.sum()) + 2 * eps * abs(exact)


# ------------------------------------------------ merge trees (Spark shape)
#
# A digest table is a list of (group, means, counts) rows; a merge task
# is one _merge_segments call over many groups, as every tree-merge
# level (``_tree.grouped_merge``) runs it.


def _stage1_rows(layout, compression, buffer_size):
    """One stage-1 task per batch: a _SegmentedBuild over the batch, one
    partial row per group the batch holds (empty when all its values
    were NaN)."""
    from go_tdigest_spark.core import _SegmentedBuild

    groups, batches = layout
    rows = []
    for gids, off, v, w in batches:
        build = _SegmentedBuild(compression, buffer_size)
        build.add(gids, off, v, w)
        m, c, o = build.finish(len(groups))
        rows += [(g, m[o[g]:o[g + 1]], c[o[g]:o[g + 1]]) for g in gids]
    return rows


def _merge_task(rows, node, compression):
    """Merge ``rows`` into one digest per ``node`` id (0..n-1) through
    the serde and the segmented sweep, as one merge task does; returns
    (means, counts, offsets) with node k's centroids at
    ``[offsets[k], offsets[k+1])``."""
    from go_tdigest_spark.core import _merge_segments

    off = np.concatenate(([0], np.cumsum([r[1].size for r in rows])))
    col = serde.encode_many(
        np.concatenate([r[1] for r in rows]),
        np.concatenate([r[2] for r in rows]).astype(np.int64),
        off, compression,
    )
    dm, dc, doff, dcomp = serde.decode_many(col)
    m, c, o, _ = _merge_segments(dm, dc, doff, node, int(node.max()) + 1, dcomp)
    return m, c, o


def _assert_k_limit(inputs, counts, compression):
    """A merge never splits an input centroid, and every output centroid
    made of two or more inputs keeps the sweep's limit
    q1 <= sigmoid(logit(q0) + 4/delta) (``core._ksweep``)."""
    import math

    means = np.concatenate([r[1] for r in inputs])
    order = np.argsort(means, kind="stable")  # the merge's tie order
    incl = np.cumsum(np.concatenate([r[2] for r in inputs])[order])
    end = np.cumsum(counts)
    assert end.size == 0 or end[-1] == incl[-1]
    idx = np.searchsorted(incl, end)
    np.testing.assert_array_equal(incl[idx], end)
    n_in = np.diff(np.concatenate(([-1], idx)))
    n = float(end[-1]) if end.size else 0.0
    efac = math.exp(4.0 / compression)
    q0 = (end - counts)[n_in >= 2] / n
    qlimit = (q0 * efac) / (1.0 - q0 + q0 * efac)
    assert (end[n_in >= 2] <= np.floor(qlimit * n)).all()


@given(
    layout=segment_layouts(),
    compression=st.sampled_from([20.0, 100.0, 300.0]),
    buffer_size=st.sampled_from([16, 200, 32768]),
)
@settings(max_examples=80, deadline=None)
def test_lone_digest_remerges_to_its_own_bytes(layout, compression, buffer_size):
    """A digest alone in its merge group comes out of the task-level
    merge byte for byte: true of stage-1 partials and of merged digests
    (a salted tree level merges a (group, salt) with one row alone)."""
    leaves = _stage1_rows(layout, compression, buffer_size)
    g = np.array([r[0] for r in leaves])
    m, c, o = _merge_task(leaves, g, compression)
    rows = leaves + [
        (k, m[o[k]:o[k + 1]], c[o[k]:o[k + 1]]) for k in range(o.size - 1)
    ]
    node = np.random.default_rng(len(rows)).permutation(len(rows))
    m, c, o = _merge_task(rows, node, compression)
    want = [
        serde.encode_many(r[1], r[2].astype(np.int64), [0, r[1].size], compression)
        for r in rows
    ]
    got = serde.encode_many(m, c, o, compression)
    for r, k in enumerate(node):
        assert got[int(k)].as_py() == want[r][0].as_py()


@given(
    layout=segment_layouts(),
    compression=st.sampled_from([20.0, 100.0, 300.0]),
    buffer_size=st.sampled_from([16, 200, 32768]),
    seed=st.integers(0, 2**32 - 1),
)
@settings(max_examples=80, deadline=None)
def test_random_merge_trees_keep_count_min_max_and_k_limit(
    layout, compression, buffer_size, seed
):
    """Stage-1 partials merged through a random tree (random fan-in per
    node, lone pass-throughs, every level one task over all groups):
    each group ends with its exact total weight, min and max, and every
    merge respects the k-size limit."""
    groups, _ = layout
    rng = np.random.default_rng(seed)
    rows = _stage1_rows(layout, compression, buffer_size)
    while len(rows) > len({r[0] for r in rows}):
        rows = [rows[i] for i in rng.permutation(len(rows))]
        node, parent = np.empty(len(rows), dtype=np.int64), []
        for g in sorted({r[0] for r in rows}):
            mine = [i for i, r in enumerate(rows) if r[0] == g]
            lo = 2  # a group's first node merges >= 2 rows: the tree shrinks
            while mine:
                k = int(rng.integers(lo, 5))
                node[mine[:k]] = len(parent)
                parent.append((g, mine[:k]))
                mine, lo = mine[k:], 1
        m, c, o = _merge_task(rows, node, compression)
        for k, (g, take) in enumerate(parent):
            _assert_k_limit([rows[i] for i in take], c[o[k]:o[k + 1]], compression)
        rows = [
            (g, m[o[k]:o[k + 1]], c[o[k]:o[k + 1]])
            for k, (g, _) in enumerate(parent)
        ]
    for g, means, counts in rows:
        v, w = groups[g]
        keep = ~np.isnan(v.astype(np.float64))
        total = keep.sum() if w is None else w[keep].sum()
        assert counts.sum() == total
        if total:
            assert means[0] == v[keep].min() and means[-1] == v[keep].max()


# ----------------------------------------------------- sketch algebra

hash_lists = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    min_size=1,
    max_size=600,
)


def _np64(xs):
    return np.array(xs, dtype=np.int64)


@settings(max_examples=60, deadline=None)
@given(values=hash_lists, n_parts=st.integers(min_value=1, max_value=7))
def test_theta_split_merge_bitwise_and_exactness(values, n_parts):
    """Theta union is bitwise independent of how the input was split
    across partials (the property that makes the salted merge tree
    order-free), and while unsaturated the estimate is EXACT."""
    from go_tdigest_spark.sketches import ThetaSketch

    h = _np64(values)
    whole = ThetaSketch(64)
    whole.update_hashes(h)

    merged = ThetaSketch(64)
    for part in np.array_split(h, n_parts):
        p = ThetaSketch(64)
        if part.size:
            p.update_hashes(part)
        merged.merge(p)
    assert merged.to_bytes() == whole.to_bytes()

    n_distinct = len(np.unique(h))
    if whole.is_exact():
        assert whole.estimate() == float(n_distinct)
    else:
        # sampling mode: 3-sigma RSE bound holds overwhelmingly; use
        # 6 sigma so the property never flakes
        rse6 = 2 * whole.rse_bound(3.0)
        assert abs(whole.estimate() - n_distinct) <= rse6 * n_distinct + 1


@settings(max_examples=60, deadline=None)
@given(a=hash_lists, b=hash_lists)
def test_theta_set_algebra_partition_identity(a, b):
    """At min-theta the retained sets partition: retained(A∩B) +
    retained(A\\B) == A's retained hashes below min-theta — exact, for
    any inputs, saturated or not."""
    from go_tdigest_spark.sketches import ThetaSketch

    sa, sb = ThetaSketch(32), ThetaSketch(32)
    sa.update_hashes(_np64(a))
    sb.update_hashes(_np64(b))
    inter = sa.intersect(sb)
    diff = sa.a_not_b(sb)
    th = min(sa._theta_u(), sb._theta_u())
    if th >= sa._FULL:  # both exact: no theta cut (2^64 overflows uint64)
        a_below = sa.hashes
    else:
        a_below = sa.hashes[sa.hashes < np.uint64(th)]
    got = np.sort(np.concatenate([inter.hashes, diff.hashes]))
    assert np.array_equal(got, np.sort(a_below))


@settings(max_examples=60, deadline=None)
@given(values=hash_lists, n_parts=st.integers(min_value=1, max_value=7))
def test_hll_and_cms_split_merge_equals_whole(values, n_parts):
    """HLL register-max and CMS counter-add merges are bitwise equal to
    a single-pass build for ANY split; CMS point queries never
    undercount."""
    from go_tdigest_spark.sketches import HLL, CountMinSketch

    h = _np64(values)
    hll_whole = HLL(8)
    hll_whole.update_hashes(h)
    cms_whole = CountMinSketch(3, 64)
    cms_whole.update_hashes(h)

    hll_m, cms_m = HLL(8), CountMinSketch(3, 64)
    for part in np.array_split(h, n_parts):
        if not part.size:
            continue
        p1, p2 = HLL(8), CountMinSketch(3, 64)
        p1.update_hashes(part)
        p2.update_hashes(part)
        hll_m.merge(p1)
        cms_m.merge(p2)
    assert hll_m.to_bytes() == hll_whole.to_bytes()
    assert cms_m.to_bytes() == cms_whole.to_bytes()

    uniq, true_counts = np.unique(h, return_counts=True)
    est = cms_whole.point_query_hashes(uniq)
    assert (est >= true_counts).all()  # overcount-only, always


@settings(max_examples=40, deadline=None)
@given(
    values=st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=500
    ),
    k=st.integers(min_value=4, max_value=32),
    n_parts=st.integers(min_value=1, max_value=5),
)
def test_misra_gries_recall_guarantee_any_split(values, k, n_parts):
    """Mergeable MG guarantee for any input and any split: counters
    never overcount, err <= N/(k+1), and every item with true frequency
    > N/(k+1) survives the merge with count >= true - err."""
    from go_tdigest_spark.sketches import MisraGries

    h = _np64(values)
    merged = MisraGries(k)
    for part in np.array_split(h, n_parts):
        p = MisraGries(k)
        if part.size:
            p.update_hashes(part)
        merged.merge(p)

    n = h.size
    assert merged.err <= n // (k + 1)
    uniq, true_counts = np.unique(h, return_counts=True)
    kept = dict(zip(merged.hashes.tolist(), merged.counts.tolist()))
    for item, true in zip(uniq.tolist(), true_counts.tolist()):
        got = kept.get(item)
        if got is not None:
            assert got <= true  # never overcounts
        if true > n // (k + 1):
            assert got is not None and got >= true - merged.err
