"""Merging t-digest kernel: vectorized NumPy, no Spark dependency.

This is a from-scratch implementation of the *merging digest* form of
Ted Dunning's t-digest (Dunning & Ertl, "Computing Extremely Accurate
Quantiles Using t-Digests", arXiv:1902.04023).  The reference library
(caio/go-tdigest, /root/reference) uses per-sample randomized insertion
(tdigest.go:163-200); we deliberately use buffered sort + a single
k-bound merge sweep instead, because it is O(B log B) per flush and
fully vectorizable — the semantics contract we keep is the reference's
*query* behavior and *error bounds*, not its construction internals
(construction is RNG-dependent there anyway, tdigest.go:396-399).

Size bound parity: the reference allows a centroid to absorb weight only
while ``c <= 4 * n * q * (1-q) / compression`` (tdigest.go:393).  Our
sweep uses the equivalent scale-function formulation: with
``k(q) = (delta/4) * ln(q / (1-q))`` a centroid may span at most one
k-unit, which by the mean value theorem gives exactly the same
``4 n q (1-q) / delta`` weight bound.  Tails are therefore exact
singletons (k has singularities at q=0,1), which preserves min/max —
the same property the reference's TestSingletonInACrowd checks
(tdigest_test.go:169-193).

Segmented sweep: a Spark task builds or merges thousands of small
digests at once (one per group).  ``_ksweep_segments`` runs the same
greedy sweep for every group of a ``(group, value)``-sorted array in
lockstep: each NumPy step closes one centroid of every still-open group,
so the Python loop runs once per centroid of the largest group, not once
per centroid summed over all groups.  Cluster limits are compared as
integer prefix weights against ``floor(qlimit * n)``, which is exactly
the float comparison ``_ksweep`` makes, so centroid counts are
bit-identical; means are differences of per-segment prefix sums, added
in the same order as ``_ksweep`` adds them, so they are bit-identical
too (and a later sweep that sorts them sees the same ties).  ``_SegmentedBuild`` and
``_merge_segments`` drive it for stage-1 partials and tree-merge levels;
``_ksweep`` remains the single-digest kernel behind ``TDigest`` (the
lockstep form is slower on one digest).

Query semantics replicated exactly (see docstrings):
  - quantile: tdigest.go:93-140  (piecewise-linear over centroid ranks;
    the tails are held flat, not extrapolated, which differs from the
    reference only at a weighted tail point)
  - cdf:      tdigest.go:295-333 (half-distance spans, terminal jump)
  - trimmed_mean: tdigest.go:411-455 (boundary clipping)
"""

from __future__ import annotations

import math

import numpy as np

__all__ = ["TDigest", "DEFAULT_COMPRESSION"]

DEFAULT_COMPRESSION = 100.0
# Buffered inserts: flush when this many raw samples are pending.
DEFAULT_BUFFER_SIZE = 32768


def _ksweep(
    means: np.ndarray, counts: np.ndarray | None, compression: float
) -> tuple[np.ndarray, np.ndarray]:
    """One left-to-right k-bound merge sweep over sorted weighted points.

    ``means`` must be sorted ascending; ``counts`` positive int64, or
    None meaning all-ones (the bulk-insert fast path: prefix weights are
    then ``arange`` and no ones array is ever materialized).
    Returns (means, counts) of the compressed centroid list, sorted.
    """
    m = means.size
    if m <= 1:
        if counts is None:
            return means.copy(), np.ones(m, dtype=np.int64)
        return means.copy(), counts.copy()

    if counts is None:
        wi = np.arange(1, m + 1, dtype=np.int64)
        wx = np.cumsum(means)
    else:
        wi = np.cumsum(counts)  # exact int64 prefix weights
        wx = np.cumsum(means * counts.astype(np.float64))
    wf = wi.astype(np.float64)
    n = wf[-1]

    # qlimit(q0) = sigmoid(logit(q0) + 4/delta); q0=0 -> 0 (tail singleton)
    efac = math.exp(4.0 / compression)

    # All-singleton fast path: a cluster starting at point i (prefix
    # weight wf[i-1]) absorbs its successor iff wf[i+1] <= qlimit*n.  If
    # NO point can absorb its successor, every cluster is a singleton and
    # the sweep's output IS its input (x clamps to the point's own mean).
    # This is the common case for small digests (total weight below
    # ~2*compression) — fine-grained groupings produce thousands of them
    # per task, and the O(m) vectorized check replaces m sequential
    # searchsorted calls.  Exact: same comparison the loop performs.
    wprev_all = np.concatenate(([0.0], wf[: m - 2]))
    q0_all = wprev_all / n
    qlim_n = (q0_all * efac) / (1.0 - q0_all + q0_all * efac) * n
    if np.all(wf[1:] > qlim_n):
        if counts is None:
            return means.copy(), np.ones(m, dtype=np.int64)
        return means.astype(np.float64, copy=True), counts.copy()

    ss = wf.searchsorted
    out_means = np.empty(m, dtype=np.float64)
    out_counts = np.empty(m, dtype=np.int64)
    k = 0
    i = 0
    wprev_i = 0  # int prefix weight before current centroid
    wxprev = 0.0
    while i < m:
        q0 = wprev_i / n
        qlimit = (q0 * efac) / (1.0 - q0 + q0 * efac)
        # widest j such that all points i..j-1 keep cumweight <= qlimit*n
        j = int(ss(qlimit * n, side="right"))
        if j <= i:
            j = i + 1
        c = int(wi[j - 1] - wprev_i)
        x = (wx[j - 1] - wxprev) / float(c)
        # numeric safety clamp: centroid mean must stay inside the span of
        # its constituents (parity with boundedWeightedAverage,
        # tdigest.go:147-153)
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


def _ksweep_dense(
    means: np.ndarray, counts: np.ndarray, compression: float
) -> tuple[np.ndarray, np.ndarray]:
    """k-bound sweep over a dense histogram (unique sorted values with
    duplicate counts), allowed to SPLIT bins at rank boundaries.

    Splitting a bin is exact — all its mass sits at one value — so this
    reproduces, rank for rank, what the singleton-stream sweep would do
    on the expanded data (the plain weighted sweep cannot split input
    points and would under-resolve heavy duplicate runs, bypassing the
    k-bound the way a giant AddWeighted would).
    """
    m = means.size
    if m == 0:
        return means.copy(), counts.copy()
    wi = np.cumsum(counts)
    wx = np.cumsum(means * counts.astype(np.float64))
    n = int(wi[-1])
    nf = float(n)
    if n == 1:
        return means.astype(np.float64, copy=True), counts.copy()
    efac = math.exp(4.0 / compression)
    out_m: list[float] = []
    out_c: list[int] = []
    wprev = 0
    while wprev < n:
        q0 = wprev / nf
        qlimit = (q0 * efac) / (1.0 - q0 + q0 * efac)
        wend = int(qlimit * nf)
        if wend <= wprev:
            wend = wprev + 1
        elif wend > n:
            wend = n
        i0 = int(np.searchsorted(wi, wprev, side="right"))
        i1 = int(np.searchsorted(wi, wend, side="left"))
        total_x = wx[i1] - (wx[i0 - 1] if i0 > 0 else 0.0)
        head_extra = (wprev - (int(wi[i0 - 1]) if i0 > 0 else 0)) * means[i0]
        tail_extra = (int(wi[i1]) - wend) * means[i1]
        c = wend - wprev
        x = (total_x - head_extra - tail_extra) / c
        lo, hi = means[i0], means[i1]
        if x < lo:
            x = lo
        elif x > hi:
            x = hi
        out_m.append(float(x))
        out_c.append(c)
        wprev = wend
    return np.asarray(out_m, dtype=np.float64), np.asarray(out_c, dtype=np.int64)


def _is_dense(span, size):
    """Whether integers spanning ``span`` take the bincount route."""
    return span < np.maximum(1 << 16, size // 4)


def _dense_int_centroids(
    v: np.ndarray, vmin: int, span: int, compression: float
) -> tuple[np.ndarray, np.ndarray]:
    """Centroids of unweighted integers over a dense domain (e.g. token
    ids; ``_is_dense``), ``vmin``/``span`` being their minimum and range.

    Duplicates collapse in one bincount pass — no sort at all.  The
    dense sweep splits bins at rank boundaries, so the result matches
    the singleton-stream sweep (exact tails included) at a fraction of
    the cost.
    """
    cnt = np.bincount((v - vmin).astype(np.int64), minlength=span + 1)
    nz = np.nonzero(cnt)[0]
    return _ksweep_dense(
        (nz + vmin).astype(np.float64), cnt[nz].astype(np.int64), compression
    )


def _efac(compression, n_segments: int) -> np.ndarray:
    """``exp(4/delta)`` per segment, via ``math.exp`` so every segment's
    limit is bit-identical to the one ``_ksweep`` computes."""
    comp = np.asarray(compression, dtype=np.float64)
    if comp.ndim == 0:
        return np.full(n_segments, math.exp(4.0 / float(comp)))
    uniq, inv = np.unique(comp, return_inverse=True)
    return np.array([math.exp(4.0 / c) for c in uniq])[inv]


def _segment_cumsum(x: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Inclusive cumsum restarting at every segment, bit-identical to
    ``np.cumsum`` of each segment on its own (accumulate adds strictly
    left to right; a global cumsum would carry other segments' rounding).
    Segments are padded into 2-D blocks of lengths within a factor of 2
    (at most twice the work), one ``cumsum(axis=1)`` per block."""
    out = np.empty(x.size, dtype=np.float64)
    lo, lens = offsets[:-1], np.diff(offsets)
    width = np.frexp(np.maximum(lens - 1, 0))[1]  # 2**width >= len
    for c in np.unique(width[lens > 0]):
        rows = np.flatnonzero((width == c) & (lens > 0))
        w = int(lens[rows].max())
        idx = lo[rows, None] + np.arange(w)
        valid = np.arange(w) < lens[rows, None]
        block = np.where(valid, x[np.where(valid, idx, 0)], 0.0)
        out[idx[valid]] = np.cumsum(block, axis=1)[valid]
    return out


def _ksweep_segments(
    means: np.ndarray,
    counts: np.ndarray | None,
    offsets: np.ndarray,
    compression,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``_ksweep`` over every segment ``means[offsets[s]:offsets[s+1]]``
    at once (each segment sorted ascending; empty segments allowed).

    ``compression`` is a scalar or one value per segment.  Returns
    (means, counts, out_offsets): segment s's centroids are
    ``[out_offsets[s], out_offsets[s+1])``.  Counts are bit-identical to
    ``_ksweep`` per segment, and so are means: they are differences of
    per-segment prefix sums, as in ``_ksweep``.
    """
    m = means.size
    offsets = np.asarray(offsets, dtype=np.int64)
    n_seg = offsets.size - 1
    # cw[k] = integer prefix weight of the points before k, over the
    # whole array; wx = per-point weighted value
    cw = np.zeros(m + 1, dtype=np.int64)
    if counts is None:
        cw[1:] = np.arange(1, m + 1)
        wx = means
    else:
        np.cumsum(counts, out=cw[1:])
        wx = means * counts.astype(np.float64)
    seg_lo, seg_hi = offsets[:-1], offsets[1:]
    live = np.flatnonzero(seg_hi > seg_lo)
    i = seg_lo[live]
    end = seg_hi[live]
    base = cw[i]
    nf = (cw[end] - base).astype(np.float64)
    efac = _efac(compression, n_seg)[live]
    wprev = np.zeros(live.size, dtype=np.int64)
    starts = []
    incl = cw[1:]  # prefix weight through each point
    while i.size:
        # lockstep step: every open segment closes one centroid, exactly
        # as one iteration of _ksweep's loop would (same float ops)
        starts.append(i)
        q0 = wprev / nf
        qlimit = (q0 * efac) / (1.0 - q0 + q0 * efac)
        # float(prefix) <= qlimit*n  <=>  prefix <= floor(qlimit*n)
        lim = np.floor(qlimit * nf).astype(np.int64)
        j = np.searchsorted(incl, base + lim, side="right")
        j = np.minimum(np.maximum(j, i + 1), end)
        wprev = cw[j] - base
        i = j
        more = j < end
        if not more.all():
            i, end, base, nf, efac, wprev = (
                x[more] for x in (i, end, base, nf, efac, wprev)
            )
    if not starts:
        return (
            np.empty(0, dtype=np.float64),
            np.empty(0, dtype=np.int64),
            np.zeros(n_seg + 1, dtype=np.int64),
        )
    # clusters tile every non-empty segment, so the sorted starts are
    # the boundaries of all of them
    s = np.sort(np.concatenate(starts))
    e = np.append(s[1:], m)
    out_c = cw[e] - cw[s]
    psum = _segment_cumsum(wx, offsets)
    head = np.zeros(m, dtype=bool)
    head[seg_lo[live]] = True
    x = (psum[e - 1] - np.where(head[s], 0.0, psum[s - 1])) / out_c
    # numeric safety clamp (parity with _ksweep / boundedWeightedAverage)
    out_m = np.minimum(np.maximum(x, means[s]), means[e - 1])
    seg = np.searchsorted(offsets, s, side="right") - 1
    out_off = np.zeros(n_seg + 1, dtype=np.int64)
    np.cumsum(np.bincount(seg, minlength=n_seg), out=out_off[1:])
    return out_m, out_c, out_off


# ------------------------------------------------- many digests per task
#
# A "segmented set" is (gids, offsets, a, b): segment k holds the points
# a[offsets[k]:offsets[k+1]] (weights b, or None) of group id gids[k].


def _subset(parts, sel: np.ndarray):
    """Split segmented sets by a boolean mask over group ids: returns
    (taken, kept) lists of segmented sets."""
    taken, kept = [], []
    for gids, off, a, b in parts:
        s = sel[gids]
        if s.all():
            taken.append((gids, off, a, b))
            continue
        if not s.any():
            kept.append((gids, off, a, b))
            continue
        lens = np.diff(off)
        pv = np.repeat(s, lens)
        for dst, keep, vals in ((taken, s, pv), (kept, ~s, ~pv)):
            o = np.zeros(int(keep.sum()) + 1, dtype=np.int64)
            np.cumsum(lens[keep], out=o[1:])
            dst.append(
                (gids[keep], o, a[vals], None if b is None else b[vals])
            )
    return taken, kept


def _gid_order(g: np.ndarray, order: np.ndarray | None = None) -> np.ndarray:
    """Stable argsort of group ids (of ``g[order]`` when given, composed
    with ``order``); radix sort when the ids fit 16 bits."""
    key = g if order is None else g[order]
    if key.size and key.max() < 1 << 16:
        key = key.astype(np.uint16)
    o = np.argsort(key, kind="stable")
    return o if order is None else order[o]


def _group_value_order(g: np.ndarray, a: np.ndarray, stable: bool) -> np.ndarray:
    """Argsort by (group id, value).  With ``stable``, equal pairs keep
    index order, like ``np.lexsort`` but with the fast unstable value
    sort and a fix-up of the (usually few) tied runs."""
    o = _gid_order(g, np.argsort(a))
    if stable:
        ga, aa = g[o], a[o]
        tie = (aa[1:] == aa[:-1]) & (ga[1:] == ga[:-1])
        if tie.any():
            run = np.cumsum(np.concatenate(([True], ~tie)))
            idx = np.flatnonzero(
                np.concatenate((tie, [False])) | np.concatenate(([False], tie))
            )
            sub = o[idx]
            o[idx] = sub[np.lexsort((sub, run[idx]))]
    return o


def _regroup(parts, sort: bool, ordered: bool = True):
    """Concatenate segmented sets into one with a single non-empty
    segment per group id, in ascending gid order (any order when not
    ``ordered``).  ``sort`` also sorts each segment by value.  Both
    sorts are stable, so equal values keep arrival order (the tie order
    a single digest's stable argsort gives)."""
    if len(parts) == 1 and not sort:
        # one set never repeats a gid: only empty segments to drop
        gids, off, a, b = parts[0]
        lens = np.diff(off)
        if not (lens > 0).all():
            gids, lens = gids[lens > 0], lens[lens > 0]
            off = np.concatenate(([0], np.cumsum(lens)))
        if not ordered or (np.diff(gids) > 0).all():
            return gids, off, a, b
    g = np.concatenate([np.repeat(p[0], np.diff(p[1])) for p in parts])
    a = np.concatenate([p[2] for p in parts])
    b = None if parts[0][3] is None else np.concatenate([p[3] for p in parts])
    if sort:
        # ties only matter when their weights can differ
        order = _group_value_order(g, a, stable=b is not None)
    else:
        order = _gid_order(g)
    g, a = g[order], a[order]
    b = None if b is None else b[order]
    head = np.flatnonzero(np.concatenate(([True], g[1:] != g[:-1])))
    return g[head], np.append(head, g.size).astype(np.int64), a, b


class _SegmentedBuild:
    """One digest per group id, built for many groups at once.

    Gives each group exactly the centroid counts of a ``TDigest`` fed
    the same ``add_batch`` calls: a group's raw values are swept into
    its centroids when its pending count reaches ``buffer_size`` (the
    ``TDigest`` flush rule, so memory stays bounded per group), and at
    ``finish``.  Unweighted integers over a dense domain keep the
    per-group bincount route; everything else goes through one
    segmented sweep per flush.
    """

    def __init__(
        self, compression: float = DEFAULT_COMPRESSION,
        buffer_size: int = DEFAULT_BUFFER_SIZE,
    ) -> None:
        self.compression = float(compression)
        self.buffer_size = int(buffer_size)
        self._raw: list = []  # pending raw values (segmented sets)
        self._cent: list = []  # swept centroids, each gid in one set
        self._pending = np.zeros(0, dtype=np.int64)

    def add(self, gids, offsets, values, weights=None) -> None:
        """Segment k (``values[offsets[k]:offsets[k+1]]``) is one
        ``add_batch`` call for group ``gids[k]``; the ids of one call
        are distinct.  NaN values are dropped with their weights."""
        gids = np.asarray(gids, dtype=np.int64)
        offsets = np.asarray(offsets, dtype=np.int64)
        # TDigest.add_batch's dtype rule: integers keep their dtype (for
        # the dense route), everything else becomes float64
        values = np.asarray(values)
        if values.dtype.kind not in "iu":
            values = values.astype(np.float64, copy=False)
        if weights is not None:
            weights = np.asarray(weights, dtype=np.int64)
            if (weights <= 0).any():
                raise ValueError("weights must be positive")
        if values.dtype.kind == "f":
            keep = ~np.isnan(values)
            if not keep.all():
                kept = np.concatenate(([0], np.cumsum(keep)))
                offsets = kept[offsets]
                values = values[keep]
                weights = None if weights is None else weights[keep]
        if gids.size and gids.max() >= self._pending.size:
            grown = np.zeros(max(int(gids.max()) + 1, 2 * self._pending.size),
                             dtype=np.int64)
            grown[: self._pending.size] = self._pending
            self._pending = grown
        self._pending[gids] += np.diff(offsets)
        self._raw.append((gids, offsets, values, weights))
        full = gids[self._pending[gids] >= self.buffer_size]
        if full.size:
            self._flush(full)

    def _flush(self, gids: np.ndarray) -> None:
        sel = np.zeros(self._pending.size, dtype=bool)
        sel[gids] = True
        raw, self._raw = _subset(self._raw, sel)
        old, self._cent = _subset(self._cent, sel)
        self._pending[gids] = 0
        if raw[0][3] is not None:
            # weighted (TDigest._flush slow path): existing centroids
            # first, then raw points in arrival order, one sweep
            parts = old + [
                (g, o, a.astype(np.float64, copy=False), b)
                for g, o, a, b in raw
            ]
            g, o, a, b = _regroup(parts, sort=True)
            m, c, oo = _ksweep_segments(a, b, o, self.compression)
            self._cent.append((g, oo, m, c))
            return
        new = self._sweep_raw(raw)
        if old:
            # fold into the existing centroids (re-sweeping a group with
            # no old centroids is exact: a sweep's output is a fixed point)
            g, o, a, b = _regroup(old + new, sort=True)
            m, c, oo = _ksweep_segments(a, b, o, self.compression)
            new = [(g, oo, m, c)]
        self._cent.extend(new)

    def _sweep_raw(self, raw) -> list:
        """Unweighted raw values -> centroid sets (TDigest._flush fast
        path: dense-integer bincount per group, else sort + sweep)."""
        out = []
        if all(p[2].dtype.kind in "iu" for p in raw):
            g, o, a, _ = _regroup(raw, sort=False, ordered=False)
            vmin = np.minimum.reduceat(a, o[:-1])
            # uint64 differences are exact for any integer span
            span = np.maximum.reduceat(a, o[:-1]).astype(np.uint64) - vmin.astype(
                np.uint64
            )
            sparse = np.ones(self._pending.size, dtype=bool)
            for k in np.flatnonzero(_is_dense(span, np.diff(o))):
                m, c = _dense_int_centroids(
                    a[o[k]:o[k + 1]], int(vmin[k]), int(span[k]), self.compression
                )
                out.append((g[k:k + 1], np.array([0, m.size]), m, c))
                sparse[g[k]] = False
            raw = _subset([(g, o, a, None)], sparse)[0]
        if raw:
            g, o, a, _ = _regroup(raw, sort=True)
            m, c, oo = _ksweep_segments(
                a.astype(np.float64, copy=False), None, o, self.compression
            )
            out.append((g, oo, m, c))
        return out

    def finish(self, n_groups: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Flush every group; returns (means, counts, offsets) with group
        id g's centroids at ``[offsets[g], offsets[g+1])`` for g in
        ``range(n_groups)`` (groups that never got a value are empty)."""
        pending = np.flatnonzero(self._pending)
        if pending.size:
            self._flush(pending)
        off = np.zeros(n_groups + 1, dtype=np.int64)
        if not self._cent:
            return np.empty(0), np.empty(0, dtype=np.int64), off
        g, o, m, c = _regroup(self._cent, sort=False)
        lens = np.zeros(n_groups, dtype=np.int64)
        lens[g] = np.diff(o)
        np.cumsum(lens, out=off[1:])
        return m, c, off


def _merge_segments(means, counts, offsets, gids, n_groups: int, compression):
    """Merge many digests into one per group id: digest r (centroids
    ``[offsets[r], offsets[r+1])``, compression ``compression[r]``)
    belongs to group ``gids[r]``; every id in ``range(n_groups)`` occurs.

    Per group this is ``TDigest.merge_all`` over its digests in row
    order (same stable tie order, the first digest's compression), in
    one segmented sweep.  Returns (means, counts, offsets, compression
    per group).
    """
    gids = np.asarray(gids, dtype=np.int64)
    lens = np.diff(offsets)
    g = np.repeat(gids, lens)
    order = _group_value_order(g, means, stable=True)
    glen = np.bincount(g, minlength=n_groups)
    goff = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(glen, out=goff[1:])
    first = np.unique(gids, return_index=True)[1]
    comp = np.asarray(compression, dtype=np.float64)[first]
    m, c, oo = _ksweep_segments(means[order], counts[order], goff, comp)
    return m, c, oo, comp


class TDigest:
    """A mergeable quantile sketch (merging-digest formulation).

    State is a sorted centroid list (two parallel float64/int64 arrays —
    same struct-of-arrays layout as the reference's ``summary``,
    summary.go:9-12) plus an unsorted insert buffer that is compressed
    lazily ("buffered inserts, periodic compress").
    """

    __slots__ = ("compression", "_means", "_counts", "_buf_v", "_buf_w", "_buf_len",
                 "buffer_size")

    def __init__(
        self,
        compression: float = DEFAULT_COMPRESSION,
        buffer_size: int = DEFAULT_BUFFER_SIZE,
    ) -> None:
        # parity: compression must be >= 1 (options.go:20-28)
        if not compression >= 1:
            raise ValueError("compression should be >= 1")
        self.compression = float(compression)
        self.buffer_size = int(buffer_size)
        self._means = np.empty(0, dtype=np.float64)
        self._counts = np.empty(0, dtype=np.int64)
        self._buf_v: list[np.ndarray] = []
        self._buf_w: list[np.ndarray] = []
        self._buf_len = 0

    # ------------------------------------------------------------------ build

    def add(self, value: float, weight: int = 1) -> None:
        """Insert one weighted sample (parity: AddWeighted, tdigest.go:163).

        NaN values and non-positive weights are rejected, matching the
        reference (summary.go:27-32, tdigest.go:164-166).
        """
        self.add_batch(np.asarray([value], dtype=np.float64),
                       np.asarray([weight], dtype=np.int64))

    def add_batch(self, values: np.ndarray, weights: np.ndarray | None = None) -> None:
        """Insert a vector of samples with optional positive int weights.

        Unweighted integer input is kept in its native dtype until the
        flush sorts it (4-byte sorts are ~2x cheaper than 8-byte, and the
        all-ones weight vector is never materialized).
        """
        values = np.asarray(values)
        if values.ndim != 1:
            values = values.ravel()
        if values.size == 0:
            return
        if values.dtype.kind == "f":
            if values.dtype != np.float64:
                values = values.astype(np.float64)
            if np.isnan(values).any():
                raise ValueError("cannot add NaN values to the digest")
        elif values.dtype.kind not in "iu":
            values = values.astype(np.float64)
            if np.isnan(values).any():
                raise ValueError("cannot add NaN values to the digest")
        if weights is not None:
            weights = np.asarray(weights, dtype=np.int64)
            if weights.shape != values.shape:
                raise ValueError("values and weights must align")
            if (weights <= 0).any():
                raise ValueError("weights must be positive")
        self._buf_v.append(values)
        self._buf_w.append(weights)
        self._buf_len += values.size
        if self._buf_len >= self.buffer_size:
            self._flush()

    def _flush(self) -> None:
        if self._buf_len == 0:
            return
        bufs_v, bufs_w = self._buf_v, self._buf_w
        self._buf_v, self._buf_w = [], []
        self._buf_len = 0

        if all(w is None for w in bufs_w):
            # fast path: sort the raw samples in native dtype (all-ones
            # weights stay implicit), sweep them alone, then fold the
            # resulting small centroid list into the existing one —
            # exactly a digest merge, so semantics are unchanged
            v = bufs_v[0] if len(bufs_v) == 1 else np.concatenate(bufs_v)
            if v.dtype.kind in "iu":
                vmin = int(v.min())
                span = int(v.max()) - vmin
                if _is_dense(span, v.size):
                    new_m, new_c = _dense_int_centroids(
                        v, vmin, span, self.compression
                    )
                else:
                    v = np.sort(v, kind="stable")  # radix for ints
                    new_m, new_c = _ksweep(
                        v.astype(np.float64), None, self.compression
                    )
            else:
                v = np.sort(v)
                new_m, new_c = _ksweep(v, None, self.compression)
            if self._means.size == 0:
                self._means, self._counts = new_m, new_c
                return
            m = np.concatenate((self._means, new_m))
            c = np.concatenate((self._counts, new_c))
        else:
            chunks_v = [self._means] + [
                b if b.dtype == np.float64 else b.astype(np.float64) for b in bufs_v
            ]
            chunks_w = [self._counts] + [
                np.ones(b.size, dtype=np.int64) if w is None else w
                for b, w in zip(bufs_v, bufs_w)
            ]
            m = np.concatenate(chunks_v)
            c = np.concatenate(chunks_w)
        order = np.argsort(m, kind="stable")
        self._means, self._counts = _ksweep(m[order], c[order], self.compression)

    def compress(self) -> None:
        """Force-compact (parity: Compress, tdigest.go:239-254; advised
        before serializing, tdigest.go:236-238). Count-preserving."""
        if self._buf_len:
            # a flush ends in a sweep, and a sweep's output is a fixed
            # point of the sweep (no centroid can absorb its successor),
            # so a second pass would change nothing
            self._flush()
        else:
            self._means, self._counts = _ksweep(
                self._means, self._counts, self.compression
            )

    def merge(self, *others: "TDigest") -> "TDigest":
        """Fold other digests into self (parity: Merge, tdigest.go:262-272).

        Associative and commutative up to sketch error — the map-reduce
        property the reference proves in TestMerge (tdigest_test.go:297-383).
        """
        for other in others:
            other._flush()
            if other._means.size:
                self._buf_v.append(other._means)
                self._buf_w.append(other._counts)
                self._buf_len += other._means.size
        self._flush()
        return self

    @classmethod
    def from_values(
        cls,
        values: np.ndarray,
        weights: np.ndarray | None = None,
        compression: float = DEFAULT_COMPRESSION,
    ) -> "TDigest":
        d = cls(compression=compression, buffer_size=max(DEFAULT_BUFFER_SIZE, len(values)))
        d.add_batch(np.asarray(values), weights)
        d._flush()
        return d

    @classmethod
    def from_centroids(
        cls,
        means: np.ndarray,
        counts: np.ndarray,
        compression: float = DEFAULT_COMPRESSION,
    ) -> "TDigest":
        """Rehydrate from an already-sorted centroid list (deserialization)."""
        d = cls(compression=compression)
        d._means = np.asarray(means, dtype=np.float64)
        d._counts = np.asarray(counts, dtype=np.int64)
        return d

    @classmethod
    def merge_all(cls, digests, compression: float | None = None) -> "TDigest":
        """Merge an iterable of digests into a fresh one (tree-merge leaf)."""
        digests = list(digests)
        if compression is None:
            compression = digests[0].compression if digests else DEFAULT_COMPRESSION
        out = cls(compression=compression)
        out.merge(*digests)
        return out

    # ------------------------------------------------------------ inspection

    @property
    def count(self) -> int:
        """Total weight ingested (parity: Count, tdigest.go:218-220)."""
        buffered = sum(
            v.size if w is None else int(w.sum())
            for v, w in zip(self._buf_v, self._buf_w)
        )
        return int(self._counts.sum()) + buffered

    def __len__(self) -> int:
        self._flush()
        return int(self._means.size)

    def centroids(self) -> tuple[np.ndarray, np.ndarray]:
        """Ordered (means, counts) view (parity: ForEachCentroid)."""
        self._flush()
        return self._means, self._counts

    def clone(self) -> "TDigest":
        self._flush()
        return TDigest.from_centroids(
            self._means.copy(), self._counts.copy(), self.compression
        )

    def reset(self) -> None:
        """Clear all state, keep configuration (parity: Reset,
        tdigest.go:346-349)."""
        self._means = np.empty(0, dtype=np.float64)
        self._counts = np.empty(0, dtype=np.int64)
        self._buf_v.clear()
        self._buf_w.clear()
        self._buf_len = 0

    # ---------------------------------------------------------------- queries

    def quantile(self, q):
        """Quantile estimate; parity with tdigest.go:93-140 but for the tails.

        The estimator is piecewise-linear interpolation through the points
        (rank_i, mean_i) with rank_i = headsum_i + (count_i - 1)/2, held
        flat at the first/last mean down to rank 0 and up to rank
        count-1.  The k-bound sweep makes each tail centroid one input
        point, so its whole weight sits at its mean, which is the exact
        min/max.  go-tdigest extrapolates the first/last segment there
        instead; the two differ only when a tail centroid's count is
        above 1 (a weighted point), where extrapolating reads past the
        data.  q outside [0,1] raises; empty digest -> NaN; single
        centroid -> its mean.
        """
        q_arr = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if ((q_arr < 0) | (q_arr > 1)).any():
            raise ValueError("q must be between 0 and 1 (inclusive)")
        self._flush()
        m = self._means.size
        scalar = np.isscalar(q) or getattr(q, "ndim", 1) == 0
        if m == 0:
            out = np.full(q_arr.shape, np.nan)
            return float(out[0]) if scalar else out
        if m == 1:
            out = np.full(q_arr.shape, self._means[0])
            return float(out[0]) if scalar else out

        n = float(self._counts.sum())
        c = self._counts.astype(np.float64)
        head = np.concatenate(([0.0], np.cumsum(c)[:-1]))
        pos = head + (c - 1.0) / 2.0
        index = q_arr * (n - 1.0)

        # np.interp holds the end values flat outside [pos[0], pos[-1]]
        out = np.interp(index, pos, self._means)
        return float(out[0]) if scalar else out

    def cdf(self, x):
        """Fraction of mass <= x; exact parity with tdigest.go:295-333.

        Centroid i's mass is spread linearly over the span between the
        midpoints to its neighbors; spans tile contiguously, the mass of
        the last centroid is a jump to 1 at its left midpoint (that is
        the reference's loop structure — it never interpolates inside the
        final centroid).
        """
        x_arr = np.atleast_1d(np.asarray(x, dtype=np.float64))
        scalar = np.isscalar(x) or getattr(x, "ndim", 1) == 0
        self._flush()
        m = self._means.size
        if m == 0:
            out = np.full(x_arr.shape, np.nan)
            return float(out[0]) if scalar else out
        if m == 1:
            out = np.where(x_arr < self._means[0], 0.0, 1.0)
            return float(out[0]) if scalar else out

        n = float(self._counts.sum())
        mids = (self._means[:-1] + self._means[1:]) / 2.0
        lo0 = self._means[0] - (self._means[1] - self._means[0]) / 2.0
        knots = np.concatenate(([lo0], mids))  # length m
        heads = np.concatenate(([0.0], np.cumsum(self._counts[:-1]))) / n
        out = np.interp(x_arr, knots, heads)
        out = np.where(x_arr >= knots[-1], 1.0, out)
        # numerical hardening: subnormal-width spans can overflow the
        # interpolation slope to +/-inf (the hazard class behind the
        # reference's issue #17 / TestCDFInsideLastCentroid) — a CDF is a
        # fraction, clamp it
        out = np.clip(np.nan_to_num(out, nan=np.nan, posinf=1.0, neginf=0.0), 0.0, 1.0)
        return float(out[0]) if scalar else out

    def trimmed_mean(self, p1: float, p2: float) -> float:
        """Mean of mass between quantile fractions p1 and p2; parity with
        tdigest.go:411-455 (per-centroid boundary clipping)."""
        if p1 < 0 or p1 > 1:
            raise ValueError("p1 must be between 0 and 1 (inclusive)")
        if p2 < 0 or p2 > 1:
            raise ValueError("p2 must be between 0 and 1 (inclusive)")
        if p1 >= p2:
            raise ValueError("p1 must be lower than p2")
        self._flush()
        if self._means.size == 0:
            return 0.0
        n = float(self._counts.sum())
        min_count = p1 * n
        max_count = p2 * n
        ends = np.cumsum(self._counts.astype(np.float64))
        begins = ends - self._counts
        w = np.minimum(ends, max_count) - np.maximum(begins, min_count)
        w = np.maximum(w, 0.0)
        tw = w.sum()
        if tw == 0:
            return 0.0
        return float(np.dot(w, self._means) / tw)

    def __repr__(self) -> str:  # pragma: no cover
        self._flush()
        return (
            f"TDigest(compression={self.compression}, count={self.count}, "
            f"centroids={self._means.size})"
        )
