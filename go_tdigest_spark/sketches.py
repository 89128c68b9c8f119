"""Additional mergeable sketches (HyperLogLog, Bloom, Count-Min) sharing
the t-digest's deployment shape: per-partition partials built from
vectorized NumPy over Arrow batches, merged associatively.

Design choice: all kernels consume PRE-HASHED 64-bit values.  Hashing
happens JVM-side with Spark's ``xxhash64`` (codegen'd, seed-stable), so
Python stays thin, and any query needing a probe hash (Bloom membership,
CMS point lookup) reproduces it with the same Spark expression — no
Python/JVM hash-parity problem by construction.

These complement (not replace) the t-digest: t-digest answers quantile/
CDF/trimmed-mean; HLL answers distinct counts; Bloom answers membership;
CMS answers per-item frequencies.  north rule: "sketch/approximate-
aggregation library (HLL, count-min, t-digest, KLL, Bloom)".
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "HLL",
    "BloomFilter",
    "CountMinSketch",
    "KLL",
    "MisraGries",
    "FrequentDirections",
    "ThetaSketch",
    "clz64",
]

_U64 = np.uint64


def clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (exact, 6-step binary
    reduction — float log2 is unsafe near 2^53 rounding)."""
    x = x.astype(_U64, copy=True)
    n = np.full(x.shape, 64, dtype=np.int64)
    pos = np.zeros(x.shape, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        hi = x >> _U64(shift)
        has = hi != 0
        pos[has] += shift
        x[has] = hi[has]
    nz = x != 0
    n[nz] = 63 - pos[nz]
    return n


class HLL:
    """HyperLogLog with 2^p registers (p in [4, 18])."""

    MAGIC = b"HLL1"

    def __init__(self, p: int = 12) -> None:
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        self.p = p
        self.m = 1 << p
        self.regs = np.zeros(self.m, dtype=np.uint8)

    def update_hashes(self, h: np.ndarray) -> None:
        u = h.astype(np.int64).view(_U64)
        bucket = (u >> _U64(64 - self.p)).astype(np.int64)
        rest = u << _U64(self.p)
        rank = np.minimum(clz64(rest) + 1, 64 - self.p + 1).astype(np.uint8)
        np.maximum.at(self.regs, bucket, rank)

    def merge(self, other: "HLL") -> "HLL":
        if other.p != self.p:
            raise ValueError("cannot merge HLLs with different precision")
        np.maximum(self.regs, other.regs, out=self.regs)
        return self

    def estimate(self) -> float:
        m = float(self.m)
        if m >= 128:
            alpha = 0.7213 / (1.0 + 1.079 / m)
        elif m == 64:
            alpha = 0.709
        elif m == 32:
            alpha = 0.697
        else:
            alpha = 0.673
        est = alpha * m * m / np.sum(np.exp2(-self.regs.astype(np.float64)))
        zeros = int((self.regs == 0).sum())
        if est <= 2.5 * m and zeros:
            return float(m * np.log(m / zeros))
        return float(est)

    def to_bytes(self) -> bytes:
        return self.MAGIC + struct.pack("<B", self.p) + self.regs.tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "HLL":
        if buf[:4] != cls.MAGIC:
            raise ValueError("not an HLL payload")
        p = struct.unpack_from("<B", buf, 4)[0]
        out = cls(p)
        out.regs = np.frombuffer(buf, dtype=np.uint8, count=out.m, offset=5).copy()
        return out


class BloomFilter:
    """Bloom filter over two base hashes (double hashing: g_i = h1 + i*h2)."""

    MAGIC = b"BLM1"

    def __init__(self, n_bits: int = 1 << 16, k: int = 5) -> None:
        if n_bits % 8:
            raise ValueError("n_bits must be a multiple of 8")
        self.n_bits = n_bits
        self.k = k
        self.bits = np.zeros(n_bits // 8, dtype=np.uint8)

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        u1 = h1.astype(np.int64).view(_U64)
        u2 = h2.astype(np.int64).view(_U64)
        i = np.arange(self.k, dtype=_U64)[:, None]
        return ((u1[None, :] + i * u2[None, :]) % _U64(self.n_bits)).astype(
            np.int64
        )

    def update_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        pos = self._positions(h1, h2).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def might_contain_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        pos = self._positions(h1, h2)
        hit = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return hit.all(axis=0)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if (other.n_bits, other.k) != (self.n_bits, self.k):
            raise ValueError("bloom config mismatch")
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        return self

    def intersect(self, other: "BloomFilter") -> "BloomFilter":
        """Bitwise-AND: never a false negative for keys present in both
        filters, but a higher false-positive rate than a fresh build
        over the intersection (bits set by different keys coincide)."""
        if (other.n_bits, other.k) != (self.n_bits, self.k):
            raise ValueError("bloom config mismatch")
        np.bitwise_and(self.bits, other.bits, out=self.bits)
        return self

    def fill_ratio(self) -> float:
        return float(np.unpackbits(self.bits).mean())

    def to_bytes(self) -> bytes:
        return (
            self.MAGIC
            + struct.pack("<ii", self.n_bits, self.k)
            + self.bits.tobytes()
        )

    @classmethod
    def from_bytes(cls, buf: bytes) -> "BloomFilter":
        if buf[:4] != cls.MAGIC:
            raise ValueError("not a Bloom payload")
        n_bits, k = struct.unpack_from("<ii", buf, 4)
        out = cls(n_bits, k)
        out.bits = np.frombuffer(
            buf, dtype=np.uint8, count=n_bits // 8, offset=12
        ).copy()
        return out


class MisraGries:
    """Misra-Gries frequent-items summary over pre-hashed items, in the
    mergeable formulation (Agarwal et al., "Mergeable Summaries"): keep
    at most ``k`` (hash, counter) pairs; on overflow subtract the
    (m-k)-th smallest counter from every entry and drop the non-positive
    ones.  Deterministic, no RNG.

    Guarantees (classic): counters never OVERcount; the cumulative
    subtracted offset ``err`` satisfies err <= N/(k+1), so every item
    with true frequency > N/(k+1) survives with
    count >= true - err.  That recall guarantee is what makes the
    candidates -> exact-verify heavy-hitters pipeline EXACT end to end
    (choose k >= ceil(1/phi) and no phi-heavy item can be missed).
    """

    MAGIC = b"MGS1"

    def __init__(self, k: int = 64) -> None:
        if k < 1:
            raise ValueError("k must be >= 1")
        if k > 2**31 - 1:
            # the wire format packs k as int32; a too-small phi upstream
            # must fail HERE, not as a struct.error inside an executor
            raise ValueError(f"k={k} exceeds the int32 wire format")
        self.k = k
        self.hashes = np.empty(0, dtype=np.int64)
        self.counts = np.empty(0, dtype=np.int64)
        self.total = 0
        self.err = 0

    @staticmethod
    def _combine(
        h1: np.ndarray, c1: np.ndarray, h2: np.ndarray, c2: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        h = np.concatenate([h1, h2])
        c = np.concatenate([c1, c2])
        order = np.argsort(h, kind="stable")
        hs, cs = h[order], c[order]
        first = np.ones(hs.size, dtype=bool)
        first[1:] = hs[1:] != hs[:-1]
        idx = np.nonzero(first)[0]
        return hs[idx], np.add.reduceat(cs, idx)

    def _prune(self) -> None:
        m = self.hashes.size
        if m <= self.k:
            return
        # (m-k)-th smallest counter: subtracting it drops >= m-k entries
        offset = int(np.partition(self.counts, m - self.k - 1)[m - self.k - 1])
        self.counts = self.counts - offset
        keep = self.counts > 0
        self.hashes = self.hashes[keep]
        self.counts = self.counts[keep]
        self.err += offset

    def update_hashes(self, h: np.ndarray, counts: np.ndarray | None = None) -> None:
        if counts is None:
            uh, uc = np.unique(h.astype(np.int64), return_counts=True)
        else:
            c = np.asarray(counts)
            if c.dtype.kind == "f":
                # mirror the CMS guard: silent .astype(int64) would
                # truncate fractions (1.5 -> 1) and corrupt the MG
                # lower-bound counters
                raise TypeError("MG counts must be integral, got float")
            c = c.astype(np.int64)
            if c.size and int(c.min()) <= 0:
                raise ValueError("MG counts must be > 0")
            order = np.argsort(h, kind="stable")
            hs, cs = h[order].astype(np.int64), c[order]
            first = np.ones(hs.size, dtype=bool)
            first[1:] = hs[1:] != hs[:-1]
            idx = np.nonzero(first)[0]
            uh, uc = hs[idx], np.add.reduceat(cs, idx)
        self.hashes, self.counts = self._combine(
            self.hashes, self.counts, uh, uc.astype(np.int64)
        )
        self.total += int(uc.sum())
        self._prune()

    def merge(self, other: "MisraGries") -> "MisraGries":
        if other.k != self.k:
            raise ValueError("cannot merge MG summaries with different k")
        self.hashes, self.counts = self._combine(
            self.hashes, self.counts, other.hashes, other.counts
        )
        self.total += other.total
        self.err += other.err
        self._prune()
        return self

    def candidates(self, min_count: int = 1) -> tuple[np.ndarray, np.ndarray]:
        """(hashes, lower-bound counts) with count >= min_count; every
        item with true frequency >= min_count + err is guaranteed in."""
        keep = self.counts >= min_count
        return self.hashes[keep], self.counts[keep]

    def to_bytes(self) -> bytes:
        return (
            self.MAGIC
            + struct.pack("<iqqi", self.k, self.total, self.err, self.hashes.size)
            + self.hashes.astype("<i8").tobytes()
            + self.counts.astype("<i8").tobytes()
        )

    @classmethod
    def from_bytes(cls, buf: bytes) -> "MisraGries":
        if buf[:4] != cls.MAGIC:
            raise ValueError("not an MG payload")
        k, total, err, m = struct.unpack_from("<iqqi", buf, 4)
        out = cls(k)
        out.total = total
        out.err = err
        off = 4 + struct.calcsize("<iqqi")
        out.hashes = np.frombuffer(buf, dtype="<i8", count=m, offset=off).copy()
        off += 8 * m
        out.counts = np.frombuffer(buf, dtype="<i8", count=m, offset=off).copy()
        if off + 8 * m != len(buf):
            raise ValueError("trailing bytes in MG payload")
        return out


class KLL:
    """KLL quantile sketch (Karnin-Lang-Liberty, FOCS'16): a hierarchy of
    compactors where level ``h`` holds items of weight ``2^h``; an
    over-full level sorts its buffer and promotes every other item.

    Complements the t-digest (the library's primary quantile sketch,
    north rule names both): KLL gives *worst-case* rank-error guarantees
    on any distribution, t-digest gives tighter tail accuracy.  Same
    deployment shape: per-partition partials via the shared stage-1 driver
    (``_batch.partial_stage``, through ``sketch_agg._generic_partials``),
    associative merge, tree reduction.

    Implementation notes:
      - compaction parity alternates deterministically (``_flip``) rather
        than by RNG — reproducible across runs and partitions; the
        classic derandomized variant, error constants per the paper's
        deterministic analysis remain O(1/k) at fixed height;
      - weight is conserved exactly (odd buffers retain their last
        element at the level), so total sketch weight == count;
      - min/max/count are tracked exactly -> Quantile(0)/Quantile(1)/
        count are exact, which is what makes the Spark aggregation
        oracle-checkable (same trick the t-digest queries use).
    """

    MAGIC = b"KLL1"
    C = 2.0 / 3.0

    def __init__(self, k: int = 200) -> None:
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = k
        self.compactors: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.count = 0
        self.min = np.inf
        self.max = -np.inf
        self._flip = 0

    # ------------------------------------------------------------ sizing

    def _capacity(self, h: int) -> int:
        depth = len(self.compactors) - h - 1
        return max(2, int(np.ceil(self.k * (self.C**depth))))

    def _size(self) -> int:
        return sum(len(c) for c in self.compactors)

    def _total_capacity(self) -> int:
        return sum(self._capacity(h) for h in range(len(self.compactors)))

    # ------------------------------------------------------------ update

    def update(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return
        self.count += int(v.size)
        self.min = min(self.min, float(v.min()))
        self.max = max(self.max, float(v.max()))
        self.compactors[0] = np.concatenate([self.compactors[0], v])
        self._compress()

    def _compress(self) -> None:
        while self._size() > self._total_capacity():
            for h in range(len(self.compactors)):
                if len(self.compactors[h]) > self._capacity(h):
                    self._compact_level(h)
                    break
            else:
                break

    def _compact_level(self, h: int) -> None:
        c = np.sort(self.compactors[h])
        if h + 1 == len(self.compactors):
            self.compactors.append(np.empty(0, dtype=np.float64))
        if len(c) % 2:
            # keep the odd element at this level: weight stays exact
            leftover, c = c[-1:], c[:-1]
        else:
            leftover = np.empty(0, dtype=np.float64)
        promoted = c[self._flip & 1 :: 2]
        self._flip += 1
        self.compactors[h] = leftover
        self.compactors[h + 1] = np.concatenate(
            [self.compactors[h + 1], promoted]
        )

    # ------------------------------------------------------------- merge

    def merge(self, other: "KLL") -> "KLL":
        if other.k != self.k:
            raise ValueError("cannot merge KLLs with different k")
        while len(self.compactors) < len(other.compactors):
            self.compactors.append(np.empty(0, dtype=np.float64))
        for h, c in enumerate(other.compactors):
            if len(c):
                self.compactors[h] = np.concatenate([self.compactors[h], c])
        self.count += other.count
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        self._flip += other._flip
        self._compress()
        return self

    # ------------------------------------------------------------ queries

    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for h, c in enumerate(self.compactors):
            if len(c):
                vals.append(c)
                wts.append(np.full(len(c), 1 << h, dtype=np.int64))
        if not vals:
            return np.empty(0), np.empty(0, dtype=np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q: float) -> float:
        if not 0.0 <= q <= 1.0:
            raise ValueError("q must be between 0 and 1 (inclusive)")
        if self.count == 0:
            return float("nan")
        if q == 0.0:
            return float(self.min)
        if q == 1.0:
            return float(self.max)
        v, w = self._weighted_items()
        cw = np.cumsum(w)
        i = int(np.searchsorted(cw, q * cw[-1], side="left"))
        return float(v[min(i, len(v) - 1)])

    def cdf(self, x: float) -> float:
        if self.count == 0:
            return float("nan")
        v, w = self._weighted_items()
        i = int(np.searchsorted(v, x, side="right"))
        total = int(w.sum())
        return float(w[:i].sum() / total)

    # -------------------------------------------------------------- serde

    def to_bytes(self) -> bytes:
        head = struct.pack(
            "<iqddqi",
            self.k,
            self.count,
            self.min,
            self.max,
            self._flip,
            len(self.compactors),
        )
        parts = [self.MAGIC, head]
        for c in self.compactors:
            parts.append(struct.pack("<i", len(c)))
            parts.append(np.asarray(c, dtype="<f8").tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, buf: bytes) -> "KLL":
        if buf[:4] != cls.MAGIC:
            raise ValueError("not a KLL payload")
        k, count, mn, mx, flip, n_levels = struct.unpack_from("<iqddqi", buf, 4)
        out = cls(k)
        out.count = count
        out.min = mn
        out.max = mx
        out._flip = flip
        out.compactors = []
        off = 4 + struct.calcsize("<iqddqi")
        for _ in range(n_levels):
            (n,) = struct.unpack_from("<i", buf, off)
            off += 4
            out.compactors.append(
                np.frombuffer(buf, dtype="<f8", count=n, offset=off).copy()
            )
            off += 8 * n
        if off != len(buf):
            raise ValueError("trailing bytes in KLL payload")
        return out


class CountMinSketch:
    """Count-Min sketch: d rows x w counters; estimates overcount only."""

    MAGIC = b"CMS2"  # v2 carries the hash seed (see from_bytes)
    _MAGIC_V1 = b"CMS1"  # legacy: seed not in payload

    def __init__(self, d: int = 5, w: int = 2048, seed: int = 9) -> None:
        if w & (w - 1):
            raise ValueError("w must be a power of two")
        self.d = d
        self.w = w
        self.seed = seed
        self._wbits = int(w).bit_length() - 1
        rng = np.random.default_rng(seed)
        # odd multipliers: multiplicative hashing in wrap-around uint64
        self.a = (
            rng.integers(0, 1 << 62, size=d, dtype=np.uint64) * _U64(2) + _U64(1)
        )
        self.b = rng.integers(0, 1 << 63, size=d, dtype=np.uint64)
        self.table = np.zeros((d, w), dtype=np.int64)
        self.total = 0

    def _cols(self, h: np.ndarray) -> np.ndarray:
        # multiplicative hashing: top wbits of (a_i*u + b_i) mod 2^64
        u = h.astype(np.int64).view(_U64)
        cols = np.empty((self.d, u.size), dtype=np.int64)
        shift = _U64(64 - self._wbits)
        for i in range(self.d):
            cols[i] = ((self.a[i] * u + self.b[i]) >> shift).astype(np.int64)
        return cols

    def update_hashes(self, h: np.ndarray, counts: np.ndarray | None = None) -> None:
        cols = self._cols(h)
        if counts is None:
            c = np.ones(h.size, dtype=np.int64)
        else:
            c = np.asarray(counts)
            if c.dtype.kind == "f":
                # a silent .astype(int64) would truncate fractions (and
                # map NaN to INT64_MIN) — reject like TDigest.add_batch
                raise TypeError("CMS counts must be integral, got float")
            c = c.astype(np.int64)
            if c.size and int(c.min()) <= 0:
                # zero/negative increments break the overcount-only
                # (min-estimate) invariant
                raise ValueError("CMS counts must be > 0")
        for i in range(self.d):
            np.add.at(self.table[i], cols[i], c)
        self.total += int(c.sum())

    def point_query_hashes(self, h: np.ndarray) -> np.ndarray:
        cols = self._cols(h)
        ests = np.stack([self.table[i][cols[i]] for i in range(self.d)])
        return ests.min(axis=0)

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        # seed must match too: two same-shape tables hashed with
        # different (a, b) rows would ADD misaligned counters, silently
        # breaking the overcount-only invariant
        if (other.d, other.w, other.seed) != (self.d, self.w, self.seed):
            raise ValueError("cms config mismatch")
        self.table += other.table
        self.total += other.total
        return self

    def to_bytes(self) -> bytes:
        return (
            self.MAGIC
            + struct.pack("<iiqq", self.d, self.w, self.total, self.seed)
            + self.table.astype("<i8").tobytes()
        )

    @classmethod
    def from_bytes(cls, buf: bytes, seed: int = 9) -> "CountMinSketch":
        """The v2 payload CARRIES the hash seed — a non-default-seed
        sketch round-trips with its own (a, b) hash rows instead of
        silently rehydrating against the caller's default and probing
        the wrong columns (which could UNDERcount, violating the
        overcount-only invariant).  ``seed`` is only consulted for
        legacy v1 payloads, which did not store it."""
        if buf[:4] == cls.MAGIC:
            d, w, total, seed = struct.unpack_from("<iiqq", buf, 4)
            off = 4 + struct.calcsize("<iiqq")
        elif buf[:4] == cls._MAGIC_V1:
            d, w, total = struct.unpack_from("<iiq", buf, 4)
            off = 20
        else:
            raise ValueError("not a CMS payload")
        out = cls(d, w, seed)
        out.total = total
        expect = off + 8 * d * w
        if len(buf) != expect:
            raise ValueError(
                f"CMS payload length {len(buf)} != expected {expect}"
            )
        out.table = (
            np.frombuffer(buf, dtype="<i8", count=d * w, offset=off)
            .reshape(d, w)
            .astype(np.int64)
        )
        return out


class FrequentDirections:
    """Frequent Directions matrix sketch (Liberty, KDD'13; Ghashami,
    Liberty, Phillips & Woodruff, SIAM J. Comput. 2016): a mergeable
    low-rank summary of a tall matrix ``A`` (rows = embedding vectors)
    as at most ``2*ell`` sketch rows ``B`` with the deterministic
    covariance guarantee

        0  <=  x'(A'A - B'B)x  <=  shrink_total  <=  ||A||_F^2 / ell

    for every unit vector x — i.e. ``B'B`` underestimates the Gram
    matrix by at most ``shrink_total`` in spectral norm, and the sketch
    CARRIES that certified bound (``shrink_total`` is the exact sum of
    the shrinkage deltas actually applied, not just the worst case).

    Mergeability (the property that makes it a Spark aggregation):
    concatenating two sketches' rows and re-shrinking keeps the
    guarantee with the bounds ADDING — proven in Ghashami et al. §3 —
    so the same partials -> salted tree merge shape as every other
    sketch in this library applies.  Like KLL/Misra-Gries, the bytes
    are merge-order dependent; the guarantee (and ``n_rows`` /
    ``fnorm2``, which are exact sums) are not.

    Uses: dominant directions / anisotropy diagnostics of an embedding
    corpus, approximate PCA at 100 TB without a d x d Gram shuffle when
    d is large, drift detection between corpus slices (compare top
    singular directions).  Cost: O(ell * d) memory, amortized
    O(m * ell * d) flops per m appended rows (one (2ell x d) SVD every
    ~ell rows).
    """

    MAGIC = b"FDS1"

    def __init__(self, ell: int = 64, dim: int = 2) -> None:
        if ell < 2:
            raise ValueError("ell must be >= 2")
        if dim < 1:
            raise ValueError("dim must be >= 1")
        self.ell = ell
        self.dim = dim
        self.rows = np.zeros((0, dim), dtype=np.float64)
        self.n_rows = 0
        self.fnorm2 = 0.0  # exact ||A||_F^2 (associative sum)
        self.shrink_total = 0.0  # certified ||A'A - B'B||_2 bound

    # ------------------------------------------------------------ update

    def update(self, X: np.ndarray) -> None:
        """Append rows (m x dim).  Non-finite rows are rejected loudly —
        one NaN would silently poison every later SVD."""
        X = np.asarray(X, dtype=np.float64)
        if X.ndim != 2 or X.shape[1] != self.dim:
            raise ValueError(f"expected (m, {self.dim}) rows, got {X.shape}")
        if not np.isfinite(X).all():
            raise ValueError("FrequentDirections: non-finite row values")
        m = X.shape[0]
        if m == 0:
            return
        self.n_rows += int(m)
        self.fnorm2 += float((X * X).sum())
        cap = 2 * self.ell
        # append in <= ell-row slices so the buffer never exceeds
        # cap + ell rows between shrinks (bounded memory at any m)
        for lo in range(0, m, self.ell):
            self.rows = np.concatenate([self.rows, X[lo : lo + self.ell]])
            if self.rows.shape[0] >= cap:
                self._shrink()

    def _shrink(self) -> None:
        # delta = ell-th largest squared singular value; every singular
        # direction j < ell loses exactly delta of squared mass (sorted
        # desc), so >= ell*delta Frobenius mass is removed per shrink
        # => sum(delta) <= ||A||_F^2 / ell
        _, s, vt = np.linalg.svd(self.rows, full_matrices=False)
        if s.size < self.ell:
            # s.size = min(buffer rows, dim), and _shrink only runs with
            # >= 2*ell buffered rows, so this branch means dim < ell:
            # the Gram matrix has rank <= dim and B = diag(s) @ Vt
            # represents it EXACTLY in <= dim rows.  Rewrite (lossless,
            # no shrinkage delta) instead of returning — returning here
            # left the raw-row buffer growing O(n) and re-ran a full
            # SVD of the whole buffer every ell appends.
            keep = s > 0.0
            self.rows = s[keep][:, None] * vt[keep]
            return
        delta = float(s[self.ell - 1] ** 2)
        self.shrink_total += delta
        s2 = np.maximum(s**2 - delta, 0.0)
        keep = s2 > 0.0
        self.rows = np.sqrt(s2[keep])[:, None] * vt[keep]

    # ------------------------------------------------------------- merge

    def merge(self, other: "FrequentDirections") -> "FrequentDirections":
        if other.ell != self.ell or other.dim != self.dim:
            raise ValueError(
                "cannot merge FrequentDirections with different ell/dim"
            )
        self.n_rows += other.n_rows
        self.fnorm2 += other.fnorm2
        self.shrink_total += other.shrink_total
        cap = 2 * self.ell
        orows = other.rows
        for lo in range(0, orows.shape[0], self.ell):
            self.rows = np.concatenate([self.rows, orows[lo : lo + self.ell]])
            if self.rows.shape[0] >= cap:
                self._shrink()
        return self

    # ------------------------------------------------------------ queries

    def cov(self) -> np.ndarray:
        """B'B — the Gram/covariance estimate (d x d; underestimates
        A'A by at most ``shrink_total`` in spectral norm, never over)."""
        return self.rows.T @ self.rows

    def singular_values(self, k: int | None = None) -> np.ndarray:
        """Top-k singular values of the SKETCH (>= sqrt of the true
        sigma_j^2 - shrink_total, <= the true sigma_j)."""
        s = np.linalg.svd(self.rows, compute_uv=False)
        return s if k is None else s[:k]

    def top_directions(self, k: int) -> np.ndarray:
        """Top-k right singular vectors of the sketch (k x d)."""
        _, _, vt = np.linalg.svd(self.rows, full_matrices=False)
        return vt[:k]

    def spectral_bound(self) -> float:
        """Certified bound on ||A'A - B'B||_2 for THIS run (exact sum
        of applied shrink deltas; always <= fnorm2 / ell)."""
        return self.shrink_total

    # -------------------------------------------------------------- serde

    def to_bytes(self) -> bytes:
        r = self.rows.shape[0]
        head = struct.pack(
            "<iiqddi",
            self.ell,
            self.dim,
            self.n_rows,
            self.fnorm2,
            self.shrink_total,
            r,
        )
        return b"".join(
            [self.MAGIC, head, np.ascontiguousarray(self.rows, "<f8").tobytes()]
        )

    @classmethod
    def from_bytes(cls, buf: bytes) -> "FrequentDirections":
        if buf[:4] != cls.MAGIC:
            raise ValueError("not a FrequentDirections payload")
        ell, dim, n_rows, fnorm2, shrink_total, r = struct.unpack_from(
            "<iiqddi", buf, 4
        )
        out = cls(ell, dim)
        out.n_rows = n_rows
        out.fnorm2 = fnorm2
        out.shrink_total = shrink_total
        off = 4 + struct.calcsize("<iiqddi")
        out.rows = (
            np.frombuffer(buf, dtype="<f8", count=r * dim, offset=off)
            .reshape(r, dim)
            .copy()
        )
        if off + 8 * r * dim != len(buf):
            raise ValueError("trailing bytes in FrequentDirections payload")
        return out


class ThetaSketch:
    """Theta sketch (the Theta-Sketch Framework of Dasgupta, Lang,
    Rhodes & Thaler, 2016; KMV/K'th-Minimum-Value sampling, Bar-Yossef
    et al. 2002): a uniform hash sample of the DISTINCT elements seen,
    supporting unbiased cardinality estimation AND closed set algebra —
    union, intersection, and difference each yield another ThetaSketch
    whose estimate carries a bound, which is what HLL cannot do
    (inclusion-exclusion error is the SUM of three estimates' errors, so
    small overlaps drown; the theta intersection error scales with the
    intersection sample actually retained).

    State: ``theta`` (exclusive upper bound in u64 hash space, ``None``
    meaning 2^64 = "exact mode") plus the sorted set of retained
    distinct hashes, all ``< theta``.  Estimate = |retained| / (theta /
    2^64): exact while unsaturated, RSE ~ 1/sqrt(k-1) once sampling.
    Trim rule (QuickSelect convention): when more than ``k`` hashes are
    retained, theta drops to the (k+1)-th smallest and the k smallest
    survive.

    Merge/union is associative and order-insensitive (same bytes for
    any merge tree — pinned in tests): min-theta, set-union, re-trim.
    Intersection/difference never re-trim (the result is a subsample at
    min-theta and can only shrink), so estimates stay unbiased.

    Kernel contract: consumes PRE-HASHED int64 values (Spark
    ``xxhash64``), viewed as uint64 — same as every sketch here.
    """

    MAGIC = b"THE1"
    _FULL = 1 << 64  # theta for the unsaturated (exact) sketch

    def __init__(self, k: int = 4096) -> None:
        if not 16 <= k <= (1 << 26):
            raise ValueError("k must be in [16, 2^26]")
        self.k = k
        self.theta: int | None = None  # None <=> 2^64 (exact mode)
        self.hashes = np.empty(0, dtype=_U64)  # sorted, distinct

    # ------------------------------------------------------------ build

    def _theta_u(self) -> int:
        return self._FULL if self.theta is None else self.theta

    def _trim(self) -> None:
        if len(self.hashes) > self.k:
            # (k+1)-th smallest becomes the new exclusive bound
            self.theta = int(self.hashes[self.k])
            self.hashes = self.hashes[: self.k]

    def update_hashes(self, h: np.ndarray) -> None:
        u = np.unique(h.astype(np.int64).view(_U64))
        if self.theta is not None:
            u = u[u < _U64(self.theta)]
        if len(u) == 0:
            return
        merged = np.union1d(self.hashes, u) if len(self.hashes) else u
        self.hashes = merged
        self._trim()

    # ------------------------------------------------------------ algebra

    def merge(self, other: "ThetaSketch") -> "ThetaSketch":
        """Union, in place.  ``k`` may differ across operands (the
        result keeps self's k — union of a k=4096 and a k=1024 sketch is
        valid at the smaller effective sample)."""
        th = min(self._theta_u(), other._theta_u())
        u = np.union1d(self.hashes, other.hashes)
        if th < self._FULL:
            u = u[u < _U64(th)]
            self.theta = th
        self.hashes = u
        self._trim()
        return self

    def intersect(self, other: "ThetaSketch") -> "ThetaSketch":
        """A ∩ B as a new sketch (no re-trim: the retained set is an
        unbiased min-theta subsample of the true intersection)."""
        out = ThetaSketch(self.k)
        th = min(self._theta_u(), other._theta_u())
        both = np.intersect1d(self.hashes, other.hashes)
        if th < self._FULL:
            both = both[both < _U64(th)]
            out.theta = th
        out.hashes = both
        return out

    def a_not_b(self, other: "ThetaSketch") -> "ThetaSketch":
        """A \\ B as a new sketch (same min-theta subsample argument)."""
        out = ThetaSketch(self.k)
        th = min(self._theta_u(), other._theta_u())
        only = np.setdiff1d(self.hashes, other.hashes)
        if th < self._FULL:
            only = only[only < _U64(th)]
            out.theta = th
        out.hashes = only
        return out

    # ------------------------------------------------------------ reads

    def estimate(self) -> float:
        if self.theta is None:
            return float(len(self.hashes))  # exact
        return float(len(self.hashes)) * self._FULL / self.theta

    def is_exact(self) -> bool:
        return self.theta is None

    def n_retained(self) -> int:
        return len(self.hashes)

    def rse_bound(self, n_std: float = 3.0) -> float:
        """Relative standard error x ``n_std`` on ``estimate()``:
        0 in exact mode, else n_std/sqrt(retained - 1) (the KMV RSE with
        the actually-retained sample size, which for intersections and
        differences is what governs — not the nominal k)."""
        if self.theta is None:
            return 0.0
        r = len(self.hashes)
        if r < 2:
            return float("inf")
        return float(n_std) / np.sqrt(r - 1.0)

    # ------------------------------------------------------------ serde

    def to_bytes(self) -> bytes:
        sat = 0 if self.theta is None else 1
        head = struct.pack(
            "<BIQI",
            sat,
            self.k,
            0 if self.theta is None else self.theta,
            len(self.hashes),
        )
        return self.MAGIC + head + self.hashes.astype("<u8").tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "ThetaSketch":
        if buf[:4] != cls.MAGIC:
            raise ValueError("not a ThetaSketch payload")
        sat, k, th, n = struct.unpack_from("<BIQI", buf, 4)
        # loud structural validation (same posture as the FD sibling):
        # a truncated/concatenated checkpoint read must fail here, not
        # deserialize silently with garbage ignored
        if len(buf) != 4 + 17 + 8 * n:
            raise ValueError(
                f"ThetaSketch payload length {len(buf)} != expected "
                f"{4 + 17 + 8 * n} for n={n}"
            )
        if sat not in (0, 1):
            raise ValueError(f"ThetaSketch saturation flag {sat} not in 0/1")
        if n > k:
            raise ValueError(f"ThetaSketch retains {n} > k={k} hashes")
        if sat and th == 0:
            raise ValueError("ThetaSketch saturated with theta=0")
        out = cls(k)
        out.theta = th if sat else None
        out.hashes = (
            np.frombuffer(buf, dtype="<u8", count=n, offset=4 + 17)
            .astype(_U64, copy=True)
        )
        return out
