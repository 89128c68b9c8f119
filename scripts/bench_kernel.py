"""Kernel microbenchmarks mirroring the reference's Go benchmark shapes
(BASELINE.md §1; definitions at /root/reference/tdigest_test.go:681-838
and serialization_test.go:237-300 — the reference publishes no numbers,
so these are our side of the comparison).

Writes BENCH/kernel_micro.json and prints it.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_tdigest_spark import serde  # noqa: E402
from go_tdigest_spark.core import (  # noqa: E402
    TDigest,
    _merge_segments,
    _SegmentedBuild,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMPRESSIONS = [1, 10, 20, 30, 50, 100]  # tdigest_test.go:681


def timeit(fn, reps=5):
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def many_groups(rng, n_values: int = 600_000) -> dict:
    """One task's worth of groups: 600k uniform values over 720 / 2000
    groups, already grouped (as stage 1 sorts them).  Per-group
    ``TDigest`` vs the segmented task-level kernels, for the stage-1
    build and for merging two partials per group.  Milliseconds,
    min-of-N, single thread."""
    res = {}
    for n_groups in (720, 2000):
        gid = np.sort(rng.integers(0, n_groups, n_values))
        vals = rng.random(n_values)
        off = np.searchsorted(gid, np.arange(n_groups + 1))
        gids = np.arange(n_groups)

        def per_group_build(lo=0, step=1):
            ds = []
            for g in gids:
                d = TDigest()
                d.add_batch(vals[off[g] + lo : off[g + 1] : step])
                d.compress()
                ds.append(d)
            return ds

        def segmented_build():
            b = _SegmentedBuild()
            b.add(gids, off, vals)
            return b.finish(n_groups)

        halves = [per_group_build(0, 2), per_group_build(1, 2)]
        pairs = [d for g in gids for d in (halves[0][g], halves[1][g])]
        pm = np.concatenate([d.centroids()[0] for d in pairs])
        pc = np.concatenate([d.centroids()[1] for d in pairs])
        po = np.concatenate(([0], np.cumsum([len(d) for d in pairs])))
        pg = np.repeat(gids, 2)

        def per_group_merge():
            for g in gids:
                d = TDigest.merge_all([halves[0][g].clone(), halves[1][g].clone()])
                d.compress()

        def segmented_merge():
            _merge_segments(pm, pc, po, pg, n_groups, np.full(pg.size, 100.0))

        row = {
            "per_group_build": timeit(per_group_build, reps=3),
            "segmented_build": timeit(segmented_build, reps=3),
            "per_group_merge": timeit(per_group_merge, reps=3),
            "segmented_merge": timeit(segmented_merge, reps=3),
        }
        res[str(n_groups)] = {k: round(v * 1e3, 1) for k, v in row.items()}
        res[str(n_groups)]["build_speedup"] = round(
            row["per_group_build"] / row["segmented_build"], 2
        )
        res[str(n_groups)]["merge_speedup"] = round(
            row["per_group_merge"] / row["segmented_merge"], 2
        )
    return res


def main() -> None:
    rng = np.random.default_rng(42)
    out: dict = {}

    # BenchmarkTDigestAddOnce shape: throughput of streaming adds,
    # uniform [0,1), per compression (we add in batches — that IS our
    # insert path)
    add_once = {}
    data = rng.random(1_000_000)
    for c in COMPRESSIONS:
        def run(c=c):
            d = TDigest(compression=c)
            for i in range(0, data.size, 10_000):
                d.add_batch(data[i : i + 10_000])
            d.compress()

        sec = timeit(run, reps=3)
        add_once[str(c)] = int(data.size / sec)
    out["add_uniform_values_per_sec_by_compression"] = add_once

    # BenchmarkTDigestAddMulti shape: digest build at n in {10,1e2,1e3,1e4}
    build = {}
    for n in (10, 100, 1_000, 10_000):
        vals = rng.random(n)
        sec = timeit(lambda v=vals: TDigest.from_values(v), reps=20)
        build[str(n)] = round(sec * 1e6, 1)  # microseconds per build
    out["build_micros_by_n"] = build

    # BenchmarkTDigestMerge shape: merge of n sub-digests, each 20*delta
    # samples, then compress (tdigest_test.go:744-791)
    merge = {}
    for n in (1, 10, 100):
        subs = [
            TDigest.from_values(rng.random(20 * 100)) for _ in range(n)
        ]
        def run(subs=subs):
            d = TDigest.merge_all([s.clone() for s in subs])
            d.compress()

        merge[str(n)] = round(timeit(run, reps=10) * 1e3, 3)  # ms
    out["merge_ms_by_n_subdigests"] = merge

    # pathological ordered inserts (BenchmarkAddOrdered)
    ordered = np.arange(1_000_000, dtype=np.float64)
    def run_ordered():
        d = TDigest(compression=100)
        for i in range(0, ordered.size, 10_000):
            d.add_batch(ordered[i : i + 10_000])

    out["ordered_insert_values_per_sec"] = int(
        ordered.size / timeit(run_ordered, reps=3)
    )

    # serialization shapes (serialization_test.go:237-300)
    d100 = TDigest.from_values(rng.random(100))
    dbig = TDigest.from_values(rng.random(1_000_000))
    ref_bytes = serde.to_ref_bytes(d100)
    int_bytes = serde.encode(dbig)
    out["serde_micros"] = {
        "to_ref_bytes_100": round(timeit(lambda: serde.to_ref_bytes(d100), 50) * 1e6, 1),
        "from_ref_bytes_100": round(
            timeit(lambda: serde.from_ref_bytes(ref_bytes), 50) * 1e6, 1
        ),
        "encode_internal_1M_digest": round(timeit(lambda: serde.encode(dbig), 50) * 1e6, 1),
        "decode_internal_1M_digest": round(
            timeit(lambda: serde.decode(int_bytes), 50) * 1e6, 1
        ),
    }

    # dense integer fast path (no reference analogue — our token-id lane)
    toks = (rng.integers(0, 50257, size=5_000_000)).astype(np.int32)
    def run_tok():
        d = TDigest()
        d.add_batch(toks)
        d._flush()

    out["int_token_values_per_sec"] = int(toks.size / timeit(run_tok, reps=3))

    out["many_groups_ms"] = many_groups(rng)

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "kernel_micro.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
