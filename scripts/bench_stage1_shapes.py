"""Stage-1 task count vs input shape: wall time of ``tdigest_agg`` on
inputs whose partitions are NOT many and cheap, where coalescing stage 1
to one task per core (``_batch.partial_stage``) has little to save and
could cost parallelism.

Shapes (parquet files of (g int32, v float64), 64 groups, seeded; one
file per scan partition unless noted; MB are the plan's size estimate):

* ``many_small``    64 files x 20k rows, 13 MB (the case the coalesce
                    is for; a control);
* ``heavy_even``    8 files x 4M rows, 276 MB;
* ``heavy_skewed``  two files of 8M rows and six of 1M rows, 190 MB;
* ``default_pack``  the ``heavy_even`` files at Spark's default file
                    packing (``openCostInBytes`` 4 MB);
* ``small_even``    8 files x 800k rows, 55 MB;
* ``small_skewed``  two files of 2.5M rows and six of 250k rows, 56 MB.

On 4 cores the two ``small_*`` inputs are under the coalesce bound
(4 x 16 MB) and the other heavy ones are not.

Each shape runs one warm-up query, then ``--reps`` fresh queries; the
line printed per shape holds the input's scan partitions, the stage-1
partition count, and the median and every wall time in seconds.  The
library and the Python workers import from this checkout, so running
the same script from two checkouts is an A/B:

    python3 scripts/bench_stage1_shapes.py --reps 3

Inputs are cached under ``.benchdata/stage1_shapes`` (~0.6 GB).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

FILES = {
    "many_small": [20_000] * 64,
    "heavy_even": [4_000_000] * 8,
    "heavy_skewed": [8_000_000] * 2 + [1_000_000] * 6,
    "small_even": [800_000] * 8,
    "small_skewed": [2_500_000] * 2 + [250_000] * 6,
}
SHAPES = {  # shape -> (files, session settings for the query)
    "many_small": ("many_small", {}),
    "heavy_even": ("heavy_even", {}),
    "heavy_skewed": ("heavy_skewed", {}),
    "default_pack": ("heavy_even", {"spark.sql.files.openCostInBytes": "4m"}),
    "small_even": ("small_even", {}),
    "small_skewed": ("small_skewed", {}),
}


def generate(out: str, rows: list[int], seed: int = 7) -> str:
    if os.path.isdir(out) and len(os.listdir(out)) == len(rows):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    for i, n in enumerate(rows):
        g = rng.integers(0, 64, n).astype(np.int32)
        v = rng.lognormal(0.0, 1.0, n)
        pq.write_table(
            pa.table({"g": g, "v": v}), os.path.join(out, f"part-{i:03d}.parquet")
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--shapes", nargs="*", default=list(SHAPES))
    args = ap.parse_args()

    import host
    from go_tdigest_spark.operators import build_partials, tdigest_agg

    work = os.path.join(ROOT, ".benchdata", "stage1_shapes")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    dirs = {f: generate(os.path.join(work, f), FILES[f]) for f in FILES}
    spark = host.start_session(host.session_config(work))
    try:
        for name in args.shapes:
            files, settings = SHAPES[name]
            saved = {k: spark.conf.get(k) for k in settings}
            for k, v in settings.items():
                spark.conf.set(k, v)
            try:
                df = spark.read.parquet(dirs[files])
                n_in = df.rdd.getNumPartitions()
                n_stage1 = build_partials(df, "v", ["g"]).rdd.getNumPartitions()
                times = []
                for i in range(args.reps + 1):
                    t0 = time.perf_counter()
                    rows = tdigest_agg(
                        spark.read.parquet(dirs[files]), "v", ["g"]
                    ).collect()
                    if i:
                        times.append(round(time.perf_counter() - t0, 3))
                assert len(rows) == 64
                assert sum(r["n_rows"] for r in rows) == sum(FILES[files])
            finally:
                for k, v in saved.items():
                    spark.conf.set(k, v)
            print(json.dumps({
                "shape": name, "input_partitions": n_in,
                "stage1_partitions": n_stage1,
                "median_s": statistics.median(times), "times_s": times,
            }), flush=True)
    finally:
        host.shutdown(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
