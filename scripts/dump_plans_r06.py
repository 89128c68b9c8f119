"""Dump explain("formatted") for the round-6 touched queries.

Usage:
    python scripts/dump_plans_r06.py --repo /root/repo --suffix after \
        --out /root/repo/plans/r06 [--sf-dir /root/testdata/sf0.01]

``--repo`` selects which tree's __spark_entry__ to import (the round-
start worktree for the _before files, the live tree for _after), so the
same script produces both sides of the evidence.  Queries that collect
eagerly during construction (broadcast digest maps, prefix-sum phase-1
counts) still show only the FINAL lazy plan — the eager sub-jobs are
documented in OPTIMIZATION_r06.md instead.
"""

from __future__ import annotations

import argparse
import os
import runpy
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = [
    "td_quantiles_lineitem",
    "td_cdf_events",
    "td_mean_documents",
    "td_rollup_lineitem",
    "td_cube_orders",
    "td_hourly_events",
    "td_bucket_lineitem",
    "td_embedding_components",
    "td_drift_events",
    "kll_stats_lineitem",
    "hll_distinct_users",
    "hll_overlap_users",
    "cms_supplier_freq",
    "bloom_membership",
    "fd_embedding_spectrum",
    "heavy_hitter_users",
    "sample_suite_docs",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_cluster_canonical",
    "text_stats",
    "repetition_docs",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True)
    ap.add_argument("--suffix", required=True, choices=["before", "after"])
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--queries", nargs="*", default=None)
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    os.makedirs(args.out, exist_ok=True)

    from pyspark.sql import SparkSession

    # this tree's config, loaded by path: --repo may name an older tree
    # whose package has no session module, and importing this tree's
    # package would shadow the one --repo selects
    session_config = runpy.run_path(
        os.path.join(REPO, "go_tdigest_spark", "session.py")
    )["session_config"]
    spark = (
        SparkSession.builder.appName("dump-plans-r06")
        .config(map=session_config(8))
        # the committed plans/r06 dumps were taken at 32 shuffle
        # partitions; keep it so a re-run reproduces them
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = args.queries or QUERIES
    for name in names:
        try:
            df = qs[name](spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {e}"
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}", flush=True)
        try:
            from go_tdigest_spark.operators import release_dedup_caches

            release_dedup_caches()
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001
            pass
    spark.stop()


if __name__ == "__main__":
    main()
