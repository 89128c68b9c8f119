"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and, where an
``oracle_sql()`` entry exists, the equivalent SQL on DuckDB over the same
parquet files; compares row count, column names, and order-insensitive
values.  Exits non-zero on any mismatch.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr of float64 is exact roundtrip; both sides produce doubles
        return repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["|".join(canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main() -> int:
    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    from go_tdigest_spark.session import session_config

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = (
        SparkSession.builder.appName("mini-verify")
        .config(map=session_config(cpus))
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    # smoke: entry()
    t0 = time.time()
    edf = entrymod.entry(spark)
    erows = edf.collect()
    print(f"entry(): {len(erows)} rows in {time.time()-t0:.1f}s schema={edf.columns}")
    assert len(erows) > 0

    qs = entrymod.queries()
    only = set(sys.argv[1:])
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"unknown query names: {sorted(unknown)}")
            return 2
        qs = {k: v for k, v in qs.items() if k in only}
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            spark_cols = [c.lower() for c in sdf.columns]
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        took = time.time() - t0
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(spark_rows)} rows, {took:.1f}s)")
            if len(spark_rows) == 0:
                failures.append(name)
                print(f"FAIL  {name}: zero rows")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0].lower() for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        ok = True
        if len(spark_rows) == 0 and len(duck_rows) == 0:
            # a 0 == 0 "match" is vacuous — a regression that empties
            # BOTH sides (broken threshold dropping every pair, empty
            # cohort collapse) must surface loudly, not convert the
            # gate into a no-op
            failures.append(name)
            print(f"FAIL  {name}: both sides returned zero rows (vacuous)")
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            ok = False
            print(f"FAIL  {name}: schema {sorted(spark_cols)} != {sorted(duck_cols)}")
        elif len(spark_rows) != len(duck_rows):
            ok = False
            print(f"FAIL  {name}: rowcount {len(spark_rows)} != {len(duck_rows)}")
        else:
            a = canon_rows(spark_cols, spark_rows)
            b = canon_rows(duck_cols, duck_rows)
            if a != b:
                ok = False
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                print(f"FAIL  {name}: value mismatch; first diffs:")
                for x, y in diff:
                    print(f"   spark: {x}\n   duck : {y}")
        if ok:
            print(f"ok    {name}: exact match ({len(spark_rows)} rows, {took:.1f}s)")
        else:
            failures.append(name)
        # release the tables some queries persist (gram/signature/
        # index/band/pack-range) so 50 queries in one session do not
        # accumulate cached snapshots and evict each other at sf0.1
        try:
            from go_tdigest_spark.operators import release_dedup_caches

            release_dedup_caches()
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001 — cache hygiene must not fail the gate
            pass

    print(
        f"\n{len(qs) - len(set(failures))}/{len(qs)} queries ok"
        + (f"; FAILURES: {sorted(set(failures))}" if failures else "")
    )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
