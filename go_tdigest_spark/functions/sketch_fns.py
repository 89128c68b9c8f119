"""SQL-callable reads for the auxiliary sketch family.

``register_sketch_sql_functions(spark)`` exposes the KLL / HLL / CMS /
Bloom / Theta / Frequent Directions read surface to ``spark.sql`` users,
mirroring ``register_sql_functions`` for the t-digest:

    SELECT event_type, hll_estimate(sketch) FROM sketches
    SELECT kll_quantile(sketch, 0.99) FROM kll_sketches
    SELECT cms_point_query(sketch, xxhash64(l_suppkey)) FROM cms, probes
    SELECT bloom_might_contain(sketch, xxhash64(k), xxhash64(k, 1)) ...

Every read is one ``sketch_udf`` in ``operators/sketch_agg.py``
(factory in ``_udf.py``), and each SQL name registers that same object:
one decode, one NULL rule (a NULL sketch or argument reads NULL; the
pair merges treat NULL as the identity), nothing to drift.  The probe
functions (``cms_point_query``, ``bloom_might_contain``) are SQL
functions that wrap the raw UDF in the IDENTICAL coalesce/CASE mask the
Column API applies: a NULL-bearing int64 hash column otherwise arrives
in pandas as lossy float64 (53-bit mantissa vs ~2^63 xxhash64 values)
and the raw kernel refuses it loudly — SQL callers get true
NULL-in/NULL-out semantics instead of that error.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators import sketch_agg as S

# SQL name -> the UDF its Column-API function calls.  The two probes
# register under private raw names; their public SQL names are the
# NULL-masking wrappers below.
_SQL_READS = {
    "kll_quantile": S._kll_quantile_udf,
    "kll_cdf": S._kll_cdf_udf,
    "kll_count": S._kll_count_udf,
    "kll_merge_pair": S._kll_merge_pair_udf,
    "hll_estimate": S._hll_estimate_udf,
    "hll_union_pair": S._hll_union_pair_udf,
    "hll_intersect_estimate": S._hll_intersect_udf,
    "theta_estimate": S._theta_estimate_udf,
    "theta_n_retained": S._theta_n_retained_udf,
    "theta_rse_bound": S._theta_rse_bound_udf,
    "theta_union_pair": S._theta_union_pair_udf,
    "theta_intersect_pair": S._theta_intersect_pair_udf,
    "theta_a_not_b_pair": S._theta_a_not_b_pair_udf,
    "cms_total": S._cms_total_udf,
    "cms_merge_pair": S._cms_merge_pair_udf,
    "bloom_union_pair": S._bloom_union_pair_udf,
    "bloom_intersect_pair": S._bloom_intersect_pair_udf,
    "fd_rows": S._fd_rows_udf,
    "fd_fnorm2": S._fd_fnorm2_udf,
    "fd_spectral_bound": S._fd_bound_udf,
    "fd_singular_values": S._fd_singular_values_udf,
    "_cms_point_query_raw": S._cms_point_query_udf,
    "_bloom_might_contain_raw": S._bloom_might_contain_udf,
}


def register_sketch_sql_functions(spark: SparkSession) -> None:
    for name, udf in _SQL_READS.items():
        spark.udf.register(name, udf)
    # coalesce keeps the hash column int64 even when the CASE branch is
    # batch-evaluated over NULL rows — the same mask as the Column API
    # wrappers in sketch_agg.py
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION cms_point_query(
            sk BINARY, h BIGINT) RETURNS BIGINT
        RETURN CASE WHEN sk IS NOT NULL AND h IS NOT NULL
               THEN _cms_point_query_raw(sk, coalesce(h, 0L)) END
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION bloom_might_contain(
            sk BINARY, h1 BIGINT, h2 BIGINT) RETURNS BOOLEAN
        RETURN CASE WHEN sk IS NOT NULL AND h1 IS NOT NULL
                    AND h2 IS NOT NULL
               THEN _bloom_might_contain_raw(
                        sk, coalesce(h1, 0L), coalesce(h2, 0L)) END
        """
    )
