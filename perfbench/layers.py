"""Per-layer measurements for the traced run.

Each layer is timed by a span around a call into that module's public
functions, from the benchmark's side:

- ``core``: the NumPy kernel, single-threaded in this process, on the
  first ``CORE_FILES`` input files: stage-1 style per-file, per-group
  builds, the per-group merge of those partials, and reads;
- ``serde``: encode and decode of those partials;
- ``stage1``: ``aggregate.build_partials`` written to the noop sink;
- ``merge``: ``aggregate.merge_partials`` over persisted partials;
- ``read``: ``td_quantile`` and ``td_cdf`` over persisted final digests;
- ``annotate``: ``tdigest_rank`` with ``digests=`` the final digests;
- ``control``: Spark's own ``percentile_approx`` on the same input.
"""

from __future__ import annotations

import glob
import statistics

import numpy as np
import pyarrow.parquet as pq

from workloads import CHECK_QS, FANIN

CORE_FILES = 4


def spark_stats(spark, group: str) -> dict:
    """Jobs, stages that ran, their tasks, shuffle bytes written and
    executor run time for the jobs of ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
           "shuffle_write_bytes": 0, "executor_run_s": 0.0}
    for j in jobs:
        for sid in tracker.getJobInfo(j).stageIds:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
    return out


def _core_inputs(wl):
    """Per file of the build input: {group key: values}."""
    files = sorted(glob.glob(wl.path("data") + "/*.parquet"))[:CORE_FILES]
    per_file = []
    for path in files:
        t = pq.read_table(path)
        keys = t.column(wl.by).to_numpy()
        if wl.explode:
            col = t.column(wl.value_col).combine_chunks()
            lens = col.value_lengths().to_numpy()
            vals = col.flatten().to_numpy()
            keys = np.repeat(keys, lens)
        else:
            vals = t.column(wl.value_col).to_numpy()
        order = np.argsort(keys, kind="stable")
        keys, vals = keys[order], vals[order]
        uk, start = np.unique(keys, return_index=True)
        end = np.append(start[1:], keys.size)
        per_file.append({int(k): vals[a:b] for k, a, b in zip(uk, start, end)})
    return per_file


def core_and_serde(wl, tracer) -> dict:
    from go_tdigest_spark import TDigest, serde

    per_file = _core_inputs(wl)
    partials: dict[int, list] = {}
    with tracer.span("core.build"):
        for groups in per_file:
            for k, v in groups.items():
                d = TDigest()
                d.add_batch(v)
                d.compress()
                partials.setdefault(k, []).append(d)
    with tracer.span("serde.encode"):
        blobs = {k: [serde.encode(d) for d in ds] for k, ds in partials.items()}
    with tracer.span("serde.decode"):
        decoded = {k: [serde.decode(b) for b in bs] for k, bs in blobs.items()}
    finals = {}
    with tracer.span("core.merge"):
        for k, ds in decoded.items():
            m = TDigest.merge_all(ds)
            m.compress()
            finals[k] = m
    qs = np.asarray(wl.read_qs)
    with tracer.span("core.query"):
        for d in finals.values():
            d.cdf(d.quantile(qs))
    return {
        "core.build_s": tracer.total("core.build"),
        "core.merge_s": tracer.total("core.merge"),
        "core.query_s": tracer.total("core.query"),
        "core.centroids_mean": statistics.mean(len(d) for d in finals.values()),
        "serde.encode_s": tracer.total("serde.encode"),
        "serde.decode_s": tracer.total("serde.decode"),
        "serde.bytes_total": sum(len(b) for bs in blobs.values() for b in bs),
    }


def _arrow_maps(df) -> int:
    """MapInArrow nodes in the DataFrame's logical plan."""
    return df._jdf.queryExecution().logical().toString().count("MapInArrow")


def spark_layers(spark, wl, tracer) -> dict:
    from pyspark.sql import functions as F

    from go_tdigest_spark.functions.tdigest_fns import td_cdf, td_quantile
    from go_tdigest_spark.operators import tdigest_rank
    from go_tdigest_spark.operators.aggregate import (build_partials,
                                                      merge_partials)

    sc = spark.sparkContext
    out = {}
    src = spark.read.parquet(wl.path("data"))
    by = [wl.by]

    sc.setJobGroup("layer.stage1", "stage1")
    with tracer.span("stage1"):
        build_partials(src, wl.value_col, by, explode_arrays=wl.explode) \
            .write.format("noop").mode("overwrite").save()
    out["stage1.s"] = tracer.total("stage1")
    out["stage1.tasks"] = spark_stats(spark, "layer.stage1")["tasks"]

    partials = build_partials(src, wl.value_col, by,
                              explode_arrays=wl.explode).persist()
    sc.setJobGroup("layer.persist", "persist partials")
    out["stage1.partial_rows"] = out["merge.partials_in"] = partials.count()

    sc.setJobGroup("layer.merge", "merge")
    with tracer.span("merge"):
        finals = merge_partials(partials, by, fanin=FANIN).persist()
        finals.count()
    out["merge.s"] = tracer.total("merge")
    out["merge.shuffle_bytes"] = spark_stats(
        spark, "layer.merge")["shuffle_write_bytes"]
    # each tree level is one MapInArrow over a repartition
    out["merge.levels"] = _arrow_maps(finals) - _arrow_maps(partials)

    # CDF points: the input's quartiles (token ids 10, 100, 1000)
    xs = (np.quantile(wl.exact["sorted"], [0.25, 0.5, 0.75]).tolist()
          if "sorted" in wl.exact else [10.0, 100.0, 1000.0])
    sc.setJobGroup("layer.read", "read")
    with tracer.span("read"):
        finals.select(td_quantile("digest", list(wl.read_qs)),
                      td_cdf("digest", xs)).collect()
    out["read.s"] = tracer.total("read")

    # today's rows ranked against the digests just built: the first
    # input file (its first 16 tokens per sequence for token arrays)
    first = sorted(glob.glob(wl.path("data") + "/*.parquet"))[0]
    facts = spark.read.parquet(first)
    if wl.explode:
        facts = facts.select(wl.by, F.explode(F.slice(
            wl.value_col, 1, 16)).alias(wl.value_col))
    stored = finals.select(wl.by, "digest")
    sc.setJobGroup("layer.annotate", "annotate")
    with tracer.span("annotate"):
        tdigest_rank(facts, wl.value_col, by=by, digests=stored) \
            .agg(F.count("pct_rank")).collect()
    out["annotate.s"] = tracer.total("annotate")
    out["annotate.broadcast_bytes"] = stored.agg(
        F.sum(F.length("digest"))).first()[0]

    if wl.explode:
        # the first two files (6M tokens): all 24M would take ~6 s
        ctl = spark.read.parquet(*sorted(glob.glob(
            wl.path("data") + "/*.parquet"))[:2])
        ctl = ctl.select(wl.by, F.explode(wl.value_col).alias(wl.value_col))
    else:
        ctl = src
    sc.setJobGroup("layer.control", "control")
    with tracer.span("control"):
        ctl.groupBy(wl.by).agg(F.percentile_approx(
            wl.value_col, [0.0, *CHECK_QS, 1.0])).collect()
    out["control.percentile_approx_s"] = tracer.total("control")
    sc.setJobGroup("", "")
    partials.unpersist()
    finals.unpersist()
    spark.catalog.clearCache()
    return out
