"""t-digest benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload fine_groups --seed 1 --seconds 12 --trace 0

Generates the workload's input from the seed (cached under
``.benchdata/perfbench``), starts Spark on ``local[<cpus>]``, then runs the
workload's query back to back for ``--seconds`` seconds, each time on a
fresh DataFrame with the cache cleared in between, and checks every
output against exact answers.  Prints one line per metric and, last, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones (see README.md).  Exits 1 if any check failed and
2 if the library cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "values_per_s": "1/s", "query_s_p50": "s", "setup_s": "s",
    "peak_rss_mb": "MB", "digest_bytes_mean": "bytes",
    "rank_err_mean": "rank", "max_rank_err": "rank", "error_rate": "ratio",
}
# Printed but left out of the final JSON line: error_rate is 0 on a
# healthy run (the line carries it as attempted/failed), and the largest
# rank error of a run swings by half its value from seed to seed, so the
# mean rank error stands for accuracy there; every single error is still
# checked against the bound.
REPORTED_END_TO_END = [m for m in END_TO_END_UNITS
                       if m not in ("error_rate", "max_rank_err")]

PER_LAYER_UNITS = {
    "core.build_s": "s", "core.merge_s": "s", "core.query_s": "s",
    "core.centroids_mean": "count",
    "serde.encode_s": "s", "serde.decode_s": "s", "serde.bytes_total": "bytes",
    "stage1.s": "s", "stage1.partial_rows": "count", "stage1.tasks": "count",
    "merge.s": "s", "merge.levels": "count", "merge.partials_in": "count",
    "merge.shuffle_bytes": "bytes",
    "read.s": "s",
    "annotate.s": "s", "annotate.broadcast_bytes": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.executor_run_s": "s",
    "control.percentile_approx_s": "s",
    "self.query_s": "s", "self.plan_s": "s", "self.action_s": "s",
    "self.check_s": "s",
    "trace.overhead_s": "s", "trace.spans": "count",
}

# session set-ups per run; setup_s is their median
SETUPS = 3


def warm_up(spark) -> None:
    """Start the Python worker pool and import the library in it."""
    from go_tdigest_spark.operators import tdigest_agg

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 64 * n, 1, n).selectExpr("id % 4 AS k", "id AS v")
    tdigest_agg(df, "v", by=["k"]).collect()


def run_queries(spark, wl, tracer, seconds: float, trace: bool,
                rss) -> dict:
    """Closed loop: one query at a time until ``seconds`` have passed.

    One unrecorded query on a slice of the input runs first, so Spark has
    compiled the query's code before timing starts.  A traced run runs at
    least four queries and traces them in the order traced, untraced,
    untraced, traced, so that drift in the host's speed cancels out of
    the tracing overhead."""
    from layers import spark_stats
    from tracing import Tracer

    off = Tracer(False)
    wl.query(spark, off, warm=True)
    spark.catalog.clearCache()
    rss.take_peak()  # each recorded peak covers one timed query only
    res = {"ok_s": [], "traced_s": [], "untraced_s": [], "stats": [],
           "peak_rss": [],
           "max_err": [], "mean_err": [], "attempted": 0, "failed": 0}
    start = time.perf_counter()
    i = 0
    while i < (4 if trace else 1) or time.perf_counter() - start < seconds:
        traced = trace and i % 4 in (0, 3)
        tr = tracer if traced else off
        tr.query = i
        group = f"query-{i}"
        spark.sparkContext.setJobGroup(group, wl.name)
        res["attempted"] += 1
        try:
            with tr.span("query"):
                t0 = time.perf_counter()
                rows = wl.query(spark, tr)
                took = time.perf_counter() - t0
                with tr.span("query.check"):
                    check = wl.check(rows)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res["failed"] += 1
        else:
            if check.ok:
                res["ok_s"].append(took)
                res["traced_s" if traced else "untraced_s"].append(took)
                res["max_err"].append(check.max_rank_err)
                res["mean_err"].append(check.mean_rank_err)
            else:
                res["failed"] += 1
                for p in check.problems[:20]:
                    print(f"check failed: {wl.name} query {i}: {p}",
                          file=sys.stderr)
        spark.catalog.clearCache()
        res["peak_rss"].append(rss.take_peak())
        if traced:
            res["stats"].append(spark_stats(spark, group))
        i += 1
    spark.sparkContext.setJobGroup("", "")
    return res


def _median(xs) -> float:
    """Median, or 0.0 when every query failed."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(wl, res, setups) -> dict:
    ok = res["ok_s"]
    return {
        "values_per_s": wl.values_per_query * len(ok) / sum(ok) if ok else 0.0,
        "query_s_p50": _median(ok),
        "setup_s": _median(setups),
        "peak_rss_mb": _median(res["peak_rss"]) / 1e6,
        "digest_bytes_mean": (statistics.mean(wl.digest_bytes)
                              if wl.digest_bytes else 0.0),
        "rank_err_mean": (statistics.mean(res["mean_err"])
                          if res["mean_err"] else 0.0),
        "max_rank_err": max(res["max_err"], default=0.0),
        "error_rate": res["failed"] / res["attempted"],
    }


def per_layer(spark, wl, tracer, res) -> dict:
    from layers import core_and_serde, spark_layers

    m = {}
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                "executor_run_s"):
        m[f"spark.{key}"] = _median(s[key] for s in res["stats"])
    for name, span in (("query", "query"), ("plan", "query.plan"),
                       ("action", "query.action"), ("check", "query.check")):
        m[f"self.{name}_s"] = tracer.median_self(span)
    tracer.query = None
    m.update(core_and_serde(wl, tracer))
    m.update(spark_layers(spark, wl, tracer))
    m["trace.overhead_s"] = _median(res["traced_s"]) - _median(res["untraced_s"])
    m["trace.spans"] = len(tracer.spans)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="t-digest benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (1.0 is the benchmark size)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import go_tdigest_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import gen
    import host
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".benchdata", "perfbench")
    data_dir = os.path.join(work, args.workload)
    manifest = gen.generate(args.workload, args.seed, data_dir, args.scale)
    conf = host.session_config(work)
    # Python workers import the library from the checkout; temp files of
    # every process stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    wl = WORKLOADS[args.workload](data_dir, manifest)
    tracer = Tracer(enabled=bool(args.trace))

    spark = None
    try:
        with host.RssSampler() as rss:
            setups = []
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                with tracer.span("setup"):
                    spark = host.start_session(conf)
                    warm_up(spark)
                setups.append(time.perf_counter() - t0)
            setup_rss = rss.take_peak()
            res = run_queries(spark, wl, tracer, args.seconds,
                              bool(args.trace), rss)
        e2e = end_to_end(wl, res, setups)
        layer = per_layer(spark, wl, tracer, res) if args.trace else None
    finally:
        host.shutdown(spark)
    if args.trace:
        tracer.dump(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"))

    cpus = host.cpu_count()
    tag = (f"cpus={cpus} master={conf['spark.master']} "
           f"heap={conf['spark.driver.memory']}")
    settings = {k: v for k, v in conf.items() if "dir" not in k}
    print(f"# {args.workload} seed={args.seed} {tag} conf={json.dumps(settings)} "
          f"input={json.dumps(manifest)} setups={[round(s, 3) for s in setups]} "
          f"query_s={[round(t, 3) for t in res['ok_s']]} "
          f"peak_rss_mb={[round(b / 1e6) for b in [setup_rss] + res['peak_rss']]}")
    if args.trace:
        units, metrics = PER_LAYER_UNITS, layer
    else:
        units, metrics = END_TO_END_UNITS, e2e
    for name, unit in units.items():
        print(f"{args.workload} {tag} {name}={metrics[name]:.6g} {unit} (n={len(res['ok_s'])})")
    correct = res["failed"] == 0
    keep = PER_LAYER_UNITS if args.trace else REPORTED_END_TO_END
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in keep},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
