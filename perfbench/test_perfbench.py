"""The benchmark's own tests.

    python3 -m pytest perfbench -q -p no:cacheprovider

The end-to-end tests start Spark in a subprocess on tiny inputs (about
two minutes in all); the check tests run without Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import Row

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

from go_tdigest_spark import TDigest, serde  # noqa: E402

TINY = {"tokens_by_source": 0.01, "fine_groups": 0.002}


def _run(workload: str, trace: int, seed: int = 3):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", str(TINY[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    return proc, json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_passes_and_prints_every_metric(workload):
    proc, out = _run(workload, trace=0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == set(run.REPORTED_END_TO_END)
    for name, unit in run.END_TO_END_UNITS.items():
        assert f" {name}=" in proc.stdout and proc.stdout.count(f" {unit} ")
    for m in out["metrics"].values():
        assert m["value"] > 0


def test_traced_run_prints_every_layer_metric():
    proc, out = _run("fine_groups", trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert out["correct"] and out["attempted"] >= 2
    assert set(out["metrics"]) == set(run.PER_LAYER_UNITS)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["merge.levels"] == 2  # 66 files > fanin 64
    assert m["stage1.tasks"] == 66
    assert m["spark.jobs"] >= 1 and m["trace.spans"] > 0
    with open(os.path.join(ROOT, ".benchdata", "perfbench",
                           "trace-fine_groups-3.json")) as f:
        spans = json.load(f)
    assert {"name", "start", "end", "parent", "query", "self"} <= set(spans[0])


def test_bench_refuses_to_run_without_the_library(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fine_groups",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_tracer_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("a"):
        with t.span("b"):
            pass
        with t.span("c"):
            pass
    own = t.self_times()
    a, b, c = t.spans
    assert b["parent"] == a["id"] and c["parent"] == a["id"]
    dur = a["end"] - a["start"]
    assert own[0] == pytest.approx(
        dur - (b["end"] - b["start"]) - (c["end"] - c["start"]))
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


# ------------------------------------------------- checks, without Spark


def _workload(tmp_path, name):
    d = str(tmp_path / name)
    return WORKLOADS[name](d, gen.generate(name, 5, d, TINY[name]))


def _group_rows(wl, drop_counts_of=None):
    """Query rows as Spark returns them, from digests built in-process;
    the digest of group ``drop_counts_of`` loses its centroid counts."""
    rows = []
    for key, u, cnt, n_rows in wl.groups():
        d = TDigest.from_values(np.repeat(u, cnt))
        if key == drop_counts_of:
            means, counts = d.centroids()
            d = TDigest.from_centroids(means, np.ones_like(counts))
        rows.append(Row(**{wl.by: key}, n_rows=n_rows, total_weight=int(
                        cnt.sum()), digest_count=d.count,
                        q=d.quantile(np.asarray(wl.read_qs)).tolist(),
                        nbytes=len(serde.encode(d))))
    return rows


@pytest.mark.parametrize("name", ["fine_groups", "tokens_by_source"])
def test_check_fails_on_a_digest_with_dropped_counts(tmp_path, name):
    wl = _workload(tmp_path, name)
    good = wl.check(_group_rows(wl))
    assert good.ok, good.problems[:5]
    assert 0 < good.max_rank_err <= 0.015
    biggest = max(wl.groups(), key=lambda g: g[2].sum())[0]
    bad = wl.check(_group_rows(wl, drop_counts_of=biggest))
    assert not bad.ok
    assert any(f"group {biggest}" in p for p in bad.problems)


def test_check_fails_on_a_missing_group(tmp_path):
    wl = _workload(tmp_path, "fine_groups")
    assert not wl.check(_group_rows(wl)[1:]).ok

