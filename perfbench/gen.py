"""Seeded input generator for the t-digest benchmark.

One process, no Spark: NumPy draws the inputs from ``--seed`` and PyArrow
writes them as parquet.  The same (workload, seed, scale) always yields
the same files.  Next to the parquet files it writes ``exact.npz`` (the
exact answers the output checks compare against) and ``manifest.json``
(row, value, group and file counts).  The program under test only ever
receives the parquet files.

    python3 perfbench/gen.py --workload fine_groups --seed 1 --out .benchdata/x
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes, so cached inputs are rebuilt.
FORMAT = 2

# Full-size parameters; ``scale`` multiplies the row/value counts.
SIZES = {
    # few groups, many values: ~24M Zipf token ids in 4 sources
    "tokens_by_source": {"tokens": 24_000_000, "sources": 4, "vocab": 50_000,
                         "seq_min": 64, "seq_max": 1024, "files": 8},
    # many small groups; more files than the tree-merge fanin of 64
    "fine_groups": {"rows": 3_000_000, "groups": 2000, "files": 66},
}


def _zipf_groups(rng: np.random.Generator, n: int, groups: int) -> np.ndarray:
    """Group ids 0..groups-1 with P(k) proportional to 1/(k+1)^1.1."""
    p = 1.0 / np.arange(1, groups + 1) ** 1.1
    cdf = np.cumsum(p / p.sum())
    g = np.searchsorted(cdf, rng.random(n), side="right")
    return np.minimum(g, groups - 1).astype(np.int32)


def _group_params(rng: np.random.Generator, groups: int):
    """Per-group lognormal location and scale."""
    return rng.normal(3.0, 1.0, groups), rng.uniform(0.3, 1.2, groups)


def _write_files(path: str, table: pa.Table, files: int) -> None:
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(np.int64)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def _sorted_by_group(g: np.ndarray, v: np.ndarray, groups: int):
    """Values sorted by (group, value) plus per-group offsets."""
    order = np.lexsort((v, g))
    offsets = np.zeros(groups + 1, dtype=np.int64)
    np.cumsum(np.bincount(g, minlength=groups), out=offsets[1:])
    return v[order], offsets


def _gen_tokens(rng, size, out):
    n_src, vocab = size["sources"], size["vocab"]
    lens = []
    total = 0
    while total < size["tokens"]:
        lens.append(int(rng.integers(size["seq_min"], size["seq_max"] + 1)))
        total += lens[-1]
    lens = np.asarray(lens, dtype=np.int32)
    rows = lens.size
    source = rng.integers(0, n_src, rows).astype(np.int32)
    # Zipf-like ids: id = floor((vocab+1)^(u^a)) - 1 puts P(id) near 1/id;
    # the exponent a differs per source so each source has its own skew
    skew = np.linspace(0.9, 1.3, n_src)
    src_tok = np.repeat(source.astype(np.int8), lens)
    tok = np.empty(total, dtype=np.int32)
    chunk = 1 << 21  # bounds the float64 temporaries
    for lo in range(0, total, chunk):
        hi = min(total, lo + chunk)
        e = rng.random(hi - lo) ** skew[src_tok[lo:hi]]
        tok[lo:hi] = np.floor(np.exp(np.log(vocab + 1.0) * e)) - 1
    np.clip(tok, 0, vocab - 1, out=tok)
    offsets = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    table = pa.table({
        "source": pa.array(source),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(tok)),
    })
    _write_files(os.path.join(out, "data"), table, size["files"])
    hist = np.zeros((n_src, vocab), dtype=np.int64)
    for s in range(n_src):
        hist[s] = np.bincount(tok[src_tok == s], minlength=vocab)
    np.savez(os.path.join(out, "exact.npz"), hist=hist,
             rows=np.bincount(source, minlength=n_src))
    return {"rows": rows, "values": int(total), "groups": n_src,
            "files": size["files"]}


def _gen_fine(rng, size, out):
    n, groups = size["rows"], size["groups"]
    g = _zipf_groups(rng, n, groups)
    mu, sigma = _group_params(rng, groups)
    v = np.exp(mu[g] + sigma[g] * rng.standard_normal(n))
    _write_files(os.path.join(out, "data"), pa.table({"g": g, "v": v}),
                 size["files"])
    sv, offsets = _sorted_by_group(g, v, groups)
    np.savez(os.path.join(out, "exact.npz"), sorted=sv, offsets=offsets)
    return {"rows": n, "values": n, "groups": int((np.diff(offsets) > 0).sum()),
            "files": size["files"]}


_GENERATORS = {"tokens_by_source": _gen_tokens, "fine_groups": _gen_fine}


def generate(workload: str, seed: int, out: str, scale: float = 1.0) -> dict:
    """Write the inputs of ``workload`` under ``out`` and return the
    manifest.  Reuses ``out`` when it already holds the same inputs."""
    size = {k: max(1, int(round(v * scale))) if k in ("tokens", "rows") else v
            for k, v in SIZES[workload].items()}
    key = {"format": FORMAT, "workload": workload, "seed": seed,
           "size": size}
    manifest_path = os.path.join(out, "manifest.json")
    try:
        with open(manifest_path) as f:
            manifest = json.load(f)
        if {k: manifest.get(k) for k in key} == key:
            return manifest
    except (OSError, ValueError):
        pass
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng([seed, FORMAT])
    manifest = dict(key, **_GENERATORS[workload](rng, size, out))
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()
    print(json.dumps(generate(args.workload, args.seed, args.out, args.scale)))


if __name__ == "__main__":
    main()
