"""Shared Arrow-batch helpers for the partial-aggregation builders."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def poly_hash_batch(
    strings: list[str], base: int = 31, mod: int = 1_000_000_007
) -> np.ndarray:
    """Vectorized polynomial codepoint hash ``h = (h*base + cp) % mod``
    for every string of a batch: one utf-32 encode for the whole batch,
    then one column-wise pass per character position (max_len passes
    total, each a fancy-indexed numpy expression — no per-string loop).

    Bit-identical to the SQL formulation ``aggregate(transform(...))`` /
    ``list_reduce`` used by the oracle twins (ascii() == codepoint).
    """
    m = len(strings)
    h = np.zeros(m, dtype=np.int64)
    if m == 0:
        return h
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=m)
    cps = np.frombuffer(
        "".join(strings).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    offs = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    max_len = int(lens.max())
    for j in range(max_len):
        active = lens > j
        h[active] = (h[active] * base + cps[offs[:-1][active] + j]) % mod
    return h


def group_codes(batch: pa.RecordBatch, n_by: int):
    """Dictionary-encode the first ``n_by`` columns of the batch into one
    combined mixed-radix row code, and resolve each distinct code back to
    its python key tuple (NULL keys supported via the -1 sentinel).

    Returns (combined int64 array | None, uniq_codes, row_counts, keys,
    row_order): ``combined``/``row_order`` are None when ``n_by == 0``
    (single implicit group).  ``row_order`` is the STABLE argsort of the
    codes — kernels pre-sort their value columns with it once and slice
    contiguous [offset, offset+count) runs per group, instead of an
    O(groups x rows) boolean mask per group; stability keeps the
    within-group row order identical to the masked form.
    """
    n = batch.num_rows
    if n_by == 0:
        return (
            None,
            np.zeros(1, dtype=np.int64),
            np.array([n], dtype=np.int64),
            [()],
            None,
        )
    combined = np.zeros(n, dtype=np.int64)
    mult = 1
    for j in range(n_by - 1, -1, -1):
        enc = pc.dictionary_encode(batch.column(j))
        idx = (
            enc.indices.fill_null(-1)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        combined += (idx + 1) * mult
        mult *= len(enc.dictionary) + 1
    uniq_codes, row_counts = np.unique(combined, return_counts=True)
    row_order = np.argsort(combined, kind="stable")
    first_rows = row_order[
        np.searchsorted(combined[row_order], uniq_codes, side="left")
    ]
    # one Arrow take + to_pylist per key column (exact python values)
    take = pa.array(first_rows, type=pa.int64())
    keys = list(
        zip(*(batch.column(j).take(take).to_pylist() for j in range(n_by)))
    )
    return combined, uniq_codes, row_counts, keys, row_order
