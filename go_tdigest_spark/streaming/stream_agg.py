"""Structured Streaming for every mergeable sketch (t-digest, HLL, CMS,
Bloom, KLL, Misra-Gries, Theta, Frequent Directions).

Design: *append partials, merge on read*.  Each micro-batch runs the
same stage-1 partial build as the batch path (one sketch per stage-1
task x group per trigger) and overwrites its own ``batch_id=N``
directory of a parquet state table (exactly-once under foreachBatch's
at-least-once replay).  Readers get exact, point-in-time correct
sketches by tree-merging the partials of committed batches only
(``_SUCCESS``-marked, listed through plans/commit.py).  This is the
scale-correct shape for streams: state is O(triggers x groups x sketch
size) bytes, appends are atomic with the file-commit protocol, there is
no read-modify-write race, and compaction (``compact_stream_state``)
is a trivially safe background job because merge is associative
(reference: tdigest.go:262-272).

One writer, ``sketch_stream_writer``, takes the stage-1 builder as a
callable, so any sketch drops into this shape: e.g. streaming distinct
users are ``sketch_stream_writer(stream, lambda b: hll_partials(b,
["user_id"], ["event_type"]), ...)`` with ``read_stream_sketches(...,
HLL.from_bytes)`` at query time.  The t-digest entry points
(``tdigest_stream_writer``, ``read_stream_digests``) are thin wrappers.

The digest is explicitly "parallel streaming friendly" (reference
README.md:3-4); mergeability is what lets a streaming sketch avoid
per-key mutable state entirely.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import build_partials, merge_partials
from ..operators.sketch_agg import merge_sketches
from ..plans import commit


def sketch_stream_writer(
    stream_df: DataFrame,
    partials_fn: Callable[[DataFrame], DataFrame],
    state_path: str,
    checkpoint_path: str,
):
    """Returns a DataStreamWriter maintaining an append-partials state
    table; start with ``.start()`` / ``.trigger(availableNow=True)``.

    ``partials_fn(batch_df)`` must return stage-1 partial rows (e.g.
    ``build_partials`` or any ``*_partials`` builder).
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        partials = partials_fn(batch_df)
        # per-batch directory: crash replays overwrite, never double-count
        partials.write.mode("overwrite").parquet(
            f"{state_path}/batch_id={batch_id}"
        )

    return (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )


def tdigest_stream_writer(
    stream_df: DataFrame,
    value_col: str,
    by: Sequence[str],
    state_path: str,
    checkpoint_path: str,
    compression: float = 100.0,
    explode_arrays: bool = False,
):
    """Returns a DataStreamWriter that maintains the partial-digest state
    table; start it with ``.start()`` (or trigger(availableNow=True))."""
    by = list(by)
    return sketch_stream_writer(
        stream_df,
        lambda b: build_partials(
            b, value_col, by, compression, explode_arrays=explode_arrays
        ),
        state_path,
        checkpoint_path,
    )


def read_committed_partials(
    spark: SparkSession,
    state_path: str,
    cols: Sequence[str],
    count_units: bool = True,
):
    """Shared read path for every streaming state table: committed
    batches only, plus the partial count for merge-tree sizing
    (storage-read partitions pack many partials per group; parquet
    count() is footer-metadata only)."""
    # read the EXPLICIT file list captured at commit-check time (not
    # the directories): files written by a later replay-overwrite can
    # never leak into this read, and files deleted by one fail loudly
    files = [
        f
        for _, _, fl in commit.committed_dirs(spark, state_path, "batch_id")
        for f in fl
    ]
    if not files:
        raise FileNotFoundError(f"no committed batches under {state_path}")
    partials = (
        spark.read.option("basePath", state_path).parquet(*files).select(*cols)
    )
    n_units = partials.count() if count_units else None
    return partials, n_units


def read_stream_sketches(
    spark: SparkSession,
    state_path: str,
    by: Sequence[str],
    decode: Callable[[bytes], object],
    fanin: int | None = 64,
) -> DataFrame:
    """Merge-on-read: current sketches from a ``sketch_stream_writer``
    state table (committed batches only)."""
    by = list(by)
    partials, n_units = read_committed_partials(
        spark, state_path, by + ["sketch", "n_rows"], count_units=fanin is not None
    )
    return merge_sketches(partials, by, decode, fanin=fanin, n_units=n_units)


def read_stream_digests(
    spark: SparkSession, state_path: str, by: Sequence[str], fanin: int | None = 64
) -> DataFrame:
    """Merge-on-read: current digests from the streaming state table
    (committed batches only)."""
    by = list(by)
    partials, n_units = read_committed_partials(
        spark,
        state_path,
        by + ["digest", "n_rows", "total_weight"],
        count_units=fanin is not None,
    )
    return merge_partials(partials, by, fanin=fanin, n_units=n_units)


def tdigest_windowed_stream_writer(
    stream_df: DataFrame,
    value_col: str,
    ts_col: str,
    by: Sequence[str],
    state_path: str,
    checkpoint_path: str,
    window_duration: str = "5 minutes",
    compression: float = 100.0,
    slide_duration: str | None = None,
):
    """Event-time windowed digests: append partials keyed by
    (event-time window, group) each trigger; merge-on-read.

    ``slide_duration``: SLIDING windows (e.g. a 1-hour window every 5
    minutes) — Catalyst's TimeWindowing rule expands each row into its
    window_duration/slide_duration overlapping windows before the
    partial build, so the per-window digests stay exact with no extra
    code.  Default None = tumbling.  State grows by the same overlap
    factor (each row's mass appears in every window containing it).

    Late-data posture: because digests are mergeable, a late row simply
    appends another partial to its (window, key) — readers always see
    point-in-time-correct window digests without any watermark-driven
    state eviction.  Retention is a storage policy (drop window
    directories older than X), not a correctness mechanism; this is the
    watermark-free shape that scales, since state is O(windows x groups x
    compression) in cheap object storage rather than executor memory.
    """
    by = list(by)

    def window_partials(batch_df: DataFrame) -> DataFrame:
        win = (
            F.window(F.col(ts_col), window_duration, slide_duration)
            if slide_duration
            else F.window(F.col(ts_col), window_duration)
        )
        windowed = batch_df.withColumn("window_start", win.start)
        return build_partials(windowed, value_col, ["window_start"] + by, compression)

    return sketch_stream_writer(
        stream_df, window_partials, state_path, checkpoint_path
    )


def read_windowed_digests(
    spark: SparkSession,
    state_path: str,
    by: Sequence[str],
    fanin: int | None = 64,
) -> DataFrame:
    return read_stream_digests(spark, state_path, ["window_start"] + list(by), fanin)


def tdigest_stateful_stream(
    stream_df: DataFrame,
    value_col: str,
    key_col: str,
    compression: float = 100.0,
    quantiles: tuple = (0.5, 0.99),
    names: Sequence[str] | None = None,
):
    """Custom stateful streaming operator: per-key digest state maintained
    with ``applyInPandasWithState``.  Every trigger folds the new rows
    into the key's digest (mergeable state — the property that makes the
    sketch streaming-friendly, reference README.md:3-4) and emits the
    updated count and quantile estimates.

    Output column naming: quantile columns default to
    ``q<repr(q)>`` with ``.``/``-`` mapped to ``_``/``m`` (e.g.
    ``q0_5``, ``q0_999``).  NOTE — this CHANGED when the naming moved
    from ``format(q, 'g')`` (6 significant digits, collision-prone at
    e.g. 0.9999995 vs 1.0) to exact-roundtrip ``repr``: any quantile
    whose repr differs from its 'g' form gets a different column name
    than earlier releases emitted.  Callers with pinned downstream
    schemas can pass ``names`` (one per quantile, same order) to keep
    their previous column names.

    Use this shape when per-trigger estimates must be queryable in the
    output stream itself; use the append-partials/merge-on-read shape
    (tdigest_stream_writer) when readers can merge at query time.
    Returns a DataFrame to ``writeStream`` in update mode.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..core import TDigest
    from .. import serde

    def q_name(q: float) -> str:
        # precision-preserving, collision-free: 0.5 -> q0_5, 0.999 ->
        # q0_999.  repr() is the shortest EXACT roundtrip form —
        # format(q, 'g') kept only 6 significant digits, so distinct
        # quantiles like 0.9999995 vs 1.0 collided (or got a column
        # name labeling the wrong quantile)
        return "q" + repr(float(q)).replace(".", "_").replace("-", "m")

    if names is None:
        names = [q_name(q) for q in quantiles]
        if len(set(names)) != len(names):
            raise ValueError("duplicate quantiles")
    else:
        import re

        names = [str(n) for n in names]
        if len(names) != len(quantiles):
            raise ValueError(
                f"names has {len(names)} entries for "
                f"{len(quantiles)} quantiles"
            )
        # names are interpolated into a DDL schema string — validate as
        # identifiers up front so a stray space/reserved character fails
        # with THIS message, not an opaque parse error (ADVICE r5 item 5)
        bad = [n for n in names if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", n)]
        if bad:
            raise ValueError(
                f"names must be plain identifiers ([A-Za-z_][A-Za-z0-9_]*); "
                f"invalid: {bad}"
            )
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate names: {sorted(names)}")
    q_cols = ", ".join(f"{n} double" for n in names)
    out_schema = f"key string, total long, {q_cols}"
    state_schema = "digest binary"

    def update(key, pdf_iter, state):
        if state.exists:
            digest = serde.decode(bytes(state.get[0]))
        else:
            digest = TDigest(compression=compression)
        for pdf in pdf_iter:
            vals = pdf[value_col].to_numpy(dtype=np.float64, copy=False)
            vals = vals[~np.isnan(vals)]
            if vals.size:
                digest.add_batch(vals)
        digest.compress()
        state.update((serde.encode(digest),))
        row = {"key": key[0], "total": digest.count}
        for q, name in zip(quantiles, names):
            row[name] = digest.quantile(q)
        yield pd.DataFrame([row])

    return (
        stream_df.select(F.col(key_col).cast("string").alias("key"), value_col)
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def compact_stream_state(
    spark: SparkSession,
    state_path: str,
    keep_last: int = 1,
    target_partitions: int | None = None,
) -> int:
    """Compact the append-partials state table: rewrite every committed
    ``batch_id=N`` directory except the newest ``keep_last`` into ONE
    directory (id = the highest compacted source id).  Rows are
    preserved VERBATIM — partials stay partials, so merge-on-read
    semantics are unchanged for every sketch family and any grouping —
    only the directory/file count collapses.  This is the "trivially
    safe background job" the module docstring promises: without it a
    long-lived stream accumulates one directory per trigger forever and
    every read pays the full listing.

    Crash-safety protocol (each step idempotent; re-running resumes):
      1. write the compacted rows to ``_compact_tmp`` (ignored by
         readers; Spark's _SUCCESS is the commit record), then publish
         a _MANIFEST.json naming the source directories by
         write-then-rename (a crash before the rename leaves no
         manifest, and the next call redoes step 1);
      2. delete the source directories;
      3. rename the tmp to ``batch_id=<target>``.
    A crash between 2 and 3 leaves the data in the committed tmp — the
    next call detects it and finishes steps 2-3 before doing anything
    else.  Readers racing steps 2-3 may briefly observe a state missing
    the compacted prefix (never a double count); run in a maintenance
    window if point-in-time completeness matters.

    ``keep_last >= 1`` (default) keeps the newest committed batch
    untouched, which makes compaction safe to run beside a LIVE stream:
    foreachBatch can only replay-overwrite the single batch whose
    checkpoint commit did not land, and that is always the newest.
    ``keep_last=0`` compacts everything — stream must be stopped.

    Returns the number of directories compacted away (0 = nothing to
    do; needs at least 2 compactable sources to be worth a rewrite).
    """
    if keep_last < 0:
        raise ValueError("keep_last must be >= 0")
    tmp = f"{state_path}/_compact_tmp"
    manifest_path = f"{tmp}/_MANIFEST.json"

    def _finish(manifest: dict) -> None:
        for d in manifest["sources"]:
            commit.delete(spark, d)
        final = f"{state_path}/batch_id={manifest['target_id']}"
        commit.delete(spark, final)  # defensive: crash mid-rename re-run
        commit.rename(spark, tmp, final)
        # drop the now-stale manifest from the final dir (underscore
        # prefix hides it from readers, but leaving it would confuse a
        # human and checksum-mismatch any future copy); AFTER the
        # rename — deleting it earlier would make a crash between
        # delete and rename unresumable (the resume path needs it)
        commit.delete(spark, f"{final}/_MANIFEST.json")

    # resume a crashed finish step first
    if commit.is_committed(spark, tmp) and commit.exists(spark, manifest_path):
        manifest = commit.read_json(
            spark, manifest_path, "compaction manifest", tmp
        )
        _finish(manifest)
        return len(manifest["sources"])
    # an uncommitted leftover from a crashed write, or a committed one
    # whose manifest never got published: redo the rewrite
    commit.delete(spark, tmp)

    # numeric batch order, so "keep the newest" keeps batch_id=10 over 2
    committed = commit.committed_dirs(spark, state_path, "batch_id")
    sources = committed[: max(0, len(committed) - keep_last)]
    src_files = [f for _, _, fl in sources for f in fl]
    if len(sources) < 2 or not src_files:
        return 0
    n_out = target_partitions or max(
        1, min(len(src_files), spark.sparkContext.defaultParallelism)
    )
    # batch_id is a dirname-derived partition column, not data — the
    # compacted dir's name carries the (coarsened) lineage
    df = (
        spark.read.option("basePath", state_path)
        .parquet(*src_files)
        .drop("batch_id")
    )
    df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    manifest = {"sources": [d for _, d, _ in sources], "target_id": sources[-1][0]}
    commit.write_json(spark, manifest_path, manifest)
    _finish(manifest)
    return len(sources)
