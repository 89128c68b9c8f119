"""Structured Streaming t-digest aggregation.

Design: *append partials, merge on read*.  Each micro-batch runs the
same stage-1 partial build as the batch path (one digest per stage-1
task x group per trigger) and appends those rows — with trigger
lineage — to a parquet state table.  Readers get exact, point-in-time correct digests
by tree-merging the partials.  This is the scale-correct shape for
streams: state is O(triggers x groups x compression) bytes, appends are
atomic with the file-commit protocol, there is no read-modify-write
race, and compaction (re-merging old partials into one row) is a
trivially safe background job because merge is associative
(reference: tdigest.go:262-272).

The digest is explicitly "parallel streaming friendly" (reference
README.md:3-4); mergeability is what lets a streaming sketch avoid
per-key mutable state entirely.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import build_partials, merge_partials


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
    table; start it with ``.start()`` (or trigger(availableNow=True)).

    Delegates to the generic append-partials writer (sketch_stream.py) —
    ONE copy of the exactly-once per-batch-overwrite machinery serves
    every mergeable sketch."""
    from .sketch_stream import sketch_stream_writer

    by = list(by)
    return sketch_stream_writer(
        stream_df,
        lambda b: build_partials(
            b, value_col, by, compression, explode_arrays=explode_arrays
        ),
        state_path,
        checkpoint_path,
    )


def _committed_batch_dirs(
    spark: SparkSession, state_path: str
) -> list[tuple[str, list[str]]]:
    """(batch dir, its data files) for every batch_id=N subdirectory
    holding a _SUCCESS commit marker — files are captured under a
    list-then-reverify protocol (see inline comment).

    A reader concurrent with a crash-replay overwrite of batch N (mode
    'overwrite' deletes the directory before rewriting) must never see
    that batch's partially-written files — _SUCCESS is the commit record
    on the read path, exactly as in plans/checkpoint.py.  Hadoop FS API
    so the check works on any scheme (file://, hdfs://, s3a://).
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(state_path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    out = []
    for status in fs.listStatus(root):
        if not status.isDirectory():
            continue
        p = status.getPath()
        if not p.getName().startswith("batch_id="):
            continue
        marker = jvm.org.apache.hadoop.fs.Path(p, "_SUCCESS")
        if not fs.exists(marker):
            continue
        # list the DATA FILES now, then re-verify the commit marker:
        # a crash-replay overwrite (delete + rewrite of the whole dir,
        # sketch_stream mode='overwrite') deletes _SUCCESS first, so a
        # marker still present AFTER the listing proves no rewrite
        # started mid-listing.  If a full rewrite completed in between,
        # the listed (old) files no longer exist and the downstream
        # read fails LOUDLY (ignoreMissingFiles is off) instead of
        # silently merging a partial batch — the race the plain
        # check-then-list had.
        files = [
            f.getPath().toString()
            for f in fs.listStatus(p)
            if not f.isDirectory()
            and not f.getPath().getName().startswith(("_", "."))
        ]
        if files and fs.exists(marker):
            out.append((p.toString(), files))
    return sorted(out)


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
    committed = _committed_batch_dirs(spark, state_path)
    if not committed:
        raise FileNotFoundError(f"no committed batches under {state_path}")
    # read the EXPLICIT file list captured at commit-check time (not
    # the directories): files written by a later replay-overwrite can
    # never leak into this read, and files deleted by one fail loudly
    files = [f for _, fl in committed for f in fl]
    partials = (
        spark.read.option("basePath", state_path).parquet(*files).select(*cols)
    )
    n_units = partials.count() if count_units else None
    return partials, n_units


def read_stream_digests(
    spark: SparkSession, state_path: str, by: Sequence[str], fanin: int | None = 64
) -> DataFrame:
    """Merge-on-read: current digests from the streaming state table
    (committed batches only — see _committed_batch_dirs)."""
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
    from .sketch_stream import sketch_stream_writer

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
         readers; Spark's _SUCCESS is the commit record) and a
         _MANIFEST.json naming the source directories;
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
    import json as _json

    if keep_last < 0:
        raise ValueError("keep_last must be >= 0")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    root = HPath(state_path)
    fs = root.getFileSystem(conf)
    tmp = HPath(root, "_compact_tmp")
    manifest_p = HPath(tmp, "_MANIFEST.json")

    def _finish(manifest: dict) -> None:
        for d in manifest["sources"]:
            p = HPath(d)
            if fs.exists(p):
                fs.delete(p, True)
        final = HPath(root, f"batch_id={manifest['target_id']}")
        if fs.exists(final):  # defensive: crash mid-rename re-run
            fs.delete(final, True)
        if not fs.rename(tmp, final):
            raise IOError(f"rename {tmp} -> {final} failed")
        # drop the now-stale manifest from the final dir (underscore
        # prefix hides it from readers, but leaving it would confuse a
        # human and checksum-mismatch any future copy); AFTER the
        # rename — deleting it earlier would make a crash between
        # delete and rename unresumable (the resume path needs it)
        for leftover in ("_MANIFEST.json", "._MANIFEST.json.crc"):
            lp = HPath(final, leftover)
            if fs.exists(lp):
                fs.delete(lp, False)

    # resume a crashed finish step first
    if fs.exists(HPath(tmp, "_SUCCESS")) and fs.exists(manifest_p):
        # line-reader through the Hadoop FS stream (spark.read.text
        # cannot: the default path filter hides _-prefixed files — the
        # same convention that hides the manifest from the parquet
        # reader once the dir is renamed into place)
        br = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(fs.open(manifest_p), "UTF-8")
        )
        lines = []
        try:
            while True:
                line = br.readLine()
                if line is None:
                    break
                lines.append(line)
        finally:
            br.close()
        manifest = _json.loads("\n".join(lines))
        _finish(manifest)
        return len(manifest["sources"])
    if fs.exists(tmp):  # uncommitted leftover from a crashed write
        fs.delete(tmp, True)

    committed = _committed_batch_dirs(spark, state_path)

    def _bid(d: str) -> int:
        return int(d.rsplit("batch_id=", 1)[1])

    # NUMERIC order — the lexicographic sort of the reader would put
    # batch_id=10 before batch_id=2 and "keep newest" would be wrong
    committed = sorted(committed, key=lambda t: _bid(t[0]))
    sources = committed[: max(0, len(committed) - keep_last)]
    if len(sources) < 2:
        return 0
    src_dirs = [d for d, _ in sources]
    src_files = [f for _, fl in sources for f in fl]
    target_id = _bid(src_dirs[-1])
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
    df.repartition(n_out).write.mode("overwrite").parquet(
        f"{state_path}/_compact_tmp"
    )
    manifest = {"sources": src_dirs, "target_id": target_id}
    out = fs.create(manifest_p, True)
    try:
        out.write(bytearray(_json.dumps(manifest).encode("utf-8")))
    finally:
        out.close()
    _finish(manifest)
    return len(src_dirs)
