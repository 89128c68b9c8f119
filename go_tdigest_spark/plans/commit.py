"""The commit protocol shared by every store of committed partials.

Checkpoint epochs (plans/checkpoint.py) and streaming state batches
(streaming/stream_agg.py, compaction included) keep partials in
``<root>/<key>=<N>/`` directories written through Spark's file
committer, whose ``_SUCCESS`` marker is the commit record.  This is the
one module that talks to the Hadoop FileSystem API (so the protocol
works on any scheme: file://, hdfs://, s3a:// — never driver-local
os.path) and the one that checks a marker:

  - ``committed_dirs`` lists the data files of every committed
    directory, list-then-reverify;
  - ``write_json`` publishes a small manifest by write-then-rename and
    ``read_json`` reads one back, failing with a "corrupt ... delete
    ... to restart" ``ValueError`` instead of a bare decode error.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

_MARKER = "_SUCCESS"


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) for ``path``."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return hpath.getFileSystem(conf), hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; a missing path is not an error."""
    fs, p = _fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, s = _fs(spark, src)
    if not fs.rename(s, _fs(spark, dst)[1]):
        raise IOError(f"rename {src} -> {dst} failed")


def is_committed(spark: SparkSession, directory: str) -> bool:
    return exists(spark, os.path.join(directory, _MARKER))


def committed_dirs(
    spark: SparkSession, root: str, key: str
) -> list[tuple[int, str, list[str]]]:
    """``(N, dir, data files)`` for every ``<root>/<key>=N`` directory
    holding a ``_SUCCESS`` marker, in numeric ``N`` order (``key=10``
    after ``key=2``); ``[]`` when ``root`` does not exist.  A committed
    directory may hold no data files (an empty write).

    A stream's crash replay and a checkpoint's resume rewrite a
    directory with ``mode('overwrite')``: the directory is deleted first
    and ``_SUCCESS`` lands last.  So the data files are listed and THEN
    the marker is re-checked: a marker still present after the listing
    proves no rewrite started mid-listing.  If a full rewrite completes
    in between, the listed (old) files no longer exist and the
    downstream read of exactly these files fails LOUDLY
    (ignoreMissingFiles is off) instead of silently merging a partially
    rewritten directory.
    """
    fs, hroot = _fs(spark, root)
    if not fs.exists(hroot):
        return []
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    prefix = key + "="
    out = []
    for status in fs.listStatus(hroot):
        p = status.getPath()
        if not status.isDirectory() or not p.getName().startswith(prefix):
            continue
        marker = Path(p, _MARKER)
        if not fs.exists(marker):
            continue
        files = [
            f.getPath().toString()
            for f in fs.listStatus(p)
            if not f.isDirectory()
            and not f.getPath().getName().startswith(("_", "."))
        ]
        if fs.exists(marker):
            out.append((int(p.getName()[len(prefix) :]), p.toString(), files))
    return sorted(out)


def write_json(spark: SparkSession, path: str, obj) -> None:
    """Publish ``obj`` as JSON at ``path`` by write-then-rename: a crash
    mid-write leaves at most a stray ``<path>.tmp``, never a torn file
    at ``path`` (rename is atomic on HDFS; on object stores it still
    publishes a complete object)."""
    fs, final = _fs(spark, path)
    tmp = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise IOError(f"failed to publish {path}")


def read_json(spark: SparkSession, path: str, what: str, restart: str):
    """The JSON document at ``path``; a torn or corrupt one raises a
    ``ValueError`` naming ``what`` and ``path`` and telling the caller
    to delete ``restart``.  Read through the Hadoop FS stream:
    ``spark.read.text`` cannot, since the default path filter hides
    ``_``-prefixed files."""
    fs, p = _fs(spark, path)
    io_utils = spark.sparkContext._jvm.org.apache.commons.io.IOUtils
    stream = fs.open(p)
    try:
        text = io_utils.toString(stream, "UTF-8")
    finally:
        stream.close()
    try:
        return json.loads(text)
    except ValueError as e:
        raise ValueError(
            f"corrupt {what} {path} ({e}); delete {restart} to restart "
            "from scratch"
        ) from e
