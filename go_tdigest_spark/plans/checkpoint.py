"""Checkpointed, resumable sketch builds with per-partition lineage.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics".  Mechanics:

  - the input file set is split deterministically into ``n_epochs``
    chunks (sorted file list, round-robin) — at 100 TB an epoch is a
    bounded, independently-scannable slice, so a restart never rescans
    committed work;
  - each epoch writes its *partial sketches* plus lineage columns
    (epoch, input partition id, wall-clock) to
    ``<dir>/partials/epoch=K/``; the parquet ``_SUCCESS`` marker is the
    commit record (atomic with Spark's file-commit protocol; read
    through plans/commit.py);
  - ``run(resume=True)`` skips committed epochs, processes the rest, and
    merges all committed partials into final per-group sketches — sketch
    mergeability (reference: tdigest.go:262-272) is what makes
    epoch-level restart sound, and it holds for every sketch alike;
  - ``lineage()`` exposes the audit table; ``metrics()`` aggregates it.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit

# the columns the job adds to every partial row; `epoch` is carried by
# the epoch=K directory (Spark partition discovery re-derives it on read)
_LINEAGE_COLS = ("partition_id", "wall_started", "epoch")


class CheckpointedSketchJob:
    """Epoch-committed, resumable build of ANY mergeable sketch.  The job
    owns the epoch split, the pinned manifest, the commits, lineage and
    metrics; the sketch comes in as two callables:

      - ``partials_fn(df)`` builds stage-1 partial rows (``by...`` plus
        the sketch's data columns: ``build_partials`` or any
        ``*_partials`` builder);
      - ``merge_fn(partials, n_units)`` merges the committed partials
        (lineage columns dropped) to one row per group.  ``n_units`` is
        the partial row count: storage-read partials must size the merge
        tree by count, not scan partitions (see operators/_tree.py).

    A t-digest job::

        by = ["l_returnflag"]
        job = CheckpointedSketchJob(
            spark, path, ckpt,
            partials_fn=lambda df: build_partials(df, "l_extendedprice", by),
            merge_fn=lambda p, n: merge_partials(p, by, fanin=64, n_units=n))
        digests = job.run(resume=True)

    A theta job::

        by = ["event_type"]
        job = CheckpointedSketchJob(
            spark, path, ckpt,
            partials_fn=lambda df: theta_partials(df, ["user_id"], by),
            merge_fn=lambda p, n: merge_sketches(
                p, by, ThetaSketch.from_bytes, n_units=n))
        sketches = job.run(resume=True)
    """

    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        checkpoint_dir: str,
        partials_fn: Callable[[DataFrame], DataFrame],
        merge_fn: Callable[[DataFrame, int], DataFrame],
        n_epochs: int = 4,
    ) -> None:
        self.spark = spark
        self.input_path = input_path
        self.dir = checkpoint_dir
        self.partials_fn = partials_fn
        self.merge_fn = merge_fn
        self.n_epochs = n_epochs

    # ------------------------------------------------------------ layout

    def _partials_root(self) -> str:
        return os.path.join(self.dir, "partials")

    def _epoch_dir(self, epoch: int) -> str:
        return os.path.join(self._partials_root(), f"epoch={epoch}")

    def _empty_input(self) -> DataFrame:
        return self.spark.read.parquet(self.input_path).limit(0)

    def _epoch_files(self) -> list[list[str]]:
        """File-to-epoch assignment, pinned by a persisted manifest.

        The assignment is derived from the input listing exactly once and
        written to ``<dir>/manifest.json``; every later run (resume after
        a crash) reads it back and FAILS LOUDLY if the live listing has
        diverged — otherwise committed epochs would silently no longer
        correspond to their original file slices (double-count or drop).
        """
        path = os.path.join(self.dir, "manifest.json")
        files = sorted(self.spark.read.parquet(self.input_path).inputFiles())
        live = [files[e :: self.n_epochs] for e in range(self.n_epochs)]
        if not commit.exists(self.spark, path):
            commit.write_json(
                self.spark, path, {"n_epochs": self.n_epochs, "epochs": live}
            )
            return live
        stored = commit.read_json(
            self.spark, path, "checkpoint manifest", "the checkpoint dir"
        )
        if stored["n_epochs"] != self.n_epochs:
            raise ValueError(
                f"checkpoint manifest was written with n_epochs="
                f"{stored['n_epochs']}, job configured with {self.n_epochs}"
            )
        if stored["epochs"] != live:
            manifest_set = {f for ep in stored["epochs"] for f in ep}
            live_set = {f for ep in live for f in ep}
            raise ValueError(
                "input file listing diverged from the checkpoint manifest "
                f"({path}); added="
                f"{sorted(live_set - manifest_set)[:5]} removed="
                f"{sorted(manifest_set - live_set)[:5]} — delete the "
                "checkpoint dir to restart from scratch"
            )
        return stored["epochs"]

    def completed_epochs(self) -> list[int]:
        return [
            e
            for e, _, _ in commit.committed_dirs(
                self.spark, self._partials_root(), "epoch"
            )
        ]

    def epoch_committed(self, epoch: int) -> bool:
        return commit.is_committed(self.spark, self._epoch_dir(epoch))

    # -------------------------------------------------------------- run

    def _with_lineage(self, df: DataFrame, t0: float) -> DataFrame:
        return (
            self.partials_fn(df)
            .withColumn("partition_id", F.spark_partition_id())
            .withColumn("wall_started", F.lit(t0))
        )

    def run_epoch(self, epoch: int, files: list[str]) -> None:
        # an empty epoch still writes (an empty partials table) through
        # Spark's committer, so its _SUCCESS marker lands on any filesystem
        t0 = time.time() if files else 0.0
        df = self.spark.read.parquet(*files) if files else self._empty_input()
        # the parquet commit (_SUCCESS) is the atomic checkpoint record
        self._with_lineage(df, t0).write.mode("overwrite").parquet(
            self._epoch_dir(epoch)
        )

    def run(self, resume: bool = True, max_epochs: int | None = None) -> DataFrame:
        """Process (remaining) epochs, return final merged sketches."""
        epoch_files = self._epoch_files()
        done = set(self.completed_epochs()) if resume else set()
        todo = [(e, f) for e, f in enumerate(epoch_files) if e not in done]
        for epoch, files in todo[:max_epochs]:
            self.run_epoch(epoch, files)
        return self.merged()

    def _committed_partials(self) -> DataFrame:
        """Partials of all committed epochs.  When at least one epoch is
        committed but every one is empty (all-empty input), returns an
        EMPTY DataFrame with the partials schema — callers see the same
        shape a normal run yields; FileNotFoundError is reserved for 'no
        committed epochs at all'."""
        root = self._partials_root()
        committed = commit.committed_dirs(self.spark, root, "epoch")
        if not committed:
            raise FileNotFoundError(f"no committed epochs under {root}")
        # read the EXPLICIT file list captured at commit-check time
        files = [f for _, _, fl in committed for f in fl]
        if files:
            return self.spark.read.option("basePath", root).parquet(*files)
        # the schema run_epoch writes; `epoch` mirrors the
        # partition-discovery column (discovery infers int)
        return (
            self._with_lineage(self._empty_input(), 0.0)
            .withColumn("epoch", F.lit(0).cast("int"))
            .limit(0)
        )

    def merged(self) -> DataFrame:
        # read only COMMITTED epochs: an interrupted overwrite leaves an
        # uncommitted directory whose partial contents must never leak
        # into results (_SUCCESS is the commit record on the read path too)
        partials = self._committed_partials().drop(*_LINEAGE_COLS)
        # parquet count() is metadata-only
        return self.merge_fn(partials, partials.count())

    # ----------------------------------------------------------- lineage

    def lineage(self) -> DataFrame:
        return self._committed_partials()

    def metrics(self) -> DataFrame:
        lin = self.lineage()
        aggs = [
            F.count(F.lit(1)).alias("n_partials"),
            F.sum("n_rows").alias("rows"),
            F.countDistinct("partition_id").alias("n_partitions"),
        ]
        if "total_weight" in lin.columns:
            aggs.insert(2, F.sum("total_weight").alias("weight"))
        return lin.groupBy("epoch").agg(*aggs).orderBy("epoch")
