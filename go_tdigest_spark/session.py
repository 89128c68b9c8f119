"""The one local Spark session config shared by the benches, the
correctness gate, the plan dumpers and the tests."""

from __future__ import annotations


def session_config(cpus: int) -> dict[str, str]:
    """Settings for a ``local[cpus]`` session:

        SparkSession.builder.appName(name).config(map=session_config(n))

    Shuffle partitions follow the core count with a floor of 8.  The
    console progress bar is off so a script's last stdout line stays its
    own output.  Adaptive execution is not listed: it is on by default.
    """
    return {
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(max(cpus, 8)),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "8g",
        # Spark 4.1's Arrow input writer to Python
        # (BatchedPythonArrowInput.writeSizedBatch) sizes the open batch
        # with ArrowWriter.sizeInBytes() after every input row, a
        # setValueCount + getBufferSizeFor on every vector, unless this
        # is exactly Int.MaxValue.  A no-op mapInArrow over 3M parquet
        # rows in 4 tasks took 1.18-1.62 s with the default and
        # 0.73-1.19 s with this (warm runs, local[4]).  Batches stay
        # bounded by maxRecordsPerBatch (10,000 records by default).
        "spark.sql.execution.arrow.maxBytesPerBatch": "2147483647",
        # At the default (false) adaptive execution keeps the output
        # partitioning of a persisted plan, so it never coalesces that
        # plan's last shuffle: a persisted tdigest_agg result (rollup's
        # finest level, the driver queries' shared digest tables) would
        # run its merge in spark.sql.shuffle.partitions Python tasks,
        # most of them empty.  On td_cdf_events (sf0.1, local[4]) that
        # was 8 tasks and ~1 s more per query than with this.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    }
