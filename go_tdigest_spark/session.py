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
    }
