from typing import Callable

from pyspark.sql import DataFrame, DataFrameWriter, Observation, functions as F

from wp_motor_spark.sinks.formats import format_lines
from wp_motor_spark.sinks.spec import SinkSpec

__all__ = ["SinkSpec", "format_lines", "write_counted"]


def write_counted(lines: DataFrame, write: Callable[[DataFrameWriter], None]) -> int:
    """Run the writer action ``write`` over ``lines``; return the rows it
    wrote, observed by the write job itself (no second scan). Observations
    fire on SQL actions only: RDD-backed sinks count in their send loop."""
    obs = Observation()
    write(lines.observe(obs, F.count(F.lit(1)).alias("n")).write)
    return int(obs.get["n"])
