"""Change-event sources (reference O1: the Connect runtime poll).

In production the source is Kafka (see ``sources/kafka.py``); for the
sandbox and for tests the same pipeline is driven by a file-based
Structured Streaming source (parquet/json directory), which preserves
the properties that matter: per-file ordering, replayable offsets,
micro-batch delivery into ``foreachBatch``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Streaming DataFrame over a directory of change-event files."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)

