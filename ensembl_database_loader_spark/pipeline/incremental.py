"""Incremental mirror: Structured Streaming over a landing directory of
dump part files.

The reference processes databases as they appear on the FTP site —
each beekeeper loop discovers and loads new work (its closest analogue
to streaming). Spark-first, that incremental flow is a file-source
stream: new ``<table>.NNNN.txt.gz`` parts landing in a directory are
picked up by trigger, parsed with the same TSV dialect as the batch
dump reader, and appended to the parquet mirror exactly once (the
checkpoint gives at-least-once file tracking + idempotent sink =
exactly-once table state).

At 100 TB this is the backfill-plus-tail pattern: the batch mirror
loads history; this stream tails new arrivals with bounded work per
trigger (maxFilesPerTrigger)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ensembl_database_loader_spark.sources.mysql_dump import (
    DUMP_CSV_OPTIONS,
    _cast_temporal,
    _read_schema,
)


def stream_dump_parts(
    spark: SparkSession,
    landing_dir: str,
    table_schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of dump TSV parts appearing under ``landing_dir``
    (glob includes split-part names), in the batch reader's dialect
    (``DUMP_CSV_OPTIONS``, zero-date -> NULL temporal post-cast)."""
    read_schema, temporal = _read_schema(table_schema)
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = (
        reader.schema(read_schema)
        .options(**DUMP_CSV_OPTIONS)
        .csv(landing_dir + "/*.txt.gz")
    )
    return _cast_temporal(df, table_schema, temporal)


def incremental_mirror(
    stream_df: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Append the stream into the parquet mirror; ``available_now=True``
    drains everything currently landed and stops (deterministic tests /
    cron-style catch-up runs); False = continuous tail."""
    w = (
        stream_df.writeStream.format("parquet")
        .option("path", target_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
