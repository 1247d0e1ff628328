"""The micro-batch loop every streaming ingest shares.

An ingest is a schema'd file ``readStream`` (optionally rate-limited by
``max_files_per_trigger``) run once with the available-now trigger under a
checkpoint: every file not yet processed is read, in one or more
micro-batches, and the query stops. Each micro-batch goes to the ingest's
``on_batch(batch_df, batch_id)``. Outputs written with
:func:`write_batch_partition` land in the ``_batch_id`` partition of a
parquet table with dynamic-partition overwrite, so a batch replayed after
a crash rewrites only its own partition: foreachBatch's at-least-once
becomes effectively-once. Re-running the ingest is the resume path.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def run_ingest(
    spark: SparkSession,
    input_path: str,
    checkpoint_path: str,
    schema: str,
    on_batch: Callable[[DataFrame, int], None],
    max_files_per_trigger: int | None,
    timeout_sec: float,
) -> None:
    """Feed every unprocessed file under ``input_path`` to ``on_batch`` and
    wait for the query to finish. A query still running after
    ``timeout_sec`` is stopped and ``TimeoutError`` raised; the checkpoint
    keeps the finished batches, so a re-run resumes from there."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    q = (
        reader.parquet(input_path)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(f"ingest of {input_path} not done after {timeout_sec} s; "
                           f"stopped, re-run to resume from {checkpoint_path}")


def write_batch_partition(frame: DataFrame, path: str, batch_id: int) -> None:
    """Write ``frame`` as the ``_batch_id=batch_id`` partition of ``path``,
    replacing only that partition."""
    (
        frame.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(path)
    )


def ingest_partials(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint_path: str,
    schema: str,
    partial: Callable[[DataFrame], DataFrame],
    max_files_per_trigger: int | None,
    timeout_sec: float,
) -> None:
    """:func:`run_ingest` with one output: each micro-batch writes
    ``partial(batch_df)`` as its ``_batch_id`` partition of ``out_path``."""
    run_ingest(
        spark, input_path, checkpoint_path, schema,
        lambda df, batch_id: write_batch_partition(partial(df), out_path, batch_id),
        max_files_per_trigger, timeout_sec,
    )


def read_ingested(spark: SparkSession, path: str) -> DataFrame:
    """Everything ingested into ``path`` so far, without ``_batch_id``."""
    return spark.read.parquet(path).drop("_batch_id")
