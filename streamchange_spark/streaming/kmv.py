"""Streaming distinct-count tiers via mergeable bottom-k (KMV) sketches.

Streaming twin of ``operators.kmv`` with the same effectively-once shape as
streaming.qsketch: each micro-batch writes its PARTIAL (key, bucket,
n_points, kmv) rows to a parquet table partitioned by ``_batch_id`` (a
replayed batch overwrites only its own partition), and the queryable tier
is one ``kmv_rollup`` merge over the accumulated partials.

Stronger contract than the quantile twin: bottom-k is closed under union,
so the streamed tier is BIT-IDENTICAL to a batch build over everything
ingested — no error accounting per merge level, no dependence on how the
stream happened to chop the input into micro-batches
(tests/test_streaming.py asserts stream == batch equality, not a band).
No watermark is needed: late rows land in a later micro-batch's partial
and merge into the same (key, bucket) — the tier is ALWAYS re-queryable
with everything seen so far.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.kmv import kmv_rollup, kmv_tier
from ._ingest import ingest_partials, read_ingested

__all__ = ["run_streaming_kmv_ingest", "kmv_tier_from_ingest"]


def run_streaming_kmv_ingest(
    spark: SparkSession,
    input_path: str,
    sketch_path: str,
    checkpoint_path: str,
    schema: str,
    key_cols: Sequence[str],
    ts_col: str,
    distinct_col: str,
    tier: str = "1h",
    k: int = 256,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
) -> None:
    """Sketch every unprocessed file under ``input_path`` (available-now)
    into per-micro-batch partial KMV rows at ``sketch_path``. Resume-safe:
    the stream checkpoint skips finished files, and a replayed batch
    dynamically overwrites only its own ``_batch_id`` partition."""
    key_cols = list(key_cols)
    ingest_partials(
        spark, input_path, sketch_path, checkpoint_path, schema,
        lambda df: kmv_tier(df, key_cols, ts_col, distinct_col, tier, k),
        max_files_per_trigger, timeout_sec,
    )


def kmv_tier_from_ingest(
    spark: SparkSession,
    sketch_path: str,
    key_cols: Sequence[str],
    tier: str = "1h",
    k: int = 256,
) -> DataFrame:
    """The queryable tier: merge every micro-batch's partial sketches into
    one (keys..., bucket_start, n_points, kmv) row per bucket — bit-equal
    to ``kmv_tier`` run in batch over the full ingested data. Pass a
    coarser ``tier`` to roll up in the same merge (1h partials ->
    queryable 1d), shuffling only k-long arrays either way."""
    return kmv_rollup(read_ingested(spark, sketch_path), list(key_cols), tier, k)
