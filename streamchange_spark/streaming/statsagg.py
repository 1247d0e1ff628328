"""Streaming regression-moment tiers.

Streaming twin of ``operators.statsagg`` with the same effectively-once
shape as streaming.kmv: each micro-batch writes its PARTIAL per-(key,
bucket) moment rows ``(n, Σx, Σy, Σxx, Σxy, Σyy)`` to a parquet table
partitioned by ``_batch_id`` (a replayed batch overwrites only its own
partition), and the queryable trend tier is one ``stats_rollup`` merge over
the accumulated partials, evaluated with ``stats_eval`` at query time.

The moments are closed under addition with bucket-origin shifting handled
by the rollup, so the streamed tier equals a batch build over everything
ingested up to float summation order (tests assert equality after the
evaluated surface is rounded — the same tolerance every cross-engine check
in this repo uses). No watermark is needed: late rows land in a later
micro-batch's partial and merge into the same (key, bucket).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.statsagg import stats_rollup, stats_tier
from ._ingest import ingest_partials, read_ingested

__all__ = ["run_streaming_stats_ingest", "stats_tier_from_ingest"]


def run_streaming_stats_ingest(
    spark: SparkSession,
    input_path: str,
    stats_path: str,
    checkpoint_path: str,
    schema: str,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tier: str = "1h",
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
) -> None:
    """Reduce every unprocessed file under ``input_path`` (available-now)
    into per-micro-batch partial moment rows at ``stats_path``.
    Resume-safe: the stream checkpoint skips finished files, and a
    replayed batch dynamically overwrites only its own ``_batch_id``
    partition."""
    key_cols = list(key_cols)
    ingest_partials(
        spark, input_path, stats_path, checkpoint_path, schema,
        lambda df: stats_tier(df, key_cols, ts_col, value_col, tier),
        max_files_per_trigger, timeout_sec,
    )


def stats_tier_from_ingest(
    spark: SparkSession,
    stats_path: str,
    key_cols: Sequence[str],
    tier: str = "1h",
) -> DataFrame:
    """The queryable moment tier: merge every micro-batch's partials into
    one (keys..., bucket_start, n, Σx, Σy, Σxx, Σxy, Σyy) row per bucket —
    equal to ``stats_tier`` run in batch over the full ingested data (up
    to summation order). Pass a coarser ``tier`` to roll up in the same
    merge (1h partials -> queryable 1d trend); evaluate with
    ``stats_eval``. The merge shuffles six doubles per (key, bucket)."""
    return stats_rollup(read_ingested(spark, stats_path), list(key_cols), tier)
