"""Streaming frequent-item tiers via mergeable heavy-hitter summaries.

Streaming twin of ``operators.heavy_hitters`` with the same
effectively-once shape as streaming.kmv/qsketch: each micro-batch writes
its PARTIAL (key, bucket, n_points, items, err) summaries to a parquet
table partitioned by ``_batch_id``, and the queryable tier is one
``hh_rollup`` merge over the accumulated partials.

Contract: unlike the bottom-k twin (bit-equal to batch), a streamed
heavy-hitters tier carries MORE error than a single batch build — each
micro-batch contributes its own truncation error and the merge adds one
more — but the invariant ``est <= true <= est + err`` holds for the err
the tier actually carries, whatever merge tree the stream produced
(tests/test_streaming_corpus.py asserts it against exact counts over the
full ingested input). A micro-batch that never truncates (distinct items
per bucket <= m) contributes err 0, in which case streamed == batch
exactly.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.heavy_hitters import hh_rollup, hh_tier
from ._ingest import ingest_partials, read_ingested

__all__ = ["run_streaming_hh_ingest", "hh_tier_from_ingest"]


def run_streaming_hh_ingest(
    spark: SparkSession,
    input_path: str,
    summary_path: str,
    checkpoint_path: str,
    schema: str,
    key_cols: Sequence[str],
    ts_col: str,
    item_col: str,
    tier: str = "1h",
    m: int = 64,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
) -> None:
    """Summarize every unprocessed file under ``input_path`` (available-now)
    into per-micro-batch partial summaries at ``summary_path``. Resume-safe:
    the stream checkpoint skips finished files, and a replayed batch
    dynamically overwrites only its own ``_batch_id`` partition."""
    key_cols = list(key_cols)
    ingest_partials(
        spark, input_path, summary_path, checkpoint_path, schema,
        lambda df: hh_tier(df, key_cols, ts_col, item_col, tier, m),
        max_files_per_trigger, timeout_sec,
    )


def hh_tier_from_ingest(
    spark: SparkSession,
    summary_path: str,
    key_cols: Sequence[str],
    tier: str = "1h",
    m: int = 64,
) -> DataFrame:
    """The queryable tier: merge every micro-batch's partial summaries into
    one (keys..., bucket_start, n_points, items, err) row per bucket — the
    carried err reflects the stream's actual merge tree. Pass a coarser
    ``tier`` to roll up in the same merge (1h partials -> queryable 1d),
    shuffling only m (item, cnt) pairs per child either way."""
    return hh_rollup(read_ingested(spark, summary_path), list(key_cols), tier, m)
