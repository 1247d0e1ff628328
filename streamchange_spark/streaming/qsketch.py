"""Streaming percentile tiers via mergeable rank sketches.

The batch sketch tier (operators.qsketch) re-aggregates because sketch
merge is associative — which is exactly the property incremental streaming
maintenance needs. This module is the streaming twin of ``sketch_tier``,
using the same effectively-once shape as streaming.corpus: each micro-batch
writes its PARTIAL (key, bucket, n_points, qsketch) rows to a parquet
table partitioned by ``_batch_id`` (a replayed batch overwrites only its
own partition), and the queryable tier is one ``sketch_rollup`` merge over
the accumulated partials.

Exactness contract: n_points is exact; percentile rank error is bounded by
the carried ``err`` header, which reflects the merge tree the stream
actually produced (one prune per micro-batch contribution plus one at the
merge — the same (levels+1)·eps·N accounting as the batch tiers; the
header, not a formula, is what consumers should read). No watermark is
needed: late rows land in a later micro-batch's partial and merge into the
same (key, bucket) — the tier is ALWAYS re-queryable with everything seen
so far, unlike the append-mode windowed tier whose buckets close.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.qsketch import sketch_rollup, sketch_tier
from ._ingest import ingest_partials, read_ingested

__all__ = ["run_streaming_sketch_ingest", "sketch_tier_from_ingest"]


def run_streaming_sketch_ingest(
    spark: SparkSession,
    input_path: str,
    sketch_path: str,
    checkpoint_path: str,
    schema: str,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tier: str = "1h",
    eps: float = 0.005,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
) -> None:
    """Sketch every unprocessed file under ``input_path`` (available-now)
    into per-micro-batch partial sketches at ``sketch_path``. Resume-safe
    the same way as ``run_streaming_corpus_ingest``: the stream checkpoint
    skips finished files, and a replayed batch dynamically overwrites only
    its own ``_batch_id`` partition."""
    key_cols = list(key_cols)
    ingest_partials(
        spark, input_path, sketch_path, checkpoint_path, schema,
        lambda df: sketch_tier(df, key_cols, ts_col, value_col, tier, eps),
        max_files_per_trigger, timeout_sec,
    )


def sketch_tier_from_ingest(
    spark: SparkSession,
    sketch_path: str,
    key_cols: Sequence[str],
    tier: str = "1h",
    eps: float = 0.005,
) -> DataFrame:
    """The queryable tier: merge every micro-batch's partial sketches into
    one (keys..., bucket_start, n_points, qsketch) row per bucket. Pass a
    coarser ``tier`` to roll up in the same merge (e.g. 1h partials ->
    queryable 1d), shuffling only blob rows either way."""
    return sketch_rollup(read_ingested(spark, sketch_path), list(key_cols), tier, eps)
