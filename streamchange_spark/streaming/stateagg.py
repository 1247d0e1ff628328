"""Streaming time-in-state tiers.

Streaming twin of ``operators.stateagg`` with the effectively-once shape
shared by the kmv/qsketch/hh/statsagg twins — but unlike those, a state
span is NOT computable inside one micro-batch (the span closing an
observation may arrive batches later), so the per-batch partial is a
RUN-LENGTH ENCODING of each key's consecutive equal-state observations:
``(key, state, run_start_us, run_end_us, n_obs)``. Runs are a pure
function of the batch's own rows (idempotent — a replayed batch overwrites
only its own ``_batch_id`` partition), and they compact the ingest to one
row per state CHANGE per batch instead of one per observation: a crawl
fetch-status feed that flips rarely stores ~#transitions rows, not #fetches.

``state_tier_from_ingest`` reconstructs the span set at query time by
re-expanding each run to its two endpoint observations (the interior
observations of a run are redundant for the DURATIONS — the state is
constant between them) and running the SAME batch operator over them, so
the streamed tier's ``held_us`` equals ``state_tier`` over everything
ingested, bit-for-bit, whenever each key's observations arrive in
event-time order across batches (the chronological crawl-dump reality;
pinned in pytest). ``n_spans`` counts the COMPACTED observation set's
spans (interior observations extend a span instead of starting one);
``encode_runs=False`` keeps every observation and is pinned fully
bit-equal to the batch build, n_spans included.

Honest late-data contract: a late row landing strictly INSIDE an
already-compacted run re-attributes time from the run's state to the late
state with boundaries at the run's ENDPOINTS rather than at the dropped
interior observations — total held time per key is conserved exactly
(span algebra partitions ``last_ts - first_ts`` regardless), only the
attribution boundary within that run can shift, bounded by the run's own
span. Feeds that need exact late re-attribution should ingest with
``encode_runs=False`` (store every observation; no compaction, same
merge path).

Scale notes (100 TB): the ingest shuffle carries one row per (key, batch
run); the read-time merge is the batch operator's own plan — one per-key
window pass + the bounded span explode + a (key, bucket, state) groupBy.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.stateagg import (
    encode_state_runs,
    heartbeat_tier_from_runs,
    state_tier_from_runs,
)
from ._ingest import ingest_partials, read_ingested

__all__ = [
    "run_streaming_state_ingest",
    "state_tier_from_ingest",
    "uptime_tier_from_ingest",
]


def run_streaming_state_ingest(
    spark: SparkSession,
    input_path: str,
    runs_path: str,
    checkpoint_path: str,
    schema: str,
    key_cols: Sequence[str],
    ts_col: str,
    state_col: str,
    encode_runs: bool = True,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
) -> None:
    """Reduce every unprocessed file under ``input_path`` (available-now)
    into per-micro-batch state-run rows at ``runs_path``. Resume-safe: the
    stream checkpoint skips finished files, and a replayed batch
    dynamically overwrites only its own ``_batch_id`` partition.
    ``encode_runs=False`` stores one run per OBSERVATION (no compaction)
    for feeds that need exact late-row re-attribution."""
    key_cols = list(key_cols)
    ingest_partials(
        spark, input_path, runs_path, checkpoint_path, schema,
        lambda df: encode_state_runs(
            df, key_cols, ts_col, state_col, collapse=encode_runs
        ),
        max_files_per_trigger, timeout_sec,
    )


def state_tier_from_ingest(
    spark: SparkSession,
    runs_path: str,
    key_cols: Sequence[str],
    tier: str = "1h",
    max_span_buckets: int = 1_000_000,
) -> DataFrame:
    """The queryable time-in-state tier: re-expand accumulated runs to
    their endpoint observations and run the batch span algebra — equal to
    ``state_tier`` over the full ingested data (bit-for-bit under in-order
    arrival; see module docstring). Pass a coarser ``tier`` to aggregate
    straight to it (runs carry raw microseconds, so any tier is direct —
    and :func:`..operators.stateagg.state_rollup` still merges the result
    coarser, the partials being the same exact span partition).

    ``n_spans`` counts LOCF spans over the STORED observation set (see
    :func:`..operators.stateagg.state_tier_from_runs`)."""
    runs = read_ingested(spark, runs_path)
    return state_tier_from_runs(
        runs, list(key_cols), tier, max_span_buckets=max_span_buckets
    )


def uptime_tier_from_ingest(
    spark: SparkSession,
    runs_path: str,
    key_cols: Sequence[str],
    tier: str = "1h",
    tolerance_s: float = 600.0,
    max_span_buckets: int = 1_000_000,
) -> DataFrame:
    """Liveness/uptime off the SAME ingested run rows — no second stream:
    every stored run endpoint is a heartbeat, so the accumulated ingest
    serves :func:`..operators.stateagg.heartbeat_tier` for free. Exact
    versus the batch heartbeat build when ingesting with
    ``encode_runs=False`` (every observation retained); with compaction
    the dropped run interiors undercount coverage across
    longer-than-tolerance endpoint gaps (same caveat as
    ``heartbeat_tier_from_runs``, which this wraps)."""
    runs = read_ingested(spark, runs_path)
    return heartbeat_tier_from_runs(
        runs, list(key_cols), tier,
        tolerance_s=tolerance_s, max_span_buckets=max_span_buckets,
    )
