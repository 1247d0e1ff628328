"""Mergeable time-in-state and heartbeat/liveness tiers (the
TimescaleDB-toolkit ``state_agg`` / ``heartbeat_agg`` analogue): per-bucket
state durations and uptime that re-aggregate across retention tiers.

Engine-only operators extending the retention-tier surface (SURVEY.md §2.8;
no reference counterpart — the reference is detector kernels only). For a
crawl corpus these answer the monitoring questions next to the detectors:
how long was each url in each fetch-state (ok / redirect / error) per day,
and what fraction of each hour was a crawler "alive" given its heartbeats?

Semantics (deterministic, oracle-checkable):

- ``state_tier``: each observation's state holds from its own timestamp
  until the NEXT observation of the same key (LOCF); the final observation
  holds nothing (no invented horizon — total held time per key is exactly
  ``last_ts - first_ts``). Each held span is SPLIT across every tier bucket
  it overlaps, so the per-bucket durations are an exact partition of the
  span: summing finer buckets into coarser ones reproduces the direct
  coarse build bit-for-bit (integer microseconds end to end). That is the
  continuous-aggregate contract — ``state_rollup`` is a plain GROUP-BY SUM
  over persisted partials, never a raw re-scan. (Contrast
  ``time_weighted_avg``'s truncate-at-own-bucket semantics, which is NOT
  tier-mergeable and says so.)
- ``heartbeat_tier``: each heartbeat keeps the key "up" for
  ``tolerance_s`` seconds or until the next heartbeat, whichever is
  sooner — the union of liveness intervals, counted once (a heartbeat
  inside a predecessor's tolerance window extends it rather than double
  counting). The final heartbeat contributes its full tolerance window.
  Same span-splitting, so the same merge==direct guarantee holds.
  ``n_gaps`` counts downtime onsets (next heartbeat beyond tolerance),
  attributed to the bucket where the up-span ends; ``n_heartbeats`` to the
  bucket where it starts. Both attributions nest under coarsening (the
  fine bucket containing an instant lies inside the coarse bucket
  containing it), so they merge by SUM too.

Plan shape (all-JVM, no UDF): one per-key window pass (``lead`` — the same
single hash exchange the detector scan pays), a bounded
``sequence``/``explode`` over the buckets each span overlaps (guarded by
``max_span_buckets`` with a loud ``raise_error``, the gapfill grid-guard
idiom), then a (key, bucket, state) groupBy that Catalyst partial-aggregates
map-side. Shuffle carries one integer row per (key, bucket, state).

Scale notes (100 TB): shuffles on (key, bucket, state) only; hot keys ride
the same salting/AQE story as the detector scans. The explode fan-out is
``span_length / tier_seconds`` rows per observation — at the 1h tier a
year-long silent key costs ~8.8k rows, and the guard turns a runaway
(mis-parsed epoch, wrong unit) into an error instead of a 2^40-row explode.
Tier merges read persisted partials (~24 bytes per row), never raw.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rollup import TIER_SECONDS, bucket_col


def _split_spans(
    spans: DataFrame,
    key_cols: Sequence[str],
    bucket_us: int,
    max_span_buckets: int,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Explode ``[_s, _e)`` microsecond spans into one row per overlapped
    bucket with the exact integer-microsecond overlap, plus ``_first``/
    ``_last`` markers for start/end-attributed counters."""
    b0 = F.expr(f"_s div {bucket_us}")
    b1 = F.expr(f"(_e - 1) div {bucket_us}")
    n_buckets = b1 - b0 + F.lit(1)
    guarded = F.when(
        n_buckets > F.lit(max_span_buckets),
        F.raise_error(
            F.concat(
                F.lit(
                    f"state/heartbeat span overlaps more than {max_span_buckets} "
                    "buckets (span "
                ),
                F.col("_s").cast("string"),
                F.lit(".."),
                F.col("_e").cast("string"),
                F.lit(" us); check the timestamp unit or raise max_span_buckets"),
            )
        ).cast("long"),
    ).otherwise(b1)
    exploded = spans.select(
        *key_cols,
        *extra_cols,
        "_s",
        "_e",
        F.explode(F.sequence(b0, guarded)).alias("_b"),
    )
    overlap = F.least(
        F.col("_e"), (F.col("_b") + 1) * F.lit(bucket_us)
    ) - F.greatest(F.col("_s"), F.col("_b") * F.lit(bucket_us))
    return exploded.select(
        *key_cols,
        *extra_cols,
        F.timestamp_seconds(F.col("_b") * F.lit(bucket_us // 1_000_000)).alias(
            "bucket_start"
        ),
        overlap.alias("_held_us"),
        (F.col("_b") * F.lit(bucket_us) <= F.col("_s")).alias("_first"),
        ((F.col("_b") + 1) * F.lit(bucket_us) >= F.col("_e")).alias("_last"),
    )


def state_tier(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    state_col: str,
    tier: str = "1h",
    max_span_buckets: int = 1_000_000,
) -> DataFrame:
    """Per-(key, bucket, state) held microseconds + span-start counts over
    raw observations. NULL states are dropped (SQL aggregate convention).
    Output: key_cols, bucket_start, state, held_us (long), n_spans (long —
    spans STARTING in the bucket; every observation with a successor starts
    one, so SUM(n_spans) over all buckets = #observations − #keys, whether
    or not adjacent observations change state).

    Duplicate ``(key, ts)`` observations are ordered by ``(ts, state)``:
    the greatest state among them holds the span that follows, whatever
    the input's partition order. The window still sorts on ``ts`` alone (a
    layout sorted by (key, ts) needs no Sort): every row of a ``ts`` tie
    carries the tie's greatest state, and only the tie's last row opens a
    non-empty span."""
    seconds = TIER_SECONDS[tier]
    bucket_us = seconds * 1_000_000
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    ts_peers = w.rangeBetween(Window.currentRow, Window.currentRow)
    s_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    spans = (
        df.where(F.col(state_col).isNotNull())
        .select(
            *key_cols,
            F.max(state_col).over(ts_peers).alias("state"),
            s_us.alias("_s"),
            F.lead(s_us).over(w).alias("_e"),
        )
        .where(F.col("_e") > F.col("_s"))
    )
    split = _split_spans(spans, key_cols, bucket_us, max_span_buckets, ["state"])
    return split.groupBy(*key_cols, "bucket_start", "state").agg(
        F.sum("_held_us").alias("held_us"),
        F.sum(F.when(F.col("_first"), 1).otherwise(0)).alias("n_spans"),
    )


def state_rollup(
    tier_df: DataFrame, key_cols: Sequence[str], tier: str
) -> DataFrame:
    """Merge finer-tier state partials into a coarser tier — a pure
    GROUP-BY SUM (held microseconds are an exact partition of each span;
    see module docstring). Never a raw re-scan."""
    seconds = TIER_SECONDS[tier]
    return (
        tier_df.select(
            *key_cols,
            bucket_col("bucket_start", seconds).alias("bucket_start"),
            "state",
            "held_us",
            "n_spans",
        )
        .groupBy(*key_cols, "bucket_start", "state")
        .agg(
            F.sum("held_us").alias("held_us"),
            F.sum("n_spans").alias("n_spans"),
        )
    )


def state_eval(df: DataFrame) -> DataFrame:
    """Evaluate carried partials to the query surface: held_seconds as
    double (the only float, introduced at the edge)."""
    return df.select(
        *[c for c in df.columns if c != "held_us"],
        (F.col("held_us").cast("double") / F.lit(1e6)).alias("held_seconds"),
    )


def twa_tier(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tier: str = "1h",
    max_span_buckets: int = 1_000_000,
) -> DataFrame:
    """Tier-MERGEABLE time-weighted-average partials — the upgrade over
    :func:`..hyper.time_weighted_avg`, whose truncate-at-own-bucket spans
    make it deliberately non-mergeable: here each LOCF held span is SPLIT
    exactly across bucket boundaries (the :func:`state_tier` algebra), so
    per-(key, bucket) ``(held_us, wsum)`` re-aggregate to any coarser tier
    by plain SUM — the continuous-aggregate contract for irregular-sample
    averages. The final observation of a key holds nothing (no invented
    horizon; total weight per key is exactly ``last_ts - first_ts``).
    Output: key_cols, bucket_start, held_us (long, exact), wsum (double,
    Σ value·held_us — evaluate with :func:`twa_eval`).

    Duplicate ``(key, ts)`` observations follow :func:`state_tier`'s rule:
    every row of a ``ts`` tie carries the tie's greatest value, so that
    value holds the following span whatever the input's partition order."""
    seconds = TIER_SECONDS[tier]
    bucket_us = seconds * 1_000_000
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    ts_peers = w.rangeBetween(Window.currentRow, Window.currentRow)
    s_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    spans = (
        df.where(F.col(value_col).isNotNull())
        .select(
            *key_cols,
            F.max(F.col(value_col).cast("double")).over(ts_peers).alias("_v"),
            s_us.alias("_s"),
            F.lead(s_us).over(w).alias("_e"),
        )
        .where(F.col("_e") > F.col("_s"))
    )
    split = _split_spans(spans, key_cols, bucket_us, max_span_buckets, ["_v"])
    return split.groupBy(*key_cols, "bucket_start").agg(
        F.sum("_held_us").alias("held_us"),
        F.sum(F.col("_v") * F.col("_held_us").cast("double")).alias("wsum"),
    )


def twa_rollup(
    tier_df: DataFrame, key_cols: Sequence[str], tier: str
) -> DataFrame:
    """Merge finer twa partials into a coarser tier — pure GROUP-BY SUM
    (held microseconds partition each span exactly; wsum is additive)."""
    seconds = TIER_SECONDS[tier]
    return (
        tier_df.select(
            *key_cols,
            bucket_col("bucket_start", seconds).alias("bucket_start"),
            "held_us",
            "wsum",
        )
        .groupBy(*key_cols, "bucket_start")
        .agg(F.sum("held_us").alias("held_us"), F.sum("wsum").alias("wsum"))
    )


def twa_eval(df: DataFrame) -> DataFrame:
    """Evaluate twa partials: held_seconds and the time-weighted average
    (floats only at the edge; held_us stays the exact carrier)."""
    return df.select(
        *[c for c in df.columns if c not in ("wsum",)],
        (F.col("held_us").cast("double") / F.lit(1e6)).alias("held_seconds"),
        (F.col("wsum") / F.col("held_us").cast("double")).alias("twa"),
    )


def encode_state_runs(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    state_col: str,
    collapse: bool = True,
) -> DataFrame:
    """Project observations to the run table ``(keys..., state,
    run_start_us, run_end_us, n_obs)`` — the persistable partial the
    streaming twin and the pipeline's per-day family store.

    ``collapse=True`` run-length-encodes consecutive equal-state
    observations (one row per state CHANGE — the compaction a
    rarely-flipping fetch-status feed wants); interiors of a run are
    redundant for the DURATIONS, but a LATE row landing strictly inside a
    collapsed run re-attributes at the run's endpoints instead of the
    dropped interior observations (total time conserved; boundary shifts
    bounded by the run span). ``collapse=False`` stores one run per
    observation — no compaction, and :func:`state_tier_from_runs` is then
    exact under arbitrary late/out-of-order arrivals, which is why the
    flagship pipeline defaults to it for its refresh contract.

    Observations sharing a ``(key, ts)`` are ordered by ``(ts, state)``,
    the same rule as :func:`state_tier`, so the runs do not depend on the
    input's partition order."""
    if not collapse:
        ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
        return df.where(F.col(state_col).isNotNull()).select(
            *key_cols,
            F.col(state_col).alias("state"),
            ts_us.alias("run_start_us"),
            ts_us.alias("run_end_us"),
            F.lit(1).cast("long").alias("n_obs"),
        )
    w = Window.partitionBy(*key_cols).orderBy(ts_col, state_col)
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    new_run = (
        F.lag(state_col).over(w).isNull()
        | (F.col(state_col) != F.lag(state_col).over(w))
    ).cast("int")
    run_id = F.sum(new_run).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.where(F.col(state_col).isNotNull())
        .select(
            *key_cols,
            F.col(state_col).alias("state"),
            ts_us.alias("_ts_us"),
            run_id.alias("_run"),
        )
        .groupBy(*key_cols, "_run", "state")
        .agg(
            F.min("_ts_us").alias("run_start_us"),
            F.max("_ts_us").alias("run_end_us"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .drop("_run")
    )


def state_tier_from_runs(
    runs: DataFrame,
    key_cols: Sequence[str],
    tier: str = "1h",
    max_span_buckets: int = 1_000_000,
) -> DataFrame:
    """The queryable time-in-state tier over accumulated run rows: re-expand
    each run to its endpoint observations (interiors are state-constant,
    hence duration-redundant) and run the batch span algebra. Equal to
    :func:`state_tier` over the original observations — ``held_us``
    bit-for-bit whenever no late row landed inside a collapsed run (always,
    for ``collapse=False`` runs); ``n_spans`` counts the stored observation
    set's spans."""
    key_cols = list(key_cols)
    obs = runs.select(
        *key_cols,
        "state",
        F.explode(
            F.when(
                F.col("run_end_us") > F.col("run_start_us"),
                F.array("run_start_us", "run_end_us"),
            ).otherwise(F.array("run_start_us"))
        ).alias("_ts_us"),
    ).select(
        *key_cols,
        F.timestamp_micros(F.col("_ts_us")).alias("_ts"),
        "state",
    )
    return state_tier(
        obs, key_cols, "_ts", "state", tier, max_span_buckets=max_span_buckets
    )


def heartbeat_tier(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    tier: str = "1h",
    tolerance_s: float = 600.0,
    max_span_buckets: int = 1_000_000,
) -> DataFrame:
    """Per-(key, bucket) liveness from heartbeats: up_us (long — union of
    per-heartbeat tolerance windows overlapping the bucket), n_heartbeats
    (heartbeats whose up-span starts in the bucket), n_gaps (downtime
    onsets attributed to the bucket where the up-span ends)."""
    seconds = TIER_SECONDS[tier]
    bucket_us = seconds * 1_000_000
    tol_us = int(round(tolerance_s * 1_000_000))
    if tol_us <= 0:
        raise ValueError("tolerance_s must be positive")
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    s_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    next_us = F.lead(s_us).over(w)
    e_us = F.least(F.coalesce(next_us, s_us + F.lit(tol_us)), s_us + F.lit(tol_us))
    gap = F.coalesce(next_us > s_us + F.lit(tol_us), F.lit(False))
    spans = df.select(
        *key_cols,
        s_us.alias("_s"),
        e_us.alias("_e"),
        gap.alias("_gap"),
    ).where(F.col("_e") > F.col("_s"))
    split = _split_spans(spans, key_cols, bucket_us, max_span_buckets, ["_gap"])
    return split.groupBy(*key_cols, "bucket_start").agg(
        F.sum("_held_us").alias("up_us"),
        F.sum(F.when(F.col("_first"), 1).otherwise(0)).alias("n_heartbeats"),
        F.sum(F.when(F.col("_last") & F.col("_gap"), 1).otherwise(0)).alias(
            "n_gaps"
        ),
    )


def heartbeat_tier_from_runs(
    runs: DataFrame,
    key_cols: Sequence[str],
    tier: str = "1h",
    tolerance_s: float = 600.0,
    max_span_buckets: int = 1_000_000,
) -> DataFrame:
    """Crawl-liveness over a persisted run table: treat every stored run
    endpoint as a heartbeat and build :func:`heartbeat_tier` — so a
    pipeline that already commits per-observation run rows
    (``encode_state_runs(collapse=False)``, the flagship ``staterun/``
    family) gets the uptime surface for free, no extra storage. EXACT
    versus ``heartbeat_tier`` over the raw observations for
    per-observation runs; for collapsed runs the dropped interiors mean
    coverage between a run's endpoints farther apart than ``tolerance_s``
    is undercounted (the stored evidence cannot distinguish a dense run
    from a sparse one), so collapse only feeds this when heartbeat cadence
    is not the question."""
    key_cols = list(key_cols)
    obs = runs.select(
        *key_cols,
        F.explode(
            F.when(
                F.col("run_end_us") > F.col("run_start_us"),
                F.array("run_start_us", "run_end_us"),
            ).otherwise(F.array("run_start_us"))
        ).alias("_ts_us"),
    ).select(*key_cols, F.timestamp_micros(F.col("_ts_us")).alias("_ts"))
    return heartbeat_tier(
        obs, key_cols, "_ts", tier,
        tolerance_s=tolerance_s, max_span_buckets=max_span_buckets,
    )


def heartbeat_rollup(
    tier_df: DataFrame, key_cols: Sequence[str], tier: str
) -> DataFrame:
    """Merge finer-tier liveness partials into a coarser tier — pure
    GROUP-BY SUM (same partition argument as :func:`state_rollup`)."""
    seconds = TIER_SECONDS[tier]
    return (
        tier_df.select(
            *key_cols,
            bucket_col("bucket_start", seconds).alias("bucket_start"),
            "up_us",
            "n_heartbeats",
            "n_gaps",
        )
        .groupBy(*key_cols, "bucket_start")
        .agg(
            F.sum("up_us").alias("up_us"),
            F.sum("n_heartbeats").alias("n_heartbeats"),
            F.sum("n_gaps").alias("n_gaps"),
        )
    )


def heartbeat_eval(df: DataFrame, tier: str | None = None) -> DataFrame:
    """Evaluate liveness partials: up_seconds as double; if ``tier`` is
    given, also uptime_ratio = up_seconds / tier span (meaningful for
    interior buckets; edge buckets of a key's lifetime read low, which is
    the honest answer)."""
    cols = [c for c in df.columns if c != "up_us"]
    out = [
        *cols,
        (F.col("up_us").cast("double") / F.lit(1e6)).alias("up_seconds"),
    ]
    if tier is not None:
        span = TIER_SECONDS[tier] * 1_000_000
        out.append(
            (F.col("up_us").cast("double") / F.lit(float(span))).alias(
                "uptime_ratio"
            )
        )
    return df.select(*out)
