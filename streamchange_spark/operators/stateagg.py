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

from ._sql import ident, idents, over
from .rollup import TIER_SECONDS, bucket_col

#: A run row's endpoint observations (one when it starts and ends at once).
_RUN_ENDPOINTS = (
    "explode(IF(run_end_us > run_start_us, "
    "array(timestamp_micros(run_start_us), timestamp_micros(run_end_us)), "
    "array(timestamp_micros(run_start_us))))"
)


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
    keep = idents([*key_cols, *extra_cols])
    b0, b1 = f"_s div {bucket_us}", f"(_e - 1) div {bucket_us}"
    msg = (
        f"concat('state/heartbeat span overlaps more than {max_span_buckets} "
        "buckets (span ', CAST(_s AS STRING), '..', CAST(_e AS STRING), ' us); "
        "check the timestamp unit or raise max_span_buckets')"
    )
    guarded = (
        f"CASE WHEN {b1} - {b0} + 1 > {max_span_buckets} "
        f"THEN CAST(raise_error({msg}) AS BIGINT) ELSE {b1} END"
    )
    lo, hi = f"_b * {bucket_us}", f"(_b + 1) * {bucket_us}"
    return spans.selectExpr(
        *keep, "_s", "_e", f"explode(sequence({b0}, {guarded})) AS _b"
    ).selectExpr(
        *keep,
        f"timestamp_seconds(_b * {bucket_us // 1_000_000}) AS bucket_start",
        f"least(_e, {hi}) - greatest(_s, {lo}) AS _held_us",
        f"{lo} <= _s AS _first",
        f"{hi} >= _e AS _last",
    )


def _locf_spans(
    df: DataFrame, key_cols: Sequence[str], ts_col: str, value: str, alias: str
) -> DataFrame:
    """One LOCF span ``[_s, _e)`` per observation with a later one, in
    microseconds, carrying ``value`` (SQL over the input) as ``alias``.
    Rows of a ``(key, ts)`` tie all carry the tie's greatest value, and
    only the tie's last row opens a non-empty span, so the spans do not
    depend on the input's row order. The window sorts on ``ts_col`` alone:
    a layout sorted by (key, ts) needs no Sort."""
    w = over(key_cols, ident(ts_col))
    peers = over(
        key_cols, ident(ts_col), "RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
    )
    s_us = f"unix_micros(CAST({ident(ts_col)} AS TIMESTAMP))"
    return df.selectExpr(
        *idents(key_cols),
        f"max({value}) {peers} AS {alias}",
        f"{s_us} AS _s",
        f"lead({s_us}) {w} AS _e",
    ).where("_e > _s")


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
    bucket_us = TIER_SECONDS[tier] * 1_000_000
    state = ident(state_col)
    spans = _locf_spans(
        df.where(f"{state} IS NOT NULL"), key_cols, ts_col, state, "state"
    )
    split = _split_spans(spans, key_cols, bucket_us, max_span_buckets, ["state"])
    return split.groupBy(*key_cols, "bucket_start", "state").agg(
        F.expr("sum(_held_us) AS held_us"),
        F.expr("sum(CASE WHEN _first THEN 1 ELSE 0 END) AS n_spans"),
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
    bucket_us = TIER_SECONDS[tier] * 1_000_000
    value = ident(value_col)
    spans = _locf_spans(
        df.where(f"{value} IS NOT NULL"), key_cols, ts_col,
        f"CAST({value} AS DOUBLE)", "_v",
    )
    split = _split_spans(spans, key_cols, bucket_us, max_span_buckets, ["_v"])
    return split.groupBy(*key_cols, "bucket_start").agg(
        F.expr("sum(_held_us) AS held_us"),
        F.expr("sum(_v * CAST(_held_us AS DOUBLE)) AS wsum"),
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
    obs = runs.selectExpr(*idents(key_cols), "state", f"{_RUN_ENDPOINTS} AS _ts")
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
    onsets attributed to the bucket where the up-span ends).

    Duplicate ``(key, ts)`` heartbeats count once: the tie's earlier rows
    reach the next row at the same instant, so their up-spans are empty
    and dropped, and only the tie's last row opens a span (to the next
    distinct ``ts``). All rows of a tie carry the same values, so the
    result does not depend on the input's row order."""
    bucket_us = TIER_SECONDS[tier] * 1_000_000
    tol_us = int(round(tolerance_s * 1_000_000))
    if tol_us <= 0:
        raise ValueError("tolerance_s must be positive")
    s_us = f"unix_micros(CAST({ident(ts_col)} AS TIMESTAMP))"
    next_us = f"lead({s_us}) {over(key_cols, ident(ts_col))}"
    until = f"{s_us} + {tol_us}"
    spans = df.selectExpr(
        *idents(key_cols),
        f"{s_us} AS _s",
        f"least(coalesce({next_us}, {until}), {until}) AS _e",
        f"coalesce({next_us} > {until}, false) AS _gap",
    ).where("_e > _s")
    split = _split_spans(spans, key_cols, bucket_us, max_span_buckets, ["_gap"])
    return split.groupBy(*key_cols, "bucket_start").agg(
        F.expr("sum(_held_us) AS up_us"),
        F.expr("sum(CASE WHEN _first THEN 1 ELSE 0 END) AS n_heartbeats"),
        F.expr("sum(CASE WHEN _last AND _gap THEN 1 ELSE 0 END) AS n_gaps"),
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
    obs = runs.selectExpr(*idents(key_cols), f"{_RUN_ENDPOINTS} AS _ts")
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
