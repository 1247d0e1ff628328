"""Time-series hyperfunctions: time-weighted averages, counter-reset-aware
rates, and LTTB downsampling.

Engine-only operators extending the retention-tier surface (SURVEY.md §2.8;
no reference counterpart — the reference is detector kernels only). They are
the TimescaleDB-toolkit trio a rollup engine is expected to carry
(``time_weight``, ``counter_agg``/``rate``, ``lttb``), re-expressed
Spark-first:

- ``time_weighted_avg`` and ``counter_rate`` are ALL-JVM: one per-key window
  pass (lead/lag — the same single hash exchange the detector scan pays)
  followed by a (key, bucket) groupBy that Catalyst partial-aggregates
  map-side, so the shuffle carries one row per (key, bucket) per task. Both
  are plain-SQL expressible, hence DuckDB-oracle hash-checkable.
- ``lttb`` (Largest-Triangle-Three-Buckets, Steinarsson 2013) is inherently
  sequential per key (each selected point depends on the previously selected
  one), so it runs as a batched Arrow grouped scan over key-partitioned
  data — vectorized inside each series, never per-row Python.

Scale notes (100 TB): all three shuffle on the key (± bucket) only; skewed
hot keys ride the same salting/AQE story as the detector scans. LTTB output
is bounded at ``n_out`` rows per key regardless of input length, so the
downsample is also the cheapest thing to ship to a dashboard.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from ._grouped import grouped_apply
from .rollup import TIER_SECONDS, bucket_col


def time_weighted_avg(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tier: str = "1h",
) -> DataFrame:
    """Time-weighted average per (key, bucket) with LOCF weighting — the
    irregular-sampling rollup a plain ``avg`` gets wrong (a sensor that
    reports 1.0 for 59 minutes and 100.0 for 1 minute averages ~2.65, not
    50.5).

    Semantics (deterministic, oracle-checkable): each observation holds its
    value from its own timestamp until the NEXT observation of the same key,
    truncated at its bucket's end; the last observation of a key extends to
    its bucket's end. ``twa = sum(value*held_seconds) / sum(held_seconds)``.
    Buckets with no observations are not emitted (compose with
    :func:`gapfill` for dense grids).
    """
    seconds = TIER_SECONDS[tier]
    bucket_us = seconds * 1_000_000
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    # Exact integer microseconds throughout: held spans are bigints, so the
    # weighting is bit-deterministic (and matches DuckDB's epoch_us math in
    # the oracle); floats appear only in the final weighted sum.
    # cast handles TIMESTAMP_NTZ parquet columns (identity under the
    # engine's pinned UTC session timezone); unix_micros rejects NTZ.
    epoch_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bucket_end_us = ((epoch_us / bucket_us).cast("long") + 1) * bucket_us
    next_us = F.lead(epoch_us).over(w)
    held_us = F.least(F.coalesce(next_us, bucket_end_us), bucket_end_us) - epoch_us
    staged = df.where(F.col(value_col).isNotNull()).select(
        *key_cols,
        bucket_col(ts_col, seconds).alias("bucket_start"),
        F.col(value_col).alias("_v"),
        held_us.alias("_held_us"),
    )
    return staged.groupBy(*key_cols, "bucket_start").agg(
        F.count("_v").alias("n_points"),
        (F.sum("_held_us").cast("double") / F.lit(1e6)).alias("held_seconds"),
        (
            F.sum(F.col("_v") * F.col("_held_us").cast("double"))
            / F.sum("_held_us").cast("double")
        ).alias("twa"),
    )


def counter_rate(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tier: str = "1h",
) -> DataFrame:
    """Counter-reset-aware per-bucket increase and rate (the Prometheus
    ``increase``/``rate`` pair, TimescaleDB ``counter_agg``): a
    monotonically-increasing counter that restarts from ~0 (process restart,
    overflow) must not contribute a huge negative delta.

    Per key ordered by ts: ``delta = v - lag(v)``; a negative delta is a
    reset, and the post-reset value itself is the increase (the counter
    restarted from 0). Each key's first observation has no predecessor and
    contributes nothing. ``increase(bucket) = sum(corrected deltas of
    observations falling in the bucket)``; ``rate = increase /
    tier_seconds``. Also reports ``n_resets`` per bucket.
    """
    seconds = TIER_SECONDS[tier]
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    delta = F.col(value_col) - F.lag(value_col).over(w)
    corrected = F.when(delta < 0, F.col(value_col)).otherwise(delta)
    staged = df.where(F.col(value_col).isNotNull()).select(
        *key_cols,
        bucket_col(ts_col, seconds).alias("bucket_start"),
        corrected.alias("_inc"),
        F.when(delta < 0, 1).otherwise(0).alias("_reset"),
    )
    return (
        staged.where(F.col("_inc").isNotNull())
        .groupBy(*key_cols, "bucket_start")
        .agg(
            F.count("_inc").alias("n_samples"),
            F.sum("_inc").alias("increase"),
            (F.sum("_inc") / F.lit(float(seconds))).alias("rate_per_sec"),
            F.sum("_reset").alias("n_resets"),
        )
    )


def lttb_select(ts: np.ndarray, vs: np.ndarray, n_out: int) -> np.ndarray:
    """Serial LTTB point selection — returns the selected row indices.

    Largest-Triangle-Three-Buckets (Steinarsson 2013): keep the first and
    last points; split the interior into ``n_out - 2`` buckets; from each
    bucket keep the point forming the largest triangle with the previously
    selected point and the NEXT bucket's centroid. The per-bucket area scan
    is vectorized; only the bucket loop (n_out iterations) is Python.
    """
    n = len(ts)
    if n_out >= n or n_out < 3:
        return np.arange(n if n_out >= n else min(n, max(n_out, 0)))
    # Interior bucket boundaries over points 1..n-2 (first/last pinned).
    edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
    selected = np.empty(n_out, dtype=np.int64)
    selected[0] = 0
    selected[-1] = n - 1
    prev = 0
    for b in range(n_out - 2):
        lo, hi = edges[b], edges[b + 1]
        nlo, nhi = (edges[b + 1], edges[b + 2]) if b + 2 < len(edges) else (
            edges[b + 1], n)
        if nhi <= nlo:  # degenerate tail bucket
            nlo, nhi = n - 1, n
        cx = ts[nlo:nhi].mean()
        cy = vs[nlo:nhi].mean()
        ax, ay = ts[prev], vs[prev]
        # 2x triangle area with (ax,ay) and centroid (cx,cy), vectorized.
        area = np.abs(
            (ax - cx) * (vs[lo:hi] - ay) - (ax - ts[lo:hi]) * (cy - ay)
        )
        prev = lo + int(np.argmax(area))
        selected[b + 1] = prev
    return selected


def moving_avg(vs: np.ndarray, w: int) -> np.ndarray:
    """Trailing simple moving average via exact cumsum; length n-w+1."""
    c = np.concatenate(([0.0], np.cumsum(vs, dtype=np.float64)))
    return (c[w:] - c[:-w]) / float(w)


def _kurtosis(x: np.ndarray) -> float:
    """Pearson kurtosis m4/m2² (the ASAP paper's statistic; 3.0 for a
    normal). NaN for zero-variance input."""
    d = x - x.mean()
    m2 = float((d * d).mean())
    if m2 <= 0.0:
        return float("nan")
    return float((d ** 4).mean() / (m2 * m2))


def _roughness(x: np.ndarray) -> float:
    """Std of first differences — the ASAP smoothness objective."""
    return float(np.diff(x).std()) if len(x) > 2 else 0.0


def asap_window(vs: np.ndarray, max_window: int | None = None) -> int:
    """Serial ASAP window search (Rong & Bailis, VLDB'17 §4): choose the
    moving-average window minimizing roughness (std of first differences)
    subject to PRESERVING structure — kurtosis(smoothed) must not fall
    below kurtosis(original), so spikes/anomalies survive the smoothing
    that kills noise. Candidate windows are the autocorrelation-peak lags
    (the paper's pruning insight: good windows align with the series'
    periodicity) plus a ×1.5 geometric ladder fallback; ties and
    degenerate series (n<8, zero variance, non-finite kurtosis) return 1
    (no smoothing). Deterministic, vectorized per series."""
    vs = np.asarray(vs, dtype=np.float64)
    n = len(vs)
    if n < 8:
        return 1
    maxw = min(max_window or n // 4, n // 4)
    if maxw < 2:
        return 1
    orig_kurt = _kurtosis(vs)
    if not np.isfinite(orig_kurt):
        return 1
    d = vs - vs.mean()
    denom = float((d * d).sum())
    acf = np.array(
        [float((d[: n - l] * d[l:]).sum()) / denom for l in range(1, maxw + 1)]
    )
    cand = {
        l + 1
        for l in range(1, len(acf) - 1)
        if acf[l] > acf[l - 1] and acf[l] >= acf[l + 1]
    }
    w = 2
    while w <= maxw:
        cand.add(w)
        w = max(w + 1, int(round(w * 1.5)))
    best_w, best_r = 1, _roughness(vs)
    for w in sorted(c for c in cand if 2 <= c <= maxw):
        sm = moving_avg(vs, w)
        if _kurtosis(sm) >= orig_kurt:
            r = _roughness(sm)
            if r < best_r:
                best_w, best_r = w, r
    return best_w


def asap_smooth(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    max_window: int | None = None,
) -> DataFrame:
    """Per-key ASAP smoothing: each series gets its own data-chosen
    moving-average window (see :func:`asap_window`) and emits the trailing
    SMA aligned to each window's END timestamp — the dashboard-ready trend
    line that keeps anomalies visible (kurtosis-preserving) while removing
    noise. Output: (keys..., ts, value, smoothed, window); the first
    window-1 points of each series are dropped (no partial windows, so the
    smoothed value at ts uses only data at or before ts — safe for
    monitoring, no lookahead).

    Same plan shape as :func:`lttb`: one hash exchange on the keys, one
    Arrow crossing per partition (``grouped_apply``), all window math
    vectorized NumPy per series. Like ASAP itself, assumes each key's
    series is (roughly) regularly sampled — compose with :func:`gapfill`
    first for gappy tiers."""
    key_fields = [df.schema[k] for k in key_cols]
    schema = StructType(
        key_fields
        + [
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("smoothed", DoubleType()),
            StructField("window", LongType()),
        ]
    )
    src = df.select(
        *key_cols, F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    ).where(F.col("value").isNotNull())

    def run(key, arrays):
        ts, vs = arrays["ts"], arrays["value"]
        w = asap_window(vs, max_window)
        sm = moving_avg(vs, w)
        return {
            "ts": ts[w - 1 :],
            "value": vs[w - 1 :],
            "smoothed": sm,
            "window": np.full(len(sm), w, dtype=np.int64),
        }

    return grouped_apply(src, key_cols, ["ts", "value"], run, schema)


def lttb(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    n_out: int = 100,
) -> DataFrame:
    """Per-key LTTB downsample to at most ``n_out`` visually-representative
    points (what a dashboard plots instead of millions of raw rows). Output:
    (keys..., ts, value, rank) where rank is the selected point's position
    in the downsampled series.

    Runs as a batched Arrow grouped scan (``grouped_apply``): one hash
    exchange on the keys, ONE Arrow crossing per partition (not per group —
    ``groupBy().applyInPandas`` pays ~1-2 ms per group, which at 1500 keys
    of ~70 points each made the scan ~5x slower than the kernel work), the
    selection itself vectorized NumPy per series. Output is bounded at
    ``n_out`` rows per key, independent of input size.
    """
    if n_out < 3:
        raise ValueError(f"n_out must be >= 3: {n_out}")
    key_fields = [df.schema[k] for k in key_cols]
    schema = StructType(
        key_fields
        + [
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("rank", LongType()),
        ]
    )
    src = df.select(
        *key_cols, F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    ).where(F.col("value").isNotNull())

    def run(key, arrays):
        ts, vs = arrays["ts"], arrays["value"]
        ts_ns = ts.astype("datetime64[ns]").astype(np.int64)
        idx = lttb_select(ts_ns.astype(np.float64), vs, n_out)
        return {"ts": ts[idx], "value": vs[idx], "rank": np.arange(len(idx), dtype=np.int64)}

    return grouped_apply(src, key_cols, ["ts", "value"], run, schema)
