"""Mergeable linear-regression statistics tiers (the TimescaleDB-toolkit
``stats_agg`` / ``regr_*`` analogue): per-bucket partial sums that
re-aggregate across retention tiers, evaluated to slope / intercept / R²
only at query time.

Engine-only operator extending the retention-tier surface (SURVEY.md §2.8;
no reference counterpart — the reference is detector kernels only). The
trend of a per-URL metric (is this page's text length drifting?) is the
natural companion query to the change-point detectors: detectors find the
break, the regression tier quantifies the drift between breaks.

Shape: a stats tier row carries the six moments
``(n, sum_x, sum_y, sum_xx, sum_xy, sum_yy)`` per (key, bucket) — closed
under addition, so the 1d tier is a GROUP-BY SUM over the persisted 1h
partials (the continuous-aggregate contract: coarser trends never re-scan
raw). All-JVM: one groupBy per tier, map-side partial aggregation,
shuffle carries one 6-double row per (key, bucket).

Numerics: x is seconds since the row's OWN bucket start, and the tier
merge SHIFTS finer partials to the coarser bucket's origin
(``Σx' = Σx + n·c``, ``Σxx' = Σxx + 2cΣx + n·c²``, ``Σxy' = Σxy + c·Σy``
with ``c`` = fine-minus-coarse bucket offset) before summing — plain SQL,
still associative. This keeps every moment at the bucket's own scale
(|x| ≤ the bucket span) instead of epoch scale: with epoch-origin x the
``n·Σxx − (Σx)²`` evaluation cancels ~8 digits and two-point buckets
disagreed with DuckDB's numerically stable ``regr_slope`` in the 4th
decimal (measured); bucket-origin x pushes the error below rounding.
Slope and R² are shift-invariant, so the DuckDB oracle can use any
origin; ``intercept`` is the fitted y AT the bucket start (more useful
than y at an arbitrary epoch). Slope is reported per HOUR (per-second
slopes of web metrics round to zero at any sane precision).
Single-point and constant-x buckets evaluate to NULL slope/intercept/R²
— the SQL ``regr_*`` convention, which makes the whole surface
DuckDB-oracle checkable.

Scale notes (100 TB): same story as the additive rollup tiers — the only
shuffle is on (key, bucket); hot keys ride salting/AQE; tier merges read
the persisted partials, ~48 bytes per (key, bucket), never raw.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._sql import idents
from .rollup import TIER_SECONDS, bucket_col, bucket_sql

SUM_COLS = ("n", "sum_x", "sum_y", "sum_xx", "sum_xy", "sum_yy")


def stats_tier(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tier: str = "1h",
) -> DataFrame:
    """Per-(key, bucket) regression partial sums over raw observations.
    NULL values are dropped (SQL aggregate convention)."""
    seconds = TIER_SECONDS[tier]
    # x = seconds into the row's own bucket: integer-microsecond
    # subtraction FIRST, one division after, so any engine computing it
    # this way gets the bit-identical double. cast("timestamp") because
    # unix_micros rejects TIMESTAMP_NTZ (the session is pinned UTC, so
    # the NTZ reading is unchanged).
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bucket_us = (ts_us / F.lit(seconds * 1_000_000)).cast("long") * F.lit(
        seconds * 1_000_000
    )
    x = (ts_us - bucket_us).cast("double") / F.lit(1e6)
    y = F.col(value_col).cast("double")
    return (
        df.where(y.isNotNull())
        .select(
            *key_cols,
            bucket_col(ts_col, seconds).alias("bucket_start"),
            x.alias("__x"),
            y.alias("__y"),
        )
        .groupBy(*key_cols, "bucket_start")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__x").alias("sum_x"),
            F.sum("__y").alias("sum_y"),
            F.sum(F.col("__x") * F.col("__x")).alias("sum_xx"),
            F.sum(F.col("__x") * F.col("__y")).alias("sum_xy"),
            F.sum(F.col("__y") * F.col("__y")).alias("sum_yy"),
        )
    )


def stats_rollup(
    tier_df: DataFrame, key_cols: Sequence[str], tier: str
) -> DataFrame:
    """Merge finer-tier partial sums into a coarser tier — shift each
    partial's x-origin from its own bucket start to the coarser bucket's
    (``c`` = offset seconds; see module docstring), then a pure GROUP-BY
    SUM. Never a raw re-scan."""
    coarse = bucket_sql("bucket_start", TIER_SECONDS[tier])
    c = f"CAST(unix_timestamp(bucket_start) - unix_timestamp({coarse}) AS DOUBLE)"
    n = "CAST(n AS DOUBLE)"
    return (
        tier_df.selectExpr(
            *idents(key_cols),
            f"{coarse} AS bucket_start",
            "n",
            f"sum_x + {n} * {c} AS sum_x",
            "sum_y",
            f"sum_xx + 2.0D * {c} * sum_x + {n} * {c} * {c} AS sum_xx",
            f"sum_xy + {c} * sum_y AS sum_xy",
            "sum_yy",
        )
        .groupBy(*key_cols, "bucket_start")
        .agg(*[F.expr(f"sum({col}) AS {col}") for col in SUM_COLS])
    )


def stats_eval(df: DataFrame, slope_per: float = 3600.0) -> DataFrame:
    """Evaluate carried partial sums to the regression surface:
    ``slope`` (y units per ``slope_per`` seconds — per hour by default),
    ``intercept`` (fitted y at x = 0, i.e. at the row's bucket start),
    ``r2``, and ``stddev_y``
    (sample). NULL where undefined (n < 2, zero x- or y-variance for R²),
    matching SQL ``regr_slope`` / ``regr_r2`` semantics."""
    n = "CAST(n AS DOUBLE)"
    sxx = f"({n} * sum_xx - sum_x * sum_x)"
    syy = f"({n} * sum_yy - sum_y * sum_y)"
    sxy = f"({n} * sum_xy - sum_x * sum_y)"
    # Degenerate buckets (n < 2, or no real x-variance) must be NULL, not
    # a ratio of rounding residue: after the tier-merge origin shift the
    # mathematically-zero sxx of a single-point bucket evaluates to ~ulp
    # instead of exact 0, so the zero test is RELATIVE to the moment's own
    # magnitude, not an equality.
    no_x_var = f"(n < 2 OR {sxx} <= 1.0E-9D * greatest({n} * sum_xx, 1.0D))"
    no_y_var = f"{syy} <= 1.0E-9D * greatest({n} * sum_yy, 1.0D)"
    null = "CAST(NULL AS DOUBLE)"
    slope_sec = f"(CASE WHEN {no_x_var} THEN {null} ELSE {sxy} / {sxx} END)"
    # the PostgreSQL/DuckDB regr_r2 convention: NULL when x has no
    # variance, 1.0 when y is constant but x is not; the ratio is ≤ 1 by math
    r2 = (
        f"CASE WHEN {no_x_var} THEN {null} "
        f"ELSE CASE WHEN {no_y_var} THEN 1.0D "
        f"ELSE least(({sxy} * {sxy}) / ({sxx} * {syy}), 1.0D) END END"
    )
    return df.selectExpr(
        "*",
        f"{slope_sec} * {float(slope_per)!r}D AS slope",
        f"(sum_y - {slope_sec} * sum_x) / {n} AS intercept",
        f"{r2} AS r2",
        f"sqrt({syy} / nullif({n} * ({n} - 1), 0.0D)) AS stddev_y",
    )
