"""Gap-fill: densify per-key bucket series and interpolate missing values.

Engine-only operator (north rule). All-JVM implementation — no UDF anywhere:

1. per key, ``sequence(min(bucket), max(bucket), interval)`` + ``explode``
   builds the dense grid (one aggregate + one generator, no shuffle beyond
   the aggregate's),
2. a left join attaches observed values (broadcast when the grid is small or
   co-partitioned otherwise; Catalyst/AQE decide),
3. LOCF = ``last(value, ignorenulls=True)`` over the key-ordered window;
   linear interpolation brackets each gap with the previous/next observed
   point via two window passes and lerps in plain column arithmetic.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._sql import ident, idents, over


def dense_grid(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    step_seconds: int,
    max_buckets_per_key: int | None = 1_000_000,
) -> DataFrame:
    """One row per (key, bucket) for every step between each key's min and
    max bucket.

    ``max_buckets_per_key`` bounds the generated grid: one key spanning 3
    years at a 1-second step would explode into ~95M rows from a single
    input row pair — a silent OOM/skew bomb at corpus scale. The guard
    fails loudly (executor-side ``raise_error`` naming the offending key
    and its bucket count) instead; pass ``None`` to disable for trusted
    inputs."""
    keys, b, step = idents(key_cols), ident(bucket_col), int(step_seconds)
    bounds = df.groupBy(*key_cols).agg(
        F.expr(f"min({b}) AS _min_b"), F.expr(f"max({b}) AS _max_b")
    )
    start = "_min_b"
    if max_buckets_per_key is not None:
        n_buckets = (
            f"CAST((unix_timestamp(_max_b) - unix_timestamp(_min_b)) / {step} "
            "AS BIGINT) + 1"
        )
        # The guard rides inside the grid's start so Catalyst cannot prune
        # it away; raise_error's NullType coerces into the CASE.
        err = (
            "raise_error(concat('dense_grid: key (', concat_ws("
            + ", ".join(["', '", *(f"CAST({k} AS STRING)" for k in keys)])
            + f"), ') would generate ', CAST({n_buckets} AS STRING), "
            f"' grid rows at step={step}s, above "
            f"max_buckets_per_key={int(max_buckets_per_key)}; raise the limit, "
            "coarsen the step, or split the key range'))"
        )
        start = (
            f"CASE WHEN {n_buckets} > {int(max_buckets_per_key)} THEN {err} "
            "ELSE _min_b END"
        )
    return bounds.selectExpr(
        *keys, f"explode(sequence({start}, _max_b, INTERVAL {step} SECONDS)) AS {b}"
    )


def gapfill(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    value_col: str,
    step_seconds: int,
    method: str = "locf",
    max_buckets_per_key: int | None = 1_000_000,
) -> DataFrame:
    """Densify and fill. ``method``:

    - ``'locf'``  — last observation carried forward,
    - ``'linear'``— linear interpolation between bracketing observations
      (ends stay null where no bracket exists),
    - ``'null'``  — densify only.

    Output: (keys..., bucket, value, gap_filled).
    """
    key_cols = list(key_cols)
    keys, b = idents(key_cols), ident(bucket_col)
    grid = dense_grid(df, key_cols, bucket_col, step_seconds, max_buckets_per_key)
    observed = df.selectExpr(*keys, b, f"{ident(value_col)} AS _obs")
    dense = grid.join(observed, on=key_cols + [bucket_col], how="left")

    w = over(key_cols, b)
    if method == "null":
        filled = "_obs"
    elif method == "locf":
        filled = f"last(_obs, true) {w}"
    elif method == "linear":
        # Two windows (asc + desc) cost a second sort, but beat the
        # single-sort alternative by 10x: first(...) over a
        # [currentRow, unboundedFollowing] frame is a SHRINKING frame that
        # Spark re-evaluates per row (measured 22 s vs 1.8 s at sf0.1).
        w_rev = over(key_cols, f"{b} DESC")
        seen = f"CASE WHEN _obs IS NOT NULL THEN {b} END"
        prev_v, next_v = f"last(_obs, true) {w}", f"last(_obs, true) {w_rev}"
        prev_t = f"unix_timestamp(last({seen}, true) {w})"
        next_t = f"unix_timestamp(last({seen}, true) {w_rev})"
        frac = f"((unix_timestamp({b}) - {prev_t}) / ({next_t} - {prev_t}))"
        filled = (
            f"CASE WHEN _obs IS NOT NULL THEN _obs "
            f"WHEN {prev_v} IS NOT NULL AND {next_v} IS NOT NULL "
            f"THEN {prev_v} + ({next_v} - {prev_v}) * {frac} ELSE NULL END"
        )
    else:
        raise ValueError(f"unknown gapfill method: {method}")

    return dense.selectExpr(
        *keys, b, f"{filled} AS {ident(value_col)}", "_obs IS NULL AS gap_filled"
    )
