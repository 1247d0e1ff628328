"""Continuous-aggregate retention tiers: raw -> 1h -> 1d -> 30d.

Engine-only operators mandated by the north rule (no reference counterpart;
see SURVEY.md §2.8). Design rules for exact re-aggregability at 100 TB scale:

- Every tier carries *associative* state — n_points, sum_v, min_v, max_v,
  first_v/last_v with their timestamps — never averages, so tier N+1 is
  computed from tier N alone (no raw re-scan) and equals the direct
  aggregation from raw bit-for-bit (sums of doubles re-associate, so equality
  holds when partial aggregation trees match; tests assert value equality vs
  both a DuckDB oracle and a direct-from-raw rollup).
- Buckets are epoch-floor buckets (``floor(unix_ts / seconds) * seconds``) —
  deterministic, timezone-free, identical in Spark and DuckDB, and cheap
  (whole-stage codegen; no UDF).
- The aggregation is a plain ``groupBy(key, bucket)`` — Catalyst plans a
  partial (map-side) hash aggregate before the shuffle, so the shuffle volume
  is one row per (key, bucket) per task, not per input row.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._sql import ident

HOUR = 3600
DAY = 86400
DAYS_30 = 30 * 86400

TIER_SECONDS = {"1h": HOUR, "1d": DAY, "30d": DAYS_30}

#: Columns every tier table carries (after the key + bucket_start).
TIER_STATE_COLS = [
    "n_points",
    "sum_v",
    "min_v",
    "max_v",
    "first_ts",
    "first_v",
    "last_ts",
    "last_v",
]


#: Aggregates merging finer tier rows into one coarser row, as SQL.
_TIER_MERGE = (
    "sum(n_points) AS n_points",
    "sum(sum_v) AS sum_v",
    "min(min_v) AS min_v",
    "max(max_v) AS max_v",
    "min(first_ts) AS first_ts",
    "min_by(first_v, first_ts) AS first_v",
    "max(last_ts) AS last_ts",
    "max_by(last_v, last_ts) AS last_v",
)


def bucket_sql(ts_col: str, seconds: int) -> str:
    """Epoch-floor bucket of ``ts_col`` as a SQL timestamp expression."""
    return (
        f"timestamp_seconds(CAST(unix_timestamp({ident(ts_col)}) / {int(seconds)} "
        f"AS BIGINT) * {int(seconds)})"
    )


def bucket_col(ts_col: str, seconds: int):
    """Epoch-floor bucket as a timestamp column (codegen-friendly, no UDF)."""
    return F.expr(bucket_sql(ts_col, seconds))


def _merge_tier_rows(df: DataFrame, key_cols: Sequence[str], bucket) -> DataFrame:
    """One row per (keys, ``bucket``) holding the merged tier state."""
    return df.groupBy(*key_cols, bucket).agg(*[F.expr(a) for a in _TIER_MERGE])


_INTERVAL_UNIT_SECONDS = {
    "microsecond": 1e-6, "millisecond": 1e-3, "second": 1, "minute": 60,
    "hour": 3600, "day": 86400, "week": 604800,
}


def interval_seconds(interval: str) -> float:
    """Parse a Spark window-duration string ('1 hour', '15 minutes', '90
    seconds', multi-part '1 hour 30 minutes') to seconds. Mirrors the units
    ``F.window`` accepts; raises ValueError on anything it can't parse so
    validation failures never silently pass."""
    toks = interval.strip().lower().split()
    if not toks or len(toks) % 2:
        raise ValueError(f"cannot parse interval: {interval!r}")
    total = 0.0
    for qty, unit in zip(toks[::2], toks[1::2]):
        unit = unit.rstrip("s")
        if unit not in _INTERVAL_UNIT_SECONDS:
            raise ValueError(f"unknown interval unit {unit!r} in {interval!r}")
        total += float(qty) * _INTERVAL_UNIT_SECONDS[unit]
    return total


def check_hop(width: str, slide: str) -> None:
    """Raise when ``slide`` exceeds ``width``: Spark's ``window(ts, width,
    slide)`` then emits GAPPED windows and events falling between hops
    silently vanish from the tier — never what a rollup means."""
    w, s = interval_seconds(width), interval_seconds(slide)
    if s > w:
        raise ValueError(
            f"slide ({slide!r} = {s:g}s) exceeds width ({width!r} = {w:g}s): "
            "windows would be gapped and in-between events silently dropped; "
            "use slide <= width (slide == width for tumbling)"
        )


def rollup_raw(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tier: str = "1h",
) -> DataFrame:
    """Aggregate raw points into one tier:
    (keys..., bucket_start, n_points, sum_v, min_v, max_v, first_ts, first_v,
    last_ts, last_v)."""
    seconds = TIER_SECONDS[tier]
    v = F.col(value_col)
    return (
        df.where(v.isNotNull())
        .groupBy(*key_cols, bucket_col(ts_col, seconds).alias("bucket_start"))
        .agg(
            F.count(v).alias("n_points"),
            F.sum(v).alias("sum_v"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            F.min(F.col(ts_col)).alias("first_ts"),
            F.min_by(v, F.col(ts_col)).alias("first_v"),
            F.max(F.col(ts_col)).alias("last_ts"),
            F.max_by(v, F.col(ts_col)).alias("last_v"),
        )
    )


def rollup_tier(
    tier_df: DataFrame,
    key_cols: Sequence[str],
    tier: str,
) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one using only the finer
    tier's associative state (the continuous-aggregate property: no raw
    scan)."""
    bucket = bucket_sql("bucket_start", TIER_SECONDS[tier])
    return _merge_tier_rows(tier_df, key_cols, F.expr(f"{bucket} AS bucket_start"))


def merge_tier(
    tier_dfs: Sequence[DataFrame],
    key_cols: Sequence[str],
) -> DataFrame:
    """Merge SAME-granularity tier tables into one — the continuous-aggregate
    increment operator (TimescaleDB calls this the refresh step): because
    every tier column is associative state, ``merge_tier([tier(base),
    tier(late)])`` equals ``tier(base UNION late)`` exactly, so late-arriving
    raw data is folded into a committed tier by aggregating ONLY the late
    rows and merging — never re-scanning the base corpus.

    At 100 TB the shuffle carries one tier row per (key, bucket) per input —
    the merge cost is O(affected-partition tier rows + late rows), independent
    of corpus size. Overlapping buckets combine (sum counts/sums, min/max of
    extremes, earliest/latest endpoint by their timestamps); disjoint buckets
    pass through untouched.
    """
    if not tier_dfs:
        raise ValueError("merge_tier needs at least one tier DataFrame")
    merged = tier_dfs[0]
    for t in tier_dfs[1:]:
        merged = merged.unionByName(t)
    return _merge_tier_rows(merged, key_cols, "bucket_start")


def rollup_all_tiers(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
) -> dict[str, DataFrame]:
    """The full retention cascade raw -> 1h -> 1d -> 30d; each coarser tier is
    derived from the previous one, so the raw table is scanned exactly once."""
    tier_1h = rollup_raw(df, key_cols, ts_col, value_col, "1h")
    tier_1d = rollup_tier(tier_1h, key_cols, "1d")
    tier_30d = rollup_tier(tier_1d, key_cols, "30d")
    return {"1h": tier_1h, "1d": tier_1d, "30d": tier_30d}


def real_time_rollup(
    tier_df: DataFrame,
    raw_df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    watermark,
    tier: str = "1h",
) -> DataFrame:
    """Real-time continuous aggregate (the TimescaleDB real-time-view
    semantics): the committed, materialized tier UNION an on-the-fly rollup
    of ONLY the raw rows at/after the materialization watermark — so a query
    sees up-to-the-second results without waiting for the next refresh, and
    the raw scan is bounded to the unmaterialized tail, never the archive.

    Contract: ``tier_df`` must hold exactly the rollup of raw rows with
    ``ts < watermark`` (the watermark the pipeline's refresh committed up
    to).  The watermark does NOT need to be bucket-aligned: a bucket the
    watermark splits contributes a partial tier row from the committed side
    and a partial on-the-fly row from the tail, and ``merge_tier`` combines
    the two associative states into exactly the full-bucket state.

    Scale shape: the ``ts >= watermark`` predicate is a plain column
    comparison, so it reaches the raw table's parquet scan as a pushed
    filter (and prunes time-partitioned raw layouts to the tail partitions);
    the committed side is a tier read (already ~1/10^3 of raw).  The merge
    shuffles one tier row per (key, bucket) per side."""
    if tier not in TIER_SECONDS:
        raise ValueError(f"unknown tier {tier!r}")
    tail = raw_df.where(F.col(ts_col) >= F.lit(watermark))
    return merge_tier(
        [tier_df, rollup_raw(tail, key_cols, ts_col, value_col, tier)],
        key_cols,
    )


def with_avg(tier_df: DataFrame) -> DataFrame:
    """Derived average (kept out of the stored state on purpose — averages
    don't re-aggregate)."""
    return tier_df.withColumn("avg_v", F.col("sum_v") / F.col("n_points"))


def retention_filter(
    tier_df: DataFrame, now_ts, max_age_seconds: int
) -> DataFrame:
    """Retention policy: keep only buckets younger than the tier's max age.
    On a partitioned table this prunes whole partitions (no data rewrite)."""
    cutoff = F.timestamp_seconds(
        F.unix_timestamp(F.lit(now_ts)) - F.lit(max_age_seconds)
    )
    return tier_df.where(F.col("bucket_start") >= cutoff)


def rollup_percentiles(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tier: str = "1h",
    quantiles: Sequence[float] = (0.5, 0.95, 0.99),
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Percentile tier (p50/p95/p99 per bucket) — the observability rollup
    that sums/mins can't express.

    ``exact=True`` uses SQL ``percentile`` (linear interpolation at rank
    (n-1)·q — the same definition as DuckDB's ``quantile_cont``, so the
    result is oracle-checkable). Exact percentiles materialize each group's
    values; at 100 TB switch ``exact=False`` for ``approx_percentile``
    (GK-sketch, mergeable map-side partial aggregation, error bounded by
    1/``accuracy``) — same output schema, rank error documented instead of
    zero. Unlike sums, percentiles do NOT re-aggregate across tiers: always
    compute each tier from raw (or accept the documented sketch-merge error
    with approx).
    """
    if tier not in TIER_SECONDS:
        raise ValueError(f"unknown tier {tier!r}: {sorted(TIER_SECONDS)}")
    for q in quantiles:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile must be in [0, 1]: {q}")
    bucket = bucket_col(ts_col, TIER_SECONDS[tier]).alias("bucket_start")
    arr = F.array(*[F.lit(float(q)) for q in quantiles])
    agg = (
        F.percentile(F.col(value_col), arr)
        if exact
        else F.percentile_approx(F.col(value_col), arr, F.lit(int(accuracy)))
    )
    out = df.groupBy(*key_cols, bucket).agg(
        F.count(value_col).alias("n_points"), agg.alias("_q")
    )
    for i, q in enumerate(quantiles):
        name = f"p{q * 100:g}".replace(".", "_")  # 0.5 -> p50, 0.999 -> p99_9
        out = out.withColumn(name, F.col("_q")[i])
    return out.drop("_q")


def rollup_hopping(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    width: str = "1 hour",
    slide: str = "15 minutes",
) -> DataFrame:
    """Hopping (sliding) window aggregates — the overlapping-window rollup
    the fixed tiers can't express (e.g. "events per trailing hour, every
    15 minutes"). Output: (keys..., window_start, n_points, sum_v, min_v,
    max_v).

    Implemented as the native ``window(ts, width, slide)`` group key:
    Catalyst expands each row into width/slide window replicas as a
    PROJECTION and partial-aggregates them map-side before the shuffle, so
    the exchange carries one row per (key, window) per task — the same
    shape as the fixed tiers, scaled by the overlap factor. Works unchanged
    under Structured Streaming with a watermark.
    """
    check_hop(width, slide)
    v = F.col(value_col)
    return (
        df.where(v.isNotNull())
        .groupBy(*key_cols, F.window(ts_col, width, slide).alias("_w"))
        .agg(
            F.count(v).alias("n_points"),
            F.sum(v).alias("sum_v"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
        )
        .select(
            *key_cols,
            F.col("_w.start").alias("window_start"),
            "n_points",
            "sum_v",
            "min_v",
            "max_v",
        )
    )


def rollup_distinct(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    distinct_col: str,
    tier: str = "1d",
    exact: bool = True,
    rsd: float = 0.05,
) -> DataFrame:
    """Cardinality tier: distinct ``distinct_col`` values per (keys, bucket)
    — e.g. daily active users. ``exact=True`` is the oracle-checkable mode;
    at 100 TB switch ``exact=False`` for HyperLogLog++
    (``approx_count_distinct``, relative error ``rsd``): the sketch is a
    mergeable map-side partial aggregate, so the shuffle carries one sketch
    per (key, bucket) per task instead of every distinct value — exact
    distinct counting must ship each distinct value to its reducer. Like
    percentiles (and unlike sums), exact distinct counts do NOT re-aggregate
    across tiers; HLL sketches DO merge, which is the other reason the
    sketch is the scale path."""
    if tier not in TIER_SECONDS:
        raise ValueError(f"unknown tier {tier!r}: {sorted(TIER_SECONDS)}")
    bucket = bucket_col(ts_col, TIER_SECONDS[tier]).alias("bucket_start")
    agg = (
        F.countDistinct(F.col(distinct_col))
        if exact
        else F.approx_count_distinct(F.col(distinct_col), rsd)
    )
    return df.groupBy(*key_cols, bucket).agg(agg.alias("n_distinct"))
