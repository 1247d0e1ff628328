"""Mergeable quantile sketches: percentile tiers that re-aggregate.

Sums/mins re-aggregate across retention tiers (rollup.py), but exact
percentiles do not — ``rollup_percentiles`` recomputes every tier from raw.
At 100 TB that is a full raw re-scan per tier. This module closes the gap
with a deterministic mergeable rank sketch so the 1d/30d percentile tiers
derive from the persisted 1h tier, the same continuous-aggregate contract
as the additive state columns (engine tier design, SURVEY.md §2.8; the
reference engine has no rollup layer — its per-series stats live in
StatBuffer, /root/reference/streamchange/sequential/stats.py).

The sketch (an epsilon-approximate weighted rank summary — the classic
"mergeable summaries" structure of Agarwal et al., simplified to its
deterministic core):

- state: values ``v_1 < ... < v_m`` with positive integer weights ``w_i``;
  the weighted step-CDF approximates the data's CDF within additive rank
  error ``err`` (carried explicitly in the blob header).
- build: all points weight 1 (err 0), then PRUNE to ``m = ceil(1/eps)``
  points by selecting the first point reaching each target rank
  ``j*N/m`` — consecutive kept cum-ranks differ by < N/m (+ the kept
  atom's own weight, which is exact), so one prune adds <= eps*N error.
  Inputs with n <= m are stored exactly (err 0).
- merge: concatenate the children's weighted points (step-CDFs add, so
  errors add: sum_i err_i <= eps * N) and prune again (+ eps*N).
- query(q): smallest value whose cumulative weight reaches ceil(q*N) — a
  REAL data element whose rank is within ``err + eps*N`` of q*N (same
  element-returning semantics as Spark's approx_percentile, no
  interpolation).

Worst-case rank error by tier depth: each level's error = (sum of the
children's carried errors) + (one prune) -> 1h = eps*N, 1d = 2*eps*N,
30d = 3*eps*N. The bound is carried IN the blob header (``err``), updated
at every build/merge, so consumers read the guarantee off the data instead
of re-deriving it; tests/test_rollup_gapfill.py asserts both the carried
value and the observed rank error against it. The returned element's true
rank span lies within ``err`` of the target rank (the query itself adds no
error: the chosen atom's cum-weight interval brackets the target). Default
eps=0.005 -> a 30d p99 is within 1.5 percentile points of exact, at <= 201
stored points (~3 KB) per sketch.

Scale shape: ``sketch_tier`` is the ONE raw-scan pass (one hash exchange on
(key, bucket), then the grouped scan, ``_grouped.grouped_apply``: Arrow once
per partition, one sort, NumPy slices per bucket); ``sketch_rollup`` and
``sketch_hopping`` run on the same scan and shuffle only (key, bucket, blob)
rows — m points * 16 bytes ~ 3 KB per (key, bucket) regardless of raw
cardinality, the whole reason the sketch path exists.
``sketch_percentiles`` is a projection.
"""

from __future__ import annotations

import struct
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from ._grouped import grouped_apply
from .rollup import TIER_SECONDS, bucket_col

__all__ = [
    "sketch_tier",
    "sketch_rollup",
    "sketch_hopping",
    "sketch_percentiles",
    "sketch_build",
    "sketch_merge",
    "sketch_query",
]

# blob = header (n_total int64, err float64, m int32) + values f8[m] + weights i8[m]
_HEADER = struct.Struct("<qdi")


def _encode(n_total: int, err: float, values: np.ndarray, weights: np.ndarray) -> bytes:
    return (
        _HEADER.pack(int(n_total), float(err), len(values))
        + np.ascontiguousarray(values, dtype=np.float64).tobytes()
        + np.ascontiguousarray(weights, dtype=np.int64).tobytes()
    )


def _decode(buf: bytes) -> tuple[int, float, np.ndarray, np.ndarray]:
    n_total, err, m = _HEADER.unpack_from(buf, 0)
    off = _HEADER.size
    values = np.frombuffer(buf, dtype=np.float64, count=m, offset=off)
    weights = np.frombuffer(buf, dtype=np.int64, count=m, offset=off + 8 * m)
    return n_total, err, values, weights


def _prune(
    values: np.ndarray, weights: np.ndarray, m: int
) -> tuple[np.ndarray, np.ndarray, float]:
    """Reduce a weighted sorted summary to <= m+1 points; returns the added
    rank error (N/m; 0 when nothing was dropped). Deterministic: keeps the
    first point reaching each target rank j*N/m plus the minimum."""
    if len(values) <= m:
        return values, weights, 0.0
    cumw = np.cumsum(weights)
    n = int(cumw[-1])
    targets = np.arange(1, m + 1, dtype=np.float64) * (n / m)
    idx = np.searchsorted(cumw, targets, side="left")
    idx = np.unique(np.concatenate(([0], np.minimum(idx, len(values) - 1))))
    kept_cum = cumw[idx]
    new_weights = np.diff(kept_cum, prepend=0)
    return values[idx], new_weights.astype(np.int64), n / m


def sketch_build(x: np.ndarray, eps: float) -> bytes:
    """Sketch one bucket's raw values (NaN/None already filtered)."""
    x = np.sort(np.asarray(x, dtype=np.float64))
    m = int(np.ceil(1.0 / eps))
    values, weights, err = _prune(x, np.ones(len(x), dtype=np.int64), m)
    return _encode(len(x), err, values, weights)


def sketch_merge(blobs: Sequence[bytes], eps: float) -> bytes:
    """Merge child sketches into one (errors add, then one prune). The
    children are merged in byte order, so the result does not depend on the
    order they arrive in: equal values from different children keep one
    order through the prune, and ``err`` sums in one order."""
    decoded = [_decode(b) for b in sorted(blobs)]
    values = np.concatenate([d[2] for d in decoded])
    weights = np.concatenate([d[3] for d in decoded])
    order = np.argsort(values, kind="stable")
    n_total = sum(d[0] for d in decoded)
    err = sum(d[1] for d in decoded)
    m = int(np.ceil(1.0 / eps))
    values, weights, added = _prune(values[order], weights[order], m)
    return _encode(n_total, err + added, values, weights)


def sketch_query(buf: bytes, quantiles: Sequence[float]) -> list[float]:
    """Element at the smallest cumulative weight >= ceil(q*N) per q."""
    n_total, _err, values, weights = _decode(buf)
    cumw = np.cumsum(weights)
    out = []
    for q in quantiles:
        r = min(max(int(np.ceil(q * n_total)), 1), n_total)
        out.append(float(values[np.searchsorted(cumw, r, side="left")]))
    return out


def _out_schema(df: DataFrame, group: Sequence[str]) -> StructType:
    by_name = {f.name: f for f in df.schema.fields}
    return StructType(
        [StructField(c, by_name[c].dataType, True) for c in group]
        + [
            StructField("n_points", LongType(), True),
            StructField("qsketch", BinaryType(), True),
        ]
    )


def sketch_tier(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    tier: str = "1h",
    eps: float = 0.005,
) -> DataFrame:
    """The raw-scan tier: (keys..., bucket_start, n_points, qsketch).

    Runs on the grouped scan (``_grouped.grouped_apply``) keyed by (keys,
    bucket): only the keys, the bucket and the value cross into Python,
    once per partition. NULL values are excluded (the ``percentile``
    convention); sketches are deterministic, so re-runs and repartitionings
    produce byte-identical blobs.
    """
    if tier not in TIER_SECONDS:
        raise ValueError(f"unknown tier {tier!r}: {sorted(TIER_SECONDS)}")
    if not 0.0 < eps < 1.0:
        raise ValueError(f"eps must be in (0, 1): {eps}")
    from pyspark.sql import functions as F

    slim = df.where(F.col(value_col).isNotNull()).select(
        *key_cols,
        bucket_col(ts_col, TIER_SECONDS[tier]).alias("bucket_start"),
        F.col(value_col).alias("_v"),
    )
    group = [*key_cols, "bucket_start"]

    def run(key, arrays):
        return [{"n_points": len(arrays["_v"]), "qsketch": sketch_build(arrays["_v"], eps)}]

    return grouped_apply(slim, group, ["_v"], run, _out_schema(slim, group))


def _merge_blob_groups(slim: DataFrame, group: list, eps: float) -> DataFrame:
    """Shared merge body for tier-from-tier and hopping merges: the blobs of
    each ``group`` key merge into one."""

    def run(key, arrays):
        return [
            {
                "n_points": int(arrays["n_points"].sum()),
                "qsketch": sketch_merge(list(arrays["qsketch"]), eps),
            }
        ]

    return grouped_apply(
        slim, group, ["n_points", "qsketch"], run, _out_schema(slim, group)
    )


def sketch_rollup(
    tier_df: DataFrame,
    key_cols: Sequence[str],
    to_tier: str,
    eps: float = 0.005,
) -> DataFrame:
    """Tier-from-tier: merge a finer tier's sketches into ``to_tier``
    buckets — shuffles one (keys, bucket, ~3 KB blob) row per input bucket,
    never the raw values. Input: output of :func:`sketch_tier` (or a prior
    :func:`sketch_rollup`)."""
    if to_tier not in TIER_SECONDS:
        raise ValueError(f"unknown tier {to_tier!r}: {sorted(TIER_SECONDS)}")
    slim = tier_df.select(
        *key_cols,
        bucket_col("bucket_start", TIER_SECONDS[to_tier]).alias("bucket_start"),
        "n_points",
        "qsketch",
    )
    return _merge_blob_groups(slim, [*key_cols, "bucket_start"], eps)


def sketch_hopping(
    tier_df: DataFrame,
    key_cols: Sequence[str],
    width: str = "24 hours",
    slide: str = "1 hour",
    eps: float = 0.005,
    tier: str = "1h",
) -> DataFrame:
    """Sliding-window percentiles from a fixed tier — "p99 over the
    trailing 24 h, every hour", the observability staple. Same shape as
    ``kmv_hopping``/``hh_hopping``: each bucket row is replicated to its
    aligned covering windows via the native ``window(bucket_start, width,
    slide)`` projection and the ≤ width/tier blobs merge per window
    (errors add + one prune, the ``sketch_merge`` accounting, carried in
    the output blob headers); the exchange carries ~3 KB blobs per
    (bucket, window) replica, never raw values — exact percentiles cannot
    slide from a tier at all (overlapping windows share raw points; rank
    state doesn't union), so the exact path re-scans raw width/slide
    times over. ``width``/``slide`` must be multiples of the input tier
    (validated loudly). Output: (keys..., window_start, n_points,
    qsketch); feed to :func:`sketch_percentiles` with
    ``bucket="window_start"``."""
    if tier not in TIER_SECONDS:
        raise ValueError(f"unknown tier {tier!r}: {sorted(TIER_SECONDS)}")
    if not 0.0 < eps < 1.0:
        raise ValueError(f"eps must be in (0, 1): {eps}")
    from pyspark.sql import functions as F

    from .rollup import check_hop, interval_seconds

    check_hop(width, slide)
    step = TIER_SECONDS[tier]
    for name, iv in (("width", width), ("slide", slide)):
        sec = interval_seconds(iv)
        if sec % step:
            raise ValueError(
                f"{name} ({iv!r} = {sec:g}s) is not a multiple of the input "
                f"tier {tier!r} ({step}s): buckets would straddle window "
                "edges; rebuild the tier at a finer granularity instead"
            )
    slim = tier_df.select(
        *key_cols,
        F.window("bucket_start", width, slide).start.alias("window_start"),
        "n_points",
        "qsketch",
    )
    return _merge_blob_groups(slim, [*key_cols, "window_start"], eps)


def sketch_percentiles(
    df: DataFrame,
    key_cols: Sequence[str],
    quantiles: Sequence[float] = (0.5, 0.95, 0.99),
    bucket: str = "bucket_start",
) -> DataFrame:
    """Project percentile columns out of a sketch tier — same output shape
    as ``rollup_percentiles`` (keys..., bucket_start, n_points, p50, ...),
    so consumers can swap exact for sketch without schema changes. Pass
    ``bucket="window_start"`` for :func:`sketch_hopping` output."""
    for q in quantiles:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile must be in [0, 1]: {q}")
    key_cols = list(key_cols)
    by_name = {f.name: f for f in df.schema.fields}
    from pyspark.sql.types import DoubleType

    names = [f"p{q * 100:g}".replace(".", "_") for q in quantiles]
    schema = StructType(
        [StructField(c, by_name[c].dataType, True) for c in key_cols]
        + [
            StructField(bucket, by_name[bucket].dataType, True),
            StructField("n_points", LongType(), True),
        ]
        + [StructField(nm, DoubleType(), True) for nm in names]
    )
    colnames = [f.name for f in schema.fields]
    qs = list(quantiles)

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            qvals = [sketch_query(b, qs) for b in pdf["qsketch"]]
            out = pdf[[*key_cols, bucket, "n_points"]].copy()
            for j, nm in enumerate(names):
                out[nm] = [qv[j] for qv in qvals]
            yield out[colnames]

    return df.mapInPandas(run, schema)
