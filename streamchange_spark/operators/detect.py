"""Per-key stateful change-point detection as Spark operators.

Every detector from the kernel layer runs on the grouped scan
(_grouped.grouped_apply): one explicit hash repartition by key — the only
shuffle in the plan — then one Arrow crossing per partition, one sort of
the partition by (key, ts, values), and the *exact same* NumPy kernel the
test oracle runs, fed each key's array slices. No per-row Python, no
per-group Arrow toll, no driver-side loops; parallelism scales with
distinct keys across executors.

Skew note: a detector's state is inherently sequential per key, so a single
hot key cannot be split without changing semantics; the mitigation is key
granularity (per-URL series) + AQE. The repartition below spreads keys
uniformly (hash) so hot keys land alone in a task instead of queueing behind
each other.

Reference semantics: streamchange's batch entry points (window_segmentor.py
fit:140-151, sequential/detector.py fit:50-66, pelt/pelt.py fit:74-84,
capa/capa.py fit:78-88) — reproduced here per key.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.segmentation import fit_segmentation as _fit_segmentation
from ._grouped import grouped_apply


def _key_fields(df: DataFrame, key_cols: Sequence[str]) -> list[StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [StructField(c, by_name[c].dataType, True) for c in key_cols]


def _ts_field(df: DataFrame, ts_col: str, out_name: str) -> StructField:
    by_name = {f.name: f for f in df.schema.fields}
    return StructField(out_name, by_name[ts_col].dataType, True)


def _values(arrays: dict, value_cols: Sequence[str]) -> np.ndarray:
    if len(value_cols) == 1:
        return np.asarray(arrays[value_cols[0]], dtype=np.float64)
    return np.column_stack([arrays[c] for c in value_cols]).astype(np.float64)


def zscore_per_key(x: np.ndarray, ddof: int = 1) -> np.ndarray:
    """Per-column z-score of one key's (already ts-sorted) value array.

    The reference's detector convention assumes ~unit-variance input: its
    examples feed `simulate()` unit-variance Gaussians straight into
    CUSUM+BIC (reference interactive/example_cusum.py:7-9), and the squared
    CUSUM score is in data-variance units while the BIC penalty is in
    unit-variance units. A raw series in [0,1] (e.g. change scores) can
    therefore NEVER clear the default penalty at max_window=100
    (max score k(n-k)/n * 1^2 = 25 < 2*2*log(10000) = 36.8), while a raw
    series in the hundreds alarms on pure noise. Standardizing per key is
    the documented preprocessing step, done HERE — inside the grouped UDF
    after the ts sort — so it is bit-deterministic (no partition-order-
    dependent float merges) and adds no exchange beyond the one the
    detector scan already performs.

    Zero-variance columns map to NaN: the detectors' reference NaN
    semantics (dropna) then skip them — a constant series has no change
    points by definition.
    """
    x2 = x.astype(np.float64, copy=True)
    cols = x2.reshape(len(x2), -1) if x2.ndim == 1 else x2
    with np.errstate(invalid="ignore"):
        mean = np.nanmean(cols, axis=0)
        n_eff = np.sum(~np.isnan(cols), axis=0)
        sd = np.where(
            n_eff > ddof, np.nanstd(cols, axis=0, ddof=ddof), np.nan
        )
        sd = np.where(sd > 0.0, sd, np.nan)
        out = (cols - mean) / sd
    return out[:, 0] if x2.ndim == 1 else out


def standardize_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    value_cols: Sequence[str],
    ddof: int = 1,
) -> DataFrame:
    """All-JVM twin of :func:`zscore_per_key`: replace each value column
    with its per-key z-score via window aggregates — no Python crossing,
    whole plan in codegen, SQL-expressible (driver oracle ``standardize``).

    Use this to pre-standardize a series table once and feed MANY detector
    scans (standardize=False), or when the standardized series itself is
    the product; the in-UDF ``standardize=True`` flag is the zero-extra-
    cost path when a single detector scan is the only consumer. Both
    compute (x - mean) / sample-stddev per key; constant or too-short
    series map to NULL here (NaN in the UDF twin — same dropna downstream).

    Scale shape: one hash exchange on ``key_cols``, so every key's rows
    land in one partition. That key clustering is all a following
    ``*_changepoints(assume_partitioned=True)`` needs; it need not be the
    hash the grouped detector scan would repartition with. Only
    ``ddof=1``'s two extra aggregate columns ride the window, never text.
    """
    if ddof not in (0, 1):
        raise ValueError(f"ddof must be 0 or 1: {ddof}")
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols)
    sd = F.stddev_samp if ddof == 1 else F.stddev_pop
    out = df
    for c in value_cols:
        out = out.withColumn(
            c,
            (F.col(c) - F.avg(c).over(w))
            / F.nullif(sd(c).over(w), F.lit(0.0)),
        )
    return out


def window_segmentor_changepoints(
    df: DataFrame,
    detector_factory: Callable,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_cols: Sequence[str] = ("value",),
    num_partitions: int | None = None,
    assume_partitioned: bool = False,
    standardize: bool = False,
) -> DataFrame:
    """(keys..., detection_ts, changepoint_ts) — one row per detected change.

    ``standardize=True`` z-scores each key's series (per column) before the
    detector runs — see :func:`zscore_per_key`; default False preserves
    reference-exact raw semantics.
    """
    schema = StructType(
        _key_fields(df, key_cols)
        + [_ts_field(df, ts_col, "detection_ts"), _ts_field(df, ts_col, "changepoint_ts")]
    )

    def run(key, arrays):
        detector = detector_factory()
        vals = _values(arrays, value_cols)
        if standardize:
            vals = zscore_per_key(vals)
        detector.fit(vals, times=arrays[ts_col])
        return [
            {"detection_ts": d, "changepoint_ts": c} for d, c in detector.detections_
        ]

    return grouped_apply(df, key_cols, [ts_col, *value_cols], run, schema,
                         num_partitions, assume_partitioned)


def sequential_scores(
    df: DataFrame,
    detector_factory: Callable,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_cols: Sequence[str] = ("value",),
    alarms_only: bool = False,
    num_partitions: int | None = None,
    standardize: bool = False,
) -> DataFrame:
    """(keys..., ts, penalised_score, is_alarm) — the full per-point score
    path of a SequentialChangeDetector (or only the alarm rows).
    ``standardize=True`` z-scores each key's series per column first (see
    :func:`zscore_per_key` — the reference assumes ~unit-variance input);
    default False is reference-exact raw semantics."""
    schema = StructType(
        _key_fields(df, key_cols)
        + [
            _ts_field(df, ts_col, "ts"),
            StructField("penalised_score", DoubleType(), True),
            StructField("is_alarm", BooleanType(), True),
        ]
    )

    def run(key, arrays):
        detector = detector_factory()
        vals = _values(arrays, value_cols)
        if standardize:
            vals = zscore_per_key(vals)
        detector.fit(vals, times=arrays[ts_col])
        times = detector.times_
        is_alarm = np.isin(times, np.asarray(detector.alarms_, dtype=times.dtype))
        out = {
            "ts": times,
            "penalised_score": detector.penalised_scores_,
            "is_alarm": is_alarm,
        }
        if alarms_only:
            out = {c: a[is_alarm] for c, a in out.items()}
        return out

    return grouped_apply(df, key_cols, [ts_col, *value_cols], run, schema,
                         num_partitions)


def pelt_segments(
    df: DataFrame,
    detector_factory: Callable,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_col: str = "value",
    num_partitions: int | None = None,
    standardize: bool = False,
) -> DataFrame:
    """(keys..., start_ts, end_ts, size) — optimal-partitioning segments from
    the online Pelt detector; segments are emitted in ascending start order
    (the reference's descending changepoints_ quirk is a list-order artifact,
    preserved in the kernel, normalized here for relational consumption).
    ``standardize=True`` z-scores each key's series first — the reference's
    Pelt docs assume standardized input (reference pelt/pelt.py:12)."""
    schema = StructType(
        _key_fields(df, key_cols)
        + [
            _ts_field(df, ts_col, "start_ts"),
            _ts_field(df, ts_col, "end_ts"),
            StructField("size", LongType(), True),
        ]
    )

    def run(key, arrays):
        detector = detector_factory()
        vals = _values(arrays, [value_col])
        if standardize:
            vals = zscore_per_key(vals)
        detector.fit(vals, times=arrays[ts_col])
        return [
            {"start_ts": s["start"], "end_ts": s["end"], "size": s["size"]}
            for s in sorted(detector.segments_, key=lambda s: s["start"])
        ]

    return grouped_apply(df, key_cols, [ts_col, value_col], run, schema,
                         num_partitions)


def capa_anomalies(
    df: DataFrame,
    detector_factory: Callable,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_col: str = "value",
    num_partitions: int | None = None,
    standardize: bool = False,
) -> DataFrame:
    """(keys..., start_ts, end_ts, size, kind) with kind in
    {'collective', 'point'}. ``standardize=True`` z-scores each key's
    series first — the reference's Capa docs assume standardized input
    (reference capa/capa.py:12)."""
    schema = StructType(
        _key_fields(df, key_cols)
        + [
            _ts_field(df, ts_col, "start_ts"),
            _ts_field(df, ts_col, "end_ts"),
            StructField("size", LongType(), True),
            StructField("kind", StringType(), True),
        ]
    )

    def run(key, arrays):
        detector = detector_factory()
        vals = _values(arrays, [value_col])
        if standardize:
            vals = zscore_per_key(vals)
        detector.fit(vals, times=arrays[ts_col])
        rows = [
            {"start_ts": a["start"], "end_ts": a["end"], "size": a["size"], "kind": kind}
            for kind, found in (
                ("collective", detector.collective_anomalies_),
                ("point", detector.point_anomalies_),
            )
            for a in found
        ]
        rows.sort(key=lambda r: r["start_ts"])
        return rows

    return grouped_apply(df, key_cols, [ts_col, value_col], run, schema,
                         num_partitions)


def offline_pelt_segments(
    df: DataFrame,
    detector_factory: Callable,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_cols: Sequence[str] = ("value",),
    num_partitions: int | None = None,
    standardize: bool = False,
) -> DataFrame:
    """(keys..., start_ts, end_ts, size) from the pruned offline PELT; the
    whole per-key series is segmented at once (positions map back to the
    sorted time index). ``standardize=True`` z-scores each key's series
    per column first (see :func:`zscore_per_key`)."""
    schema = StructType(
        _key_fields(df, key_cols)
        + [
            _ts_field(df, ts_col, "start_ts"),
            _ts_field(df, ts_col, "end_ts"),
            StructField("size", LongType(), True),
        ]
    )

    def run(key, arrays):
        times = arrays[ts_col]
        detector = detector_factory()
        vals = _values(arrays, value_cols)
        if standardize:
            vals = zscore_per_key(vals)
        detector.fit(vals)
        return [
            {"start_ts": times[s["start"]], "end_ts": times[s["end"]], "size": s["size"]}
            for s in detector.segments_
        ]

    return grouped_apply(df, key_cols, [ts_col, *value_cols], run, schema,
                         num_partitions)


def segmentation_with_stats(
    df: DataFrame,
    detector_factory: Callable,
    stat_factory: Callable,
    stat_names: Sequence[str],
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_col: str = "value",
    num_partitions: int | None = None,
) -> DataFrame:
    """fit_segmentation as an operator: (keys..., start_ts, end_ts,
    <stat columns...>) — change points plus per-segment running statistics in
    one scan (parity: conveniences/fit_segmentation.py:8-38)."""
    schema = StructType(
        _key_fields(df, key_cols)
        + [_ts_field(df, ts_col, "start_ts"), _ts_field(df, ts_col, "end_ts")]
        + [StructField(name, DoubleType(), True) for name in stat_names]
    )

    def run(key, arrays):
        times = arrays[ts_col]
        segments = _fit_segmentation(
            detector_factory(), stat_factory(), _values(arrays, [value_col])
        )
        return [
            {
                "start_ts": times[s["start"]],
                "end_ts": times[s["end"]],
                **{name: float(s[name]) for name in stat_names},
            }
            for s in segments
        ]

    return grouped_apply(df, key_cols, [ts_col, value_col], run, schema,
                         num_partitions)
