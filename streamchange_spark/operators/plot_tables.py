"""Figure-ready result tables — the engine-side substitute for the
reference's plotly sinks (streamchange/plot/time_series_figure.py:5-93,
multivariate_time_series_figure.py:8-117; plotly is absent offline).

One row per observation with everything those figures draw: the raw value
(make_raw_data_trace), the segment mean (make_mean_trace), change-point
markers (add_highlighted_values), and a confidence band around the segment
mean (make_confidence_band_traces). A thin plotly layer on a real cluster
turns this table into the reference's figures with no further computation;
the multivariate figure is this table per dimension column.
"""

from __future__ import annotations

from statistics import NormalDist
from typing import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ._grouped import grouped_apply


def _segment_arrays(v, times, cpt_ts):
    """Per-observation (segment_mean, segment_std, is_cpt) given change
    points at timestamps ``cpt_ts`` (a change point ENDS its segment, the
    reference convention)."""
    ends = np.searchsorted(times, np.asarray(cpt_ts))  # segment end idx
    bounds = [0, *[int(e) + 1 for e in ends], len(v)]
    seg_mean = np.empty(len(v))
    seg_std = np.empty(len(v))
    is_cpt = np.zeros(len(v), dtype=bool)
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        if hi <= lo:
            continue
        seg = v[lo:hi]
        seg_mean[lo:hi] = seg.mean()
        seg_std[lo:hi] = seg.std(ddof=1) if hi - lo > 1 else 0.0
    is_cpt[ends[ends < len(v)]] = True
    return seg_mean, seg_std, is_cpt


def figure_table(
    df: DataFrame,
    detector_factory: Callable,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_col: str = "value",
    confidence: float = 0.95,
    num_partitions: int | None = None,
) -> DataFrame:
    """(keys..., ts, value, segment_mean, is_cpt, band_lo, band_hi).

    Segments come from the detector's change points (a change point is the
    END of a segment, the reference convention); ``segment_mean`` is the
    mean of the containing segment's values, the band is
    mean +- z * sample_std (z from ``confidence``; std 0 for 1-point
    segments), ``is_cpt`` marks segment-end rows."""
    by_name = {f.name: f for f in df.schema.fields}
    schema = StructType(
        [StructField(c, by_name[c].dataType, True) for c in key_cols]
        + [
            StructField("ts", by_name[ts_col].dataType, True),
            StructField("value", DoubleType(), True),
            StructField("segment_mean", DoubleType(), True),
            StructField("is_cpt", BooleanType(), True),
            StructField("band_lo", DoubleType(), True),
            StructField("band_hi", DoubleType(), True),
        ]
    )
    z = NormalDist().inv_cdf(0.5 + confidence / 2.0)

    def run(key, arrays):
        v = np.asarray(arrays[value_col], dtype=np.float64)
        times = arrays[ts_col]
        detector = detector_factory()
        detector.fit(v, times=times)
        cpt_ts = sorted({c for _, c in detector.detections_})
        seg_mean, seg_std, is_cpt = _segment_arrays(v, times, cpt_ts)
        return {
            "ts": times,
            "value": v,
            "segment_mean": seg_mean,
            "is_cpt": is_cpt,
            "band_lo": seg_mean - z * seg_std,
            "band_hi": seg_mean + z * seg_std,
        }

    return grouped_apply(df, key_cols, [ts_col, value_col], run, schema, num_partitions)


def figure_table_multivariate(
    df: DataFrame,
    detector_factory: Callable,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_cols: Sequence[str] = ("value",),
    confidence: float = 0.95,
    num_partitions: int | None = None,
) -> DataFrame:
    """(keys..., dim, ts, value, segment_mean, is_cpt, band_lo, band_hi) —
    the data behind the reference's MultivariateTimeSeriesFigure (one
    subplot per dimension, multivariate_time_series_figure.py:8-117): each
    dimension gets its own univariate figure table tagged with the source
    column name, all in one union plan (the shared scan is reused)."""
    from functools import reduce

    parts = []
    for col in value_cols:
        t = figure_table(
            df, detector_factory, key_cols, ts_col, col, confidence,
            num_partitions,
        )
        parts.append(t.select(*key_cols, F.lit(col).alias("dim"), *[
            f.name for f in t.schema.fields if f.name not in key_cols
        ]))
    return reduce(lambda a, b: a.unionAll(b), parts)


def figure_frames(
    df: DataFrame,
    detector_factory: Callable,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_col: str = "value",
    confidence: float = 0.95,
    max_frames: int = 50,
    num_partitions: int | None = None,
) -> DataFrame:
    """Animation/slider data twin (reference ``plot/utils.py:4-89``,
    ``animation_from_figures``): one ``figure_table`` snapshot per detection
    step, tagged with ``frame_id``/``frame_ts``. Frame k shows the stream as
    it looked when the k-th detection FIRED — observations with
    ts <= detection time, change points *detected* by then (a jumpback
    detector marks a change point in the past of its detection time, so the
    marker can trail the frame edge) — plus one final frame with the whole
    series and every detection. Feeding each frame_id group to the
    reference's per-figure builders and the groups to
    ``animation_from_figures`` reproduces its slider demo exactly.

    Row count is bounded: at most ``max_frames`` frames per key (detection
    steps are evenly subsampled, the final frame always kept), each at most
    the key's full series — never unbounded in the number of detections.
    """
    by_name = {f.name: f for f in df.schema.fields}
    schema = StructType(
        [StructField(c, by_name[c].dataType, True) for c in key_cols]
        + [
            StructField("frame_id", LongType(), True),
            StructField("frame_ts", by_name[ts_col].dataType, True),
            StructField("ts", by_name[ts_col].dataType, True),
            StructField("value", DoubleType(), True),
            StructField("segment_mean", DoubleType(), True),
            StructField("is_cpt", BooleanType(), True),
            StructField("band_lo", DoubleType(), True),
            StructField("band_hi", DoubleType(), True),
        ]
    )
    z = NormalDist().inv_cdf(0.5 + confidence / 2.0)

    def run(key, arrays):
        v = np.asarray(arrays[value_col], dtype=np.float64)
        times = arrays[ts_col]
        detector = detector_factory()
        detector.fit(v, times=times)
        # steps = detection times (when each change became KNOWN), in replay
        # order; the final full-series frame is always a step.
        det = sorted(detector.detections_)
        step_ts = [d for d, _ in det]
        if not step_ts or step_ts[-1] != times[-1]:
            step_ts.append(times[-1])
        if len(step_ts) > max_frames:
            keep = np.unique(
                np.linspace(0, len(step_ts) - 1, max_frames).round().astype(int)
            )
            step_ts = [step_ts[i] for i in keep]
        outs = []
        for frame_id, f_ts in enumerate(step_ts):
            end = int(np.searchsorted(times, f_ts, side="right"))
            known = sorted({c for d, c in det if d <= f_ts})
            seg_mean, seg_std, is_cpt = _segment_arrays(
                v[:end], times[:end], known
            )
            outs.append(
                {
                    "frame_id": np.full(end, frame_id, dtype=np.int64),
                    "frame_ts": np.repeat(f_ts, end),
                    "ts": times[:end],
                    "value": v[:end],
                    "segment_mean": seg_mean,
                    "is_cpt": is_cpt,
                    "band_lo": seg_mean - z * seg_std,
                    "band_hi": seg_mean + z * seg_std,
                }
            )
        return {c: np.concatenate([o[c] for o in outs]) for c in outs[0]}

    return grouped_apply(df, key_cols, [ts_col, value_col], run, schema, num_partitions)
