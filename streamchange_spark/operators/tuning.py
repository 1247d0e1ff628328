"""Penalty tuning as a Spark fan-out.

The reference tunes with an optuna GridSampler driven by a thread pool
(tuners.py:163-169) — embarrassingly parallel trials. Here the grid fans out
as data: crossJoin(series-keys x penalty scales) -> one grouped-map UDF
evaluates each (key, scale) trial with the exact kernel -> per-key detection
counts come back as a small table; the selection rule (closest to target,
optional interpolation) runs on those counts driver-side via the same kernel
code the serial tuner uses.

At scale this is one shuffle of (key, scale) tasks across the cluster, with
the series rows replicated once per scale — the classic trade of compute
balance vs input duplication; for tuning grids (10-100 scales) on per-key
series (<=1e5 rows) the duplication is cheap and every executor core stays
busy.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..kernels.tuners import GridPenaltyTuner
from ._grouped import grouped_apply
from .detect import _values


def grid_detection_counts(
    df: DataFrame,
    detector_factory: Callable,
    penalty_scales: Sequence[float],
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_cols: Sequence[str] = ("value",),
) -> DataFrame:
    """(keys..., penalty_scale, detection_count): one detector run per
    (key, scale) pair, all pairs in one Spark job."""
    by_name = {f.name: f for f in df.schema.fields}
    schema = StructType(
        [StructField(c, by_name[c].dataType, True) for c in key_cols]
        + [
            StructField("penalty_scale", DoubleType(), True),
            StructField("detection_count", LongType(), True),
        ]
    )
    scales_df = df.sparkSession.createDataFrame(
        [(float(s),) for s in penalty_scales], "penalty_scale double"
    )
    fanned = df.crossJoin(F.broadcast(scales_df))

    def run(key, arrays):
        detector = detector_factory()
        detector.get_penalty().scale = float(key[-1])
        return [{"detection_count": len(detector.fit_predict(_values(arrays, value_cols)))}]

    return grouped_apply(
        fanned, [*key_cols, "penalty_scale"], [ts_col, *value_cols], run, schema
    )


def tune_penalty_scales(
    df: DataFrame,
    detector_factory: Callable,
    target_detections: int,
    penalty_scales: Sequence[float],
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_cols: Sequence[str] = ("value",),
    interpolate: bool = True,
) -> pd.DataFrame:
    """Per-key tuned penalty scale: run the grid on the cluster, then apply
    the kernel GridPenaltyTuner's selection rule to each key's counts.
    Returns a pandas frame (keys..., penalty_scale_) — a small result, one
    row per key."""
    counts = grid_detection_counts(
        df, detector_factory, penalty_scales, key_cols, ts_col, value_cols
    ).toPandas()
    rows = []
    for keys, sub in counts.groupby(list(key_cols)):
        keys = keys if isinstance(keys, tuple) else (keys,)
        tuner = GridPenaltyTuner(
            detector_factory(),
            target_detections=target_detections,
            penalty_scales=np.asarray(penalty_scales, dtype=float),
            interpolate=interpolate,
            refit=False,
        )
        mapping = dict(zip(sub["penalty_scale"], sub["detection_count"]))
        # Selection only — the counts were computed on the cluster.
        tuner.fit(np.zeros(max(target_detections + 1, 2)), counts=mapping)
        rows.append({**dict(zip(key_cols, keys)), "penalty_scale_": tuner.penalty_scale_})
    return pd.DataFrame(rows)
