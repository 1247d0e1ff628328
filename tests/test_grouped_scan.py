"""The grouped scan (operators/_grouped.grouped_apply) and what every
operator built on it inherits from it: one (keys, cols) order per key,
keys attached by the scan, and a Python stage that stays n tasks wide."""

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from streamchange_spark.kernels import (
    BIC,
    CUSUM,
    LordenPollakScore,
    SequentialChangeDetector,
    WindowSegmentor,
)
from streamchange_spark.operators import (
    compress_series,
    sequential_scores,
    sketch_rollup,
    sketch_tier,
    window_segmentor_changepoints,
)
from streamchange_spark.operators._grouped import grouped_apply


def test_grouped_apply_slices_each_key_in_cols_order(spark):
    """run_one sees each key once, with its arrays sorted by cols (ties on
    the first col broken by the next); null keys form one group; both
    return shapes get the key columns attached."""
    rows = [("a", 2, 5.0), ("b", 1, 1.0), ("a", 1, 9.0), (None, 3, 0.0),
            ("a", 2, 4.0), (None, 1, 2.0), ("b", 0, 7.0)]
    df = spark.createDataFrame(rows, "k string, t long, v double").repartition(3)
    schema = StructType([
        StructField("k", StringType()), StructField("t", LongType()),
        StructField("v", DoubleType()),
    ])

    def as_columns(key, arrays):
        return {"t": arrays["t"], "v": arrays["v"]}

    def as_rows(key, arrays):
        return [{"t": int(t), "v": float(v)} for t, v in zip(arrays["t"], arrays["v"])]

    expected = {
        "a": [(1, 9.0), (2, 4.0), (2, 5.0)],
        "b": [(0, 7.0), (1, 1.0)],
        None: [(1, 2.0), (3, 0.0)],
    }
    for run_one in (as_columns, as_rows):
        got = grouped_apply(df, ["k"], ["t", "v"], run_one, schema, 2).toPandas()
        per_key = {}
        for k, t, v in got.itertuples(index=False):
            per_key.setdefault(None if pd.isna(k) else k, []).append((t, v))
        assert per_key == expected, run_one.__name__


def _duplicate_ts_layouts(spark):
    """One key whose timestamps repeat with different values, in two row
    orders that reach the Python worker unchanged."""
    rng = np.random.RandomState(5)
    base = datetime(2024, 1, 1)
    rows = []
    for i in range(60):
        level = 0.0 if i < 30 else 6.0
        rows.append(("a", base + timedelta(minutes=i), level + float(rng.randn())))
        if i % 7 == 3:  # a second, far-off value at the same ts
            rows.append(("a", base + timedelta(minutes=i), level + 4.0 * float(rng.randn())))
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    one = df.repartition(1)
    layouts = [one.sortWithinPartitions("value"), one.sortWithinPartitions(F.desc("value"))]
    pdf = pd.DataFrame(rows, columns=["key", "ts", "value"]).sort_values(
        ["ts", "value"], ignore_index=True
    )
    return layouts, pdf


@pytest.mark.parametrize("op", ["sequential_scores", "window_segmentor_changepoints"])
def test_duplicate_ts_ties_break_on_value(spark, op):
    """Rows sharing (key, ts) reach the kernel in value order whatever
    order the shuffle delivered them in."""
    layouts, pdf = _duplicate_ts_layouts(spark)
    times = pdf["ts"].to_numpy(dtype="datetime64[ns]")
    values = pdf["value"].to_numpy()
    if op == "sequential_scores":
        factory = lambda: SequentialChangeDetector(LordenPollakScore(rho=1.0).penalise(20.0))
        oracle = factory().fit(values, times=times)
        expected = list(zip(oracle.times_, oracle.penalised_scores_))
        cols = ["ts", "penalised_score"]
    else:
        factory = lambda: WindowSegmentor(CUSUM(penalty=BIC(scale=2.0)), 4, 100)
        oracle = factory()
        oracle.fit(values, times=times)
        expected = sorted(oracle.detections_)
        assert expected
        cols = ["detection_ts", "changepoint_ts"]
    run = sequential_scores if op == "sequential_scores" else window_segmentor_changepoints
    for d in layouts:
        got = run(d, factory, ["key"], "ts", ["value"], num_partitions=2).toPandas()
        got = sorted(zip(*(got[c].to_numpy() for c in cols)))
        assert got == sorted(expected)


def _per_key_events(spark):
    """40 keys x 30 hourly points, aggregated on the key alone, so the
    input arrives hash-partitioned by key with a small shuffle AQE would
    coalesce."""
    rng = np.random.RandomState(11)
    rows = [
        (f"k{k}", datetime(2024, 1, 1) + timedelta(hours=int(h)), float(v))
        for k in range(40)
        for h, v in zip(np.sort(rng.choice(96, 30, replace=False)), rng.normal(0.0, 1.0, 30))
    ]
    events = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    return events.groupBy("key").agg(
        F.collect_list(F.struct("ts", "value")).alias("pts")
    ).select("key", F.inline("pts"))


@pytest.mark.parametrize("op", ["compress_series", "sketch_tier", "sketch_rollup"])
def test_grouped_stage_runs_wide_under_aqe(spark, op):
    """The former private partition loops keep an n-way Python stage when
    fed by an aggregate on their own keys. The final stage's partition
    count is read after AQE re-planned it."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    n = spark.sparkContext.defaultParallelism
    per_key = _per_key_events(spark)
    if op == "compress_series":
        out = compress_series(per_key, ["key"], "ts", "value")
    elif op == "sketch_tier":
        out = sketch_tier(per_key, ["key"], "ts", "value", "1d")
    else:
        tier = sketch_tier(per_key, ["key"], "ts", "value", "1h")
        hourly = tier.groupBy("key", "bucket_start").agg(
            F.sum("n_points").alias("n_points"), F.first("qsketch").alias("qsketch")
        )
        out = sketch_rollup(hourly, ["key"], "1d")
    assert out.count() > 0
    assert out.rdd.getNumPartitions() >= n
