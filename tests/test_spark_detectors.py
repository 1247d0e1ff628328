"""Spark detector operators == pure-NumPy oracle, per key, exactly.

Builds a multi-key series table from the reference fixtures, runs each
operator through Spark (applyInPandas path: Arrow, shuffles, schema), and
asserts the collected output equals a driver-side run of the same kernel.
"""

import numpy as np
import pandas as pd
import pytest

from streamchange_spark.kernels import (
    BIC,
    CUSUM,
    Capa,
    ConstMeanL2,
    L2Cost,
    LordenPollakScore,
    Mean,
    OfflinePelt,
    Pelt,
    SequentialChangeDetector,
    StatBuffer,
    StatUnion,
    WindowSegmentor,
    simulate,
)
from streamchange_spark.operators import (
    capa_anomalies,
    offline_pelt_segments,
    pelt_segments,
    segmentation_with_stats,
    sequential_scores,
    window_segmentor_changepoints,
)

FIXTURES = {
    "step-100": dict(means=[0, 30], seg_lens=[100], p=1, seed=2),
    "updown-100": dict(means=[0, 10, 0], seg_lens=[100], p=1, seed=5),
    "many-steps-20": dict(
        means=[0, 10, 0, 20, 0, 1, 0, 3, 5, 0, 4], seg_lens=[20], p=1, seed=34
    ),
    "nochange": dict(means=[0], seg_lens=[200], p=1, seed=145),
}


@pytest.fixture(scope="module")
def series_df(spark):
    frames = []
    for key, kw in FIXTURES.items():
        x = simulate(**kw)[:, 0]
        frames.append(pd.DataFrame({"key": key, "t": np.arange(x.size), "value": x}))
    pdf = pd.concat(frames, ignore_index=True)
    # Shuffle row order on purpose: operators must sort per key themselves.
    pdf = pdf.sample(frac=1.0, random_state=0)
    return spark.createDataFrame(pdf)


def test_window_segmentor_matches_oracle(series_df):
    factory = lambda: WindowSegmentor(CUSUM(penalty=BIC(scale=10)), 4, 100)
    got = (
        window_segmentor_changepoints(
            series_df, factory, key_cols=["key"], ts_col="t", value_cols=["value"]
        )
        .toPandas()
        .sort_values(["key", "changepoint_ts"])
        .reset_index(drop=True)
    )
    for key, kw in FIXTURES.items():
        x = simulate(**kw)[:, 0]
        oracle = factory()
        oracle.fit(x)
        expected = sorted(int(c) for _, c in oracle.detections_)
        actual = sorted(got.loc[got.key == key, "changepoint_ts"].astype(int))
        assert actual == expected, key
    # The pinned fixture: step-100 detects exactly [99].
    assert sorted(got.loc[got.key == "step-100", "changepoint_ts"].astype(int)) == [99]


def test_sequential_scores_match_oracle(series_df):
    factory = lambda: SequentialChangeDetector(
        LordenPollakScore(rho=1.0).penalise(20.0), reset_on_change=True, restart_delay=5
    )
    got = sequential_scores(
        series_df, factory, key_cols=["key"], ts_col="t", value_cols=["value"]
    ).toPandas()
    for key, kw in FIXTURES.items():
        x = simulate(**kw)[:, 0]
        oracle = factory()
        oracle.fit(x)
        sub = got[got.key == key].sort_values("ts")
        assert np.array_equal(sub["penalised_score"].to_numpy(), oracle.penalised_scores_)
        assert sorted(sub.loc[sub.is_alarm, "ts"].astype(int)) == sorted(
            int(a) for a in oracle.alarms_
        )


def test_pelt_segments_match_oracle(series_df):
    factory = lambda: Pelt(L2Cost(), minsl=2, maxsl=10000)
    got = pelt_segments(
        series_df, factory, key_cols=["key"], ts_col="t", value_col="value"
    ).toPandas()
    for key, kw in FIXTURES.items():
        x = simulate(**kw)[:, 0]
        oracle = factory().fit(x)
        expected = sorted(
            (int(s["start"]), int(s["end"]), int(s["size"])) for s in oracle.segments_
        )
        sub = got[got.key == key]
        actual = sorted(zip(sub.start_ts.astype(int), sub.end_ts.astype(int), sub["size"]))
        assert actual == expected, key


def test_capa_matches_oracle(series_df):
    factory = lambda: Capa(ConstMeanL2(), minsl=2, maxsl=1000, predict_point_anomalies=True)
    got = capa_anomalies(
        series_df, factory, key_cols=["key"], ts_col="t", value_col="value"
    ).toPandas()
    for key, kw in FIXTURES.items():
        x = simulate(**kw)[:, 0]
        oracle = factory().fit(x)
        expected = sorted(
            [("collective", int(a["start"]), int(a["end"])) for a in oracle.collective_anomalies_]
            + [("point", int(a["start"]), int(a["end"])) for a in oracle.point_anomalies_]
        )
        sub = got[got.key == key]
        actual = sorted(zip(sub.kind, sub.start_ts.astype(int), sub.end_ts.astype(int)))
        assert actual == expected, key


def test_offline_pelt_matches_oracle(series_df):
    factory = lambda: OfflinePelt(minsl=2)
    got = offline_pelt_segments(
        series_df, factory, key_cols=["key"], ts_col="t", value_cols=["value"]
    ).toPandas()
    for key, kw in FIXTURES.items():
        x = simulate(**kw)
        oracle = factory().fit(x)
        expected = sorted((int(s["start"]), int(s["end"])) for s in oracle.segments_)
        sub = got[got.key == key]
        actual = sorted(zip(sub.start_ts.astype(int), sub.end_ts.astype(int)))
        assert actual == expected, key


def test_segmentation_with_stats_matches_oracle(series_df):
    det_factory = lambda: WindowSegmentor(CUSUM(20), 5, 100)
    stat_factory = lambda: StatUnion({"mean": StatBuffer(Mean())}, int(1e5))
    got = segmentation_with_stats(
        series_df,
        det_factory,
        stat_factory,
        stat_names=["mean"],
        key_cols=["key"],
        ts_col="t",
        value_col="value",
    ).toPandas()
    from streamchange_spark.kernels import fit_segmentation

    for key, kw in FIXTURES.items():
        x = simulate(**kw)[:, 0]
        oracle = fit_segmentation(det_factory(), stat_factory(), x)
        expected = sorted((int(s["start"]), int(s["end"]), s["mean"]) for s in oracle)
        sub = got[got.key == key]
        actual = sorted(zip(sub.start_ts.astype(int), sub.end_ts.astype(int), sub["mean"]))
        assert len(actual) == len(expected), key
        for a, e in zip(actual, expected):
            assert a[0] == e[0] and a[1] == e[1] and a[2] == pytest.approx(e[2], abs=0), key


def test_multivariate_sequential_matches_oracle(spark):
    """AggregatedScore (p=3) through the Spark operator == kernel run."""
    from streamchange_spark.kernels import AggregatedScore

    frames = []
    for key, seed in (("a", 11), ("b", 17)):
        x = simulate(means=[0, 8, 0], seg_lens=[80], p=3, seed=seed)
        frames.append(
            pd.DataFrame(
                {"key": key, "t": np.arange(x.shape[0]),
                 "v1": x[:, 0], "v2": x[:, 1], "v3": x[:, 2]}
            )
        )
    pdf = pd.concat(frames, ignore_index=True).sample(frac=1.0, random_state=1)
    df = spark.createDataFrame(pdf)

    factory = lambda: SequentialChangeDetector(
        AggregatedScore(LordenPollakScore(rho=1.0)).penalise(60.0),
        reset_on_change=True,
        restart_delay=3,
    )
    got = (
        sequential_scores(
            df, factory, key_cols=["key"], ts_col="t",
            value_cols=["v1", "v2", "v3"],
        )
        .toPandas()
        .sort_values(["key", "ts"])
        .reset_index(drop=True)
    )
    for key in ("a", "b"):
        sub = pdf[pdf.key == key].sort_values("t")
        det = factory()
        det.fit(sub[["v1", "v2", "v3"]].to_numpy(), times=sub["t"].to_numpy())
        g = got[got.key == key]
        assert np.array_equal(g["ts"].to_numpy(), np.asarray(det.times_))
        assert np.array_equal(
            g["penalised_score"].to_numpy(), np.asarray(det.penalised_scores_)
        )
        assert set(g[g["is_alarm"]]["ts"]) == set(det.alarms_)


def test_figure_table_matches_pandas_recomputation(spark):
    """figure_table (plot-sink substitute) == a direct pandas recomputation
    of segment means, bands, and cpt markers from the same detector."""
    from statistics import NormalDist

    from streamchange_spark.kernels import BIC, CUSUM, WindowSegmentor, simulate
    from streamchange_spark.operators import figure_table

    frames = []
    for key, seed in [("a", 1), ("b", 2)]:
        x = simulate([0, 20, -5], [80], p=1, seed=seed)[:, 0]
        frames.append(
            pd.DataFrame(
                {
                    "key": key,
                    "ts": pd.to_datetime(
                        1_704_067_200 + 3600 * np.arange(x.size), unit="s"
                    ),
                    "value": x,
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf)
    factory = lambda: WindowSegmentor(CUSUM(penalty=BIC(scale=5.0)), 4, 100)
    got = (
        figure_table(df, factory, ["key"], "ts", "value", confidence=0.9)
        .toPandas()
        .sort_values(["key", "ts"])
        .reset_index(drop=True)
    )
    z = NormalDist().inv_cdf(0.5 + 0.9 / 2)
    for key, sub in pdf.groupby("key"):
        sub = sub.sort_values("ts").reset_index(drop=True)
        det = factory()
        det.fit(sub["value"].to_numpy(), times=sub["ts"].to_numpy())
        cpts = sorted({c for _, c in det.detections_})
        idx = np.searchsorted(sub["ts"].to_numpy(), np.asarray(cpts))
        bounds = [0, *[int(i) + 1 for i in idx], len(sub)]
        g = got[got.key == key].reset_index(drop=True)
        assert len(g) == len(sub)
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            seg = sub["value"].iloc[lo:hi]
            assert np.allclose(g["segment_mean"].iloc[lo:hi], seg.mean())
            sd = seg.std(ddof=1) if len(seg) > 1 else 0.0
            assert np.allclose(g["band_hi"].iloc[lo:hi], seg.mean() + z * sd)
        assert set(np.flatnonzero(g["is_cpt"].to_numpy())) == set(int(i) for i in idx)


def test_grouped_apply_skewed_keys(spark):
    """Zipf-shaped skew: one hot key with 60k points next to 500 ten-point
    cold keys. The grouped scan must produce exactly the serial kernel's
    result for BOTH extremes (hot keys may not be split across partition
    fragments; cold keys may not be lost to coalescing)."""
    from streamchange_spark.kernels import BIC, CUSUM, WindowSegmentor, simulate
    from streamchange_spark.operators import window_segmentor_changepoints

    rng = np.random.RandomState(8)
    hot = simulate([0, 15, 0, -15], [15000], p=1, seed=3)[:, 0]
    frames = [
        pd.DataFrame(
            {
                "key": "hot",
                "ts": pd.to_datetime(1_704_067_200 + 60 * np.arange(hot.size), unit="s"),
                "value": hot,
            }
        )
    ]
    for k in range(500):
        frames.append(
            pd.DataFrame(
                {
                    "key": f"cold_{k}",
                    "ts": pd.to_datetime(
                        1_704_067_200 + 3600 * np.arange(10), unit="s"
                    ),
                    "value": rng.randn(10),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf.sample(frac=1.0, random_state=1))  # shuffle rows
    factory = lambda: WindowSegmentor(CUSUM(penalty=BIC(scale=8.0)), 4, 100)
    got = window_segmentor_changepoints(
        df, factory, ["key"], "ts", ["value"], num_partitions=16
    ).toPandas()

    # hot key: exact match vs serial kernel
    det = factory()
    det.fit(hot, times=frames[0]["ts"].to_numpy())
    exp = sorted(pd.Timestamp(c) for _, c in det.detections_)
    assert sorted(got[got.key == "hot"]["changepoint_ts"]) == exp
    assert len(exp) >= 3  # the fixture has 3 big changes
    # cold keys: no duplicated/partial groups — each key's detections equal
    # the serial kernel (spot-check a few) and no key appears with rows that
    # a duplicate partial run would produce
    for k in ("cold_0", "cold_250", "cold_499"):
        sub = pdf[pdf.key == k].sort_values("ts")
        det = factory()
        det.fit(sub["value"].to_numpy(), times=sub["ts"].to_numpy())
        exp_k = sorted(pd.Timestamp(c) for _, c in det.detections_)
        assert sorted(got[got.key == k]["changepoint_ts"]) == exp_k


def test_figure_table_multivariate_tags_dimensions(spark):
    from streamchange_spark.kernels import BIC, CUSUM, WindowSegmentor, simulate
    from streamchange_spark.operators import figure_table, figure_table_multivariate

    x = simulate([0, 10], [60], p=2, seed=4)
    pdf = pd.DataFrame(
        {
            "key": "k",
            "ts": pd.to_datetime(1_704_067_200 + 3600 * np.arange(x.shape[0]), unit="s"),
            "v1": x[:, 0],
            "v2": x[:, 1],
        }
    )
    df = spark.createDataFrame(pdf)
    factory = lambda: WindowSegmentor(CUSUM(penalty=BIC(scale=5.0)), 4, 100)
    mv = figure_table_multivariate(
        df, factory, ["key"], "ts", ["v1", "v2"]
    ).toPandas()
    assert set(mv["dim"]) == {"v1", "v2"}
    assert len(mv) == 2 * len(pdf)
    # each dim slice equals its univariate table
    uni = figure_table(df, factory, ["key"], "ts", "v1").toPandas()
    got = mv[mv.dim == "v1"].drop(columns="dim").sort_values("ts").reset_index(drop=True)
    assert np.allclose(got["segment_mean"], uni.sort_values("ts")["segment_mean"])


def test_figure_frames_replays_detection_evolution(spark):
    """figure_frames (animation_from_figures data twin, reference
    plot/utils.py:4-89): each frame is the figure_table state at one
    detection time — verified against an independent serial replay — and
    the final frame equals figure_table on the full series."""
    from statistics import NormalDist

    from streamchange_spark.kernels import BIC, CUSUM, WindowSegmentor, simulate
    from streamchange_spark.operators import figure_frames, figure_table

    frames = []
    for key, seed in [("a", 1), ("b", 2)]:
        x = simulate([0, 20, -5, 15], [70], p=1, seed=seed)[:, 0]
        frames.append(
            pd.DataFrame(
                {
                    "key": key,
                    "ts": pd.to_datetime(
                        1_704_067_200 + 3600 * np.arange(x.size), unit="s"
                    ),
                    "value": x,
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf)
    factory = lambda: WindowSegmentor(CUSUM(penalty=BIC(scale=5.0)), 4, 100)
    got = figure_frames(
        df, factory, ["key"], "ts", "value", confidence=0.9
    ).toPandas()
    full = figure_table(df, factory, ["key"], "ts", "value", confidence=0.9).toPandas()
    z = NormalDist().inv_cdf(0.5 + 0.9 / 2)

    for key, sub in pdf.groupby("key"):
        sub = sub.sort_values("ts").reset_index(drop=True)
        det = factory()
        det.fit(sub["value"].to_numpy(), times=sub["ts"].to_numpy())
        detections = sorted(
            (pd.Timestamp(d), pd.Timestamp(c)) for d, c in det.detections_
        )
        assert len(detections) >= 2  # fixture has 3 big level shifts
        g = got[got.key == key]
        # one frame per detection + the final frame
        exp_steps = [d for d, _ in detections]
        if exp_steps[-1] != sub["ts"].iloc[-1]:
            exp_steps.append(sub["ts"].iloc[-1])
        assert sorted(set(g["frame_ts"])) == exp_steps
        assert g["frame_id"].nunique() == len(exp_steps)
        # independent replay of every frame
        for fid, f_ts in enumerate(exp_steps):
            fr = g[g.frame_id == fid].sort_values("ts").reset_index(drop=True)
            assert fr["frame_ts"].iloc[0] == f_ts
            vis = sub[sub["ts"] <= f_ts].reset_index(drop=True)
            assert np.array_equal(fr["ts"].to_numpy(), vis["ts"].to_numpy())
            known = sorted({c for d, c in detections if d <= f_ts})
            idx = np.searchsorted(
                vis["ts"].to_numpy(), np.array(known, dtype="datetime64[ns]")
            )
            bounds = [0, *[int(i) + 1 for i in idx], len(vis)]
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                seg = vis["value"].iloc[lo:hi]
                assert np.allclose(fr["segment_mean"].iloc[lo:hi], seg.mean())
                sd = seg.std(ddof=1) if len(seg) > 1 else 0.0
                assert np.allclose(fr["band_lo"].iloc[lo:hi], seg.mean() - z * sd)
            assert set(np.flatnonzero(fr["is_cpt"].to_numpy())) == set(
                int(i) for i in idx
            )
        # final frame == figure_table on the full series
        last = g[g.frame_id == g["frame_id"].max()].sort_values("ts")
        fl = full[full.key == key].sort_values("ts")
        for col in ("segment_mean", "band_lo", "band_hi"):
            assert np.allclose(last[col].to_numpy(), fl[col].to_numpy())
        assert np.array_equal(last["is_cpt"].to_numpy(), fl["is_cpt"].to_numpy())


def test_figure_frames_max_frames_subsamples(spark):
    """max_frames bounds the per-key frame count; the final frame survives
    subsampling."""
    from streamchange_spark.kernels import BIC, CUSUM, WindowSegmentor, simulate
    from streamchange_spark.operators import figure_frames

    # many level shifts -> many detections
    x = simulate([0, 12, 0, 12, 0, 12, 0, 12, 0, 12], [30], p=1, seed=7)[:, 0]
    pdf = pd.DataFrame(
        {
            "key": "k",
            "ts": pd.to_datetime(1_704_067_200 + 3600 * np.arange(x.size), unit="s"),
            "value": x,
        }
    )
    df = spark.createDataFrame(pdf)
    factory = lambda: WindowSegmentor(CUSUM(penalty=BIC(scale=5.0)), 4, 100)
    all_frames = figure_frames(df, factory, ["key"], "ts", "value").toPandas()
    n_steps = all_frames["frame_id"].nunique()
    assert n_steps > 4
    capped = figure_frames(
        df, factory, ["key"], "ts", "value", max_frames=4
    ).toPandas()
    assert capped["frame_id"].nunique() == 4
    # final frame kept: its frame_ts is the series end and it has every row
    last = capped[capped.frame_id == capped["frame_id"].max()]
    assert last["frame_ts"].iloc[0] == pdf["ts"].iloc[-1]
    assert len(last) == len(pdf)


def test_standardize_equals_prestandardized_input(spark):
    """standardize=True on every grouped detector operator == running the
    same operator (standardize=False) over a table whose values were
    z-scored per key up front. The fixture scales/offsets each key's series
    (x*50+300) so raw and standardized runs genuinely differ — the raw run
    over scaled data must NOT match the oracle segmentation, proving the
    flag changes behaviour, while the standardized run must exactly."""
    from streamchange_spark.operators.detect import zscore_per_key

    frames = []
    for key, kw in FIXTURES.items():
        x = simulate(**kw)[:, 0] * 50.0 + 300.0
        frames.append(
            pd.DataFrame(
                {
                    "key": key,
                    "t": np.arange(x.size),
                    "value": x,
                    "value_z": zscore_per_key(x),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True).sample(frac=1.0, random_state=1)
    df = spark.createDataFrame(pdf)
    raw = df.select("key", "t", "value")
    pre = df.select("key", "t", df.value_z.alias("value"))

    cases = [
        (
            window_segmentor_changepoints,
            dict(key_cols=["key"], ts_col="t", value_cols=["value"]),
            lambda: WindowSegmentor(CUSUM(penalty=BIC(scale=10)), 4, 100),
            ["key", "detection_ts", "changepoint_ts"],
        ),
        (
            sequential_scores,
            dict(key_cols=["key"], ts_col="t", value_cols=["value"]),
            lambda: SequentialChangeDetector(
                LordenPollakScore(rho=1.0).penalise(20.0),
                reset_on_change=True,
                restart_delay=5,
            ),
            ["key", "ts", "penalised_score", "is_alarm"],
        ),
        (
            pelt_segments,
            dict(key_cols=["key"], ts_col="t", value_col="value"),
            lambda: Pelt(L2Cost(), minsl=2, maxsl=10000),
            ["key", "start_ts", "end_ts", "size"],
        ),
        (
            capa_anomalies,
            dict(key_cols=["key"], ts_col="t", value_col="value"),
            lambda: Capa(
                ConstMeanL2(), minsl=2, maxsl=1000, predict_point_anomalies=True
            ),
            ["key", "start_ts", "end_ts", "size", "kind"],
        ),
        (
            offline_pelt_segments,
            dict(key_cols=["key"], ts_col="t", value_cols=["value"]),
            lambda: OfflinePelt(minsl=2),
            ["key", "start_ts", "end_ts", "size"],
        ),
    ]
    for op, kw, factory, sort_cols in cases:
        std = (
            op(raw, factory, standardize=True, **kw)
            .toPandas()
            .sort_values(sort_cols)
            .reset_index(drop=True)
        )
        manual = (
            op(pre, factory, **kw)
            .toPandas()
            .sort_values(sort_cols)
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(std, manual), op.__name__

    # the flag has teeth: raw scaled input segments differently under Pelt
    raw_out = pelt_segments(
        raw, lambda: Pelt(L2Cost(), minsl=2, maxsl=10000),
        key_cols=["key"], ts_col="t", value_col="value",
    ).toPandas()
    std_out = pelt_segments(
        raw, lambda: Pelt(L2Cost(), minsl=2, maxsl=10000),
        key_cols=["key"], ts_col="t", value_col="value", standardize=True,
    ).toPandas()
    assert len(raw_out) != len(std_out)


def test_standardize_per_key_matches_udf_twin(spark):
    """standardize_per_key (all-JVM window aggregates) == zscore_per_key
    (the in-UDF twin) per key on real-valued series; constant and 1-point
    keys -> NULL (JVM) where the UDF twin yields NaN — the same dropna
    downstream. Also: the plan stays JVM-only (no Python stages)."""
    from streamchange_spark.operators import standardize_per_key
    from streamchange_spark.operators.detect import zscore_per_key

    rng = np.random.RandomState(7)
    frames = []
    for key, n in [("a", 50), ("b", 7), ("const", 5), ("single", 1)]:
        vals = (
            np.full(n, 3.25)
            if key == "const"
            else rng.normal(100.0, 25.0, n).round(3)
        )
        frames.append(pd.DataFrame({"key": key, "t": np.arange(n), "value": vals}))
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf.sample(frac=1.0, random_state=3))

    got = (
        standardize_per_key(df, ["key"], ["value"])
        .toPandas()
        .sort_values(["key", "t"])
        .reset_index(drop=True)
    )
    plan = standardize_per_key(df, ["key"], ["value"])._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan

    for key, sub in pdf.groupby("key"):
        exp = zscore_per_key(sub.sort_values("t")["value"].to_numpy())
        act = got[got.key == key]["value"].to_numpy(dtype=float)
        assert np.allclose(act, exp, equal_nan=True), key
    assert got[got.key == "const"]["value"].isna().all()
    assert got[got.key == "single"]["value"].isna().all()

    with pytest.raises(ValueError, match="ddof"):
        standardize_per_key(df, ["key"], ["value"], ddof=2)


def test_gapfill_fed_detector_stage_runs_wide_under_aqe(spark):
    """A detector scan over a gap-filled tier must keep its n-way Python
    stage. gapfill's window already hash-partitions on the key, so a plain
    ``repartition(n, key)`` is dropped as redundant and AQE coalesces the
    small shuffle, Python stage included, to one task. The final stage's
    partition count is read after AQE re-planned it."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from streamchange_spark.operators import gapfill

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    n = spark.sparkContext.defaultParallelism
    rng = np.random.RandomState(11)
    rows = [
        (f"k{k}", datetime(2024, 1, 1) + timedelta(hours=int(h)), float(v))
        for k in range(40)
        for h, v in zip(
            np.sort(rng.choice(96, 30, replace=False)), rng.normal(0.0, 1.0, 30)
        )
    ]
    events = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    hourly = events.groupBy("key", F.date_trunc("hour", "ts").alias("ts")).agg(
        F.sum("value").alias("value")
    )
    dense = gapfill(hourly, ["key"], "ts", "value", 3600)
    factory = lambda: WindowSegmentor(CUSUM(penalty=BIC(scale=10)), 4, 24)
    out = window_segmentor_changepoints(dense, factory, ["key"], "ts", ["value"])
    assert out.rdd.getNumPartitions() >= n
