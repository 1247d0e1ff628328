"""Retention-tier rollups and gap-fill: exactness vs pandas recomputation and
the continuous-aggregate (associativity) property."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from streamchange_spark.operators import (
    gapfill,
    rollup_all_tiers,
    rollup_raw,
    rollup_tier,
    with_avg,
)


@pytest.fixture(scope="module")
def points_df(spark):
    rng = np.random.RandomState(7)
    rows = []
    base = pd.Timestamp("2024-01-01", tz=None).value // 10**9
    for key in ["a", "b", "c"]:
        n = 500
        # minute-level points with gaps
        offsets = np.cumsum(rng.choice([60, 60, 120, 3600, 7200], size=n))
        ts = base + offsets + rng.randint(0, 50, n)
        vals = rng.normal(10, 3, n)
        rows.append(pd.DataFrame({"key": key, "ts": pd.to_datetime(ts, unit="s"), "value": vals}))
    return spark.createDataFrame(pd.concat(rows, ignore_index=True))


def _pandas_rollup(pdf: pd.DataFrame, seconds: int) -> pd.DataFrame:
    pdf = pdf.copy()
    epoch = pdf["ts"].astype("int64") // 10**9
    pdf["bucket"] = (epoch // seconds) * seconds
    grouped = pdf.sort_values("ts").groupby(["key", "bucket"])
    out = grouped.agg(
        n_points=("value", "count"),
        sum_v=("value", "sum"),
        min_v=("value", "min"),
        max_v=("value", "max"),
        first_v=("value", "first"),
        last_v=("value", "last"),
    ).reset_index()
    return out


def test_rollup_1h_matches_pandas(spark, points_df):
    got = (
        rollup_raw(points_df, ["key"], "ts", "value", "1h")
        .withColumn("bucket", F.unix_timestamp("bucket_start"))
        .toPandas()
        .sort_values(["key", "bucket"])
        .reset_index(drop=True)
    )
    expected = (
        _pandas_rollup(points_df.toPandas(), 3600)
        .sort_values(["key", "bucket"])
        .reset_index(drop=True)
    )
    assert len(got) == len(expected)
    assert (got["n_points"].to_numpy() == expected["n_points"].to_numpy()).all()
    assert np.allclose(got["sum_v"], expected["sum_v"], rtol=0, atol=1e-9)
    assert np.array_equal(got["min_v"].to_numpy(), expected["min_v"].to_numpy())
    assert np.array_equal(got["max_v"].to_numpy(), expected["max_v"].to_numpy())
    assert np.array_equal(got["first_v"].to_numpy(), expected["first_v"].to_numpy())
    assert np.array_equal(got["last_v"].to_numpy(), expected["last_v"].to_numpy())


def test_tier_reaggregation_equals_direct(spark, points_df):
    """tier(1d) from tier(1h) must equal tier(1d) straight from raw — the
    continuous-aggregate property that lets coarser tiers skip the raw scan."""
    tiers = rollup_all_tiers(points_df, ["key"], "ts", "value")
    for tier_name in ["1d", "30d"]:
        from_chain = (
            tiers[tier_name].orderBy("key", "bucket_start").toPandas()
        )
        direct = (
            rollup_raw(points_df, ["key"], "ts", "value", tier_name)
            .orderBy("key", "bucket_start")
            .toPandas()
        )
        assert len(from_chain) == len(direct)
        for col in ["n_points", "min_v", "max_v", "first_v", "last_v"]:
            assert np.array_equal(
                from_chain[col].to_numpy(), direct[col].to_numpy()
            ), (tier_name, col)
        assert np.allclose(from_chain["sum_v"], direct["sum_v"], rtol=0, atol=1e-8)


def test_avg_and_counts(spark, points_df):
    tier = with_avg(rollup_raw(points_df, ["key"], "ts", "value", "1h"))
    row = tier.agg(F.sum("n_points").alias("n")).collect()[0]
    assert row["n"] == points_df.count()


def test_gapfill_locf(spark, points_df):
    tier = rollup_raw(points_df, ["key"], "ts", "value", "1h").select(
        "key", "bucket_start", F.col("sum_v").alias("v")
    )
    filled = gapfill(tier, ["key"], "bucket_start", "v", 3600, method="locf").toPandas()
    # Dense grid: every key covers every hour between its min and max.
    for key, sub in filled.groupby("key"):
        sub = sub.sort_values("bucket_start")
        deltas = sub["bucket_start"].diff().dropna().dt.total_seconds()
        assert (deltas == 3600).all()
        assert sub["v"].notna().all()  # LOCF fills everything after the first obs
    # Spot-check LOCF semantics against pandas ffill.
    tier_pd = tier.toPandas()
    for key in ["a", "b"]:
        sub = filled[filled.key == key].sort_values("bucket_start")
        obs = tier_pd[tier_pd.key == key].set_index("bucket_start")["v"]
        expected = obs.reindex(sub["bucket_start"]).ffill()
        assert np.allclose(sub["v"].to_numpy(), expected.to_numpy(), equal_nan=True)


def test_gapfill_linear(spark):
    pdf = pd.DataFrame(
        {
            "key": ["k"] * 3,
            "bucket_start": pd.to_datetime([0, 3600, 10800], unit="s"),
            "v": [0.0, 36.0, 108.0],
        }
    )
    filled = (
        gapfill(spark.createDataFrame(pdf), ["key"], "bucket_start", "v", 3600, "linear")
        .orderBy("bucket_start")
        .toPandas()
    )
    # hour 2 (7200) is missing; linear between 36 (t=3600) and 108 (t=10800).
    assert list(filled["v"]) == [0.0, 36.0, 72.0, 108.0]
    assert list(filled["gap_filled"]) == [False, False, True, False]


def test_gapfill_linear_rounds_like_the_oracle(spark):
    """The lerp is ``prev + (next - prev) * frac`` with ``frac`` rounded
    first (DuckDB's operation order, which the gapfill_linear oracle row
    hashes bit-exactly); ``((next - prev) * dt) / span`` differs in the last
    bit at frac = 1/3."""
    pdf = pd.DataFrame(
        {
            "key": ["k"] * 2,
            "bucket_start": pd.to_datetime([0, 10800], unit="s"),
            "v": [0.0, 5.0],
        }
    )
    filled = (
        gapfill(spark.createDataFrame(pdf), ["key"], "bucket_start", "v", 3600, "linear")
        .orderBy("bucket_start")
        .toPandas()
    )
    assert list(filled["v"]) == [0.0, 5.0 * (1 / 3), 5.0 * (2 / 3), 5.0]
    assert 5.0 * (1 / 3) != (5.0 * 1) / 3


def test_dense_grid_guard_max_buckets_per_key(spark):
    """dense_grid must fail loudly (naming the key) when one key's span/step
    would explode past max_buckets_per_key, and generate normally below it."""
    from streamchange_spark.operators import dense_grid

    pdf = pd.DataFrame(
        {
            "key": ["a", "a", "b", "b"],
            "bucket_start": pd.to_datetime(
                [
                    "2024-01-01 00:00",
                    "2024-01-01 02:00",
                    "2024-01-01 00:00",
                    "2024-03-01 00:00",
                ]
            ),
            "v": [1.0, 2.0, 3.0, 4.0],
        }
    )
    df = spark.createDataFrame(pdf)
    ok = dense_grid(df, ["key"], "bucket_start", 3600, max_buckets_per_key=2000).toPandas()
    assert len(ok) == 3 + 1441  # a: 2h span -> 3; b: 60d span -> 1441
    with pytest.raises(Exception, match="max_buckets_per_key=100"):
        dense_grid(
            df, ["key"], "bucket_start", 3600, max_buckets_per_key=100
        ).toPandas()


def test_rollup_percentiles_exact_and_approx(spark):
    import datetime as dt

    from streamchange_spark.operators import rollup_percentiles

    base = dt.datetime(2026, 1, 1)
    # one user, one hour bucket, values 1..101 -> exact p50=51, p95=96, p99=100
    rows = [(1, base + dt.timedelta(seconds=i * 30), float(i + 1)) for i in range(101)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = rollup_percentiles(df, ["user_id"], "ts", "value", tier="1h").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_points == 101
    assert (r.p50, r.p95, r.p99) == (51.0, 96.0, 100.0)
    # approx path: same schema, GK sketch within rank error at accuracy 10k
    ra = rollup_percentiles(
        df, ["user_id"], "ts", "value", tier="1h", exact=False
    ).collect()[0]
    assert set(ra.asDict()) == set(r.asDict())
    assert abs(ra.p50 - 51.0) <= 1.0 and abs(ra.p99 - 100.0) <= 1.0
    # interpolation parity with DuckDB's quantile_cont on a non-grid case
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame({"v": [1.0, 2.0, 4.0, 8.0]})
    want = duckdb.sql("SELECT quantile_cont(v, 0.5) FROM pdf").fetchone()[0]
    got = rollup_percentiles(
        spark.createDataFrame(
            [(1, base, v) for v in pdf.v], "user_id long, ts timestamp, value double"
        ),
        ["user_id"], "ts", "value", tier="1h", quantiles=(0.5,),
    ).collect()[0].p50
    assert abs(got - want) < 1e-12


def test_rollup_hopping_overlap(spark):
    import datetime as dt

    from streamchange_spark.operators import rollup_hopping

    # one event -> exactly width/slide = 4 windows; two events 30m apart
    # share exactly 2 of them.
    base = dt.datetime(2026, 1, 1, 12, 7)  # mid-slide, not aligned
    rows = [(1, base, 10.0), (1, base + dt.timedelta(minutes=30), 20.0)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = rollup_hopping(
        df, ["user_id"], "ts", "value", width="1 hour", slide="15 minutes"
    ).collect()
    per_event_windows = 4
    assert sum(r.n_points for r in out) == 2 * per_event_windows
    both = [r for r in out if r.n_points == 2]
    assert len(both) == 2  # 30m apart within 1h window, slide 15m -> 2 shared
    for r in both:
        assert r.sum_v == 30.0 and r.min_v == 10.0 and r.max_v == 20.0


def test_rollup_distinct_exact_and_hll(spark):
    import datetime as dt

    from streamchange_spark.operators import rollup_distinct

    base = dt.datetime(2026, 1, 1)
    # 2000 events, 500 distinct users, one day bucket
    rows = [(i % 500, base + dt.timedelta(seconds=i * 20), "view") for i in range(2000)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    exact = rollup_distinct(df, ["event_type"], "ts", "user_id", tier="1d").collect()
    assert len(exact) == 1 and exact[0].n_distinct == 500
    approx = rollup_distinct(
        df, ["event_type"], "ts", "user_id", tier="1d", exact=False, rsd=0.02
    ).collect()[0].n_distinct
    assert abs(approx - 500) / 500 < 0.06  # HLL++ within ~3x rsd


def test_hopping_rejects_slide_wider_than_width(spark):
    """slide > width would emit gapped windows (events between hops silently
    vanish); both batch and streaming variants must refuse."""
    import pytest

    from streamchange_spark.operators import rollup_hopping
    from streamchange_spark.operators.rollup import check_hop, interval_seconds
    from streamchange_spark.streaming.rollup import streaming_rollup_raw

    assert interval_seconds("1 hour 30 minutes") == 5400.0
    assert interval_seconds("90 seconds") == 90.0
    with pytest.raises(ValueError):
        interval_seconds("1 fortnight")

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0)], "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="gapped"):
        rollup_hopping(df, ["user_id"], "ts", "value", width="15 minutes", slide="1 hour")
    # equal width/slide (tumbling) is fine
    check_hop("1 hour", "1 hour")
    # streaming twin refuses too (plan construction is eager enough)
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value AS user_id", "timestamp AS ts", "CAST(value AS DOUBLE) AS value")
    )
    with pytest.raises(ValueError, match="gapped"):
        streaming_rollup_raw(stream, ["user_id"], "ts", "value", width="15 minutes", slide="1 hour")


# ---------------------------------------------------------------------------
# Mergeable quantile sketches (qsketch.py): tier-from-tier percentiles
# ---------------------------------------------------------------------------


def _rank_span(x_sorted: np.ndarray, v: float) -> tuple[int, int]:
    """1-based rank interval the value v occupies in the sorted data."""
    lo = int(np.searchsorted(x_sorted, v, side="left")) + 1
    hi = int(np.searchsorted(x_sorted, v, side="right"))
    return lo, hi


def test_qsketch_serial_error_bound():
    """Carried err tracks the prune cascade and the observed rank error of
    every queried quantile stays within it (the documented guarantee)."""
    from streamchange_spark.operators.qsketch import (
        _decode,
        sketch_build,
        sketch_merge,
        sketch_query,
    )

    rng = np.random.RandomState(3)
    eps = 0.02
    children = [rng.lognormal(0.0, 1.0, size=rng.randint(50, 4000)) for _ in range(24)]
    blobs = [sketch_build(c, eps) for c in children]
    day = sketch_merge(blobs, eps)
    months = sketch_merge([day] * 1, eps)  # second-level merge, single child
    allx = np.sort(np.concatenate(children))
    n = len(allx)
    n_tot, err, _, _ = _decode(months)
    assert n_tot == n
    # bound: children each <= eps*n_i (sum eps*n) + 1d prune eps*n + 30d prune eps*n
    assert err <= 3 * eps * n + 1e-9
    for q, est in zip([0.01, 0.5, 0.95, 0.99], sketch_query(months, [0.01, 0.5, 0.95, 0.99])):
        target = min(max(int(np.ceil(q * n)), 1), n)
        lo, hi = _rank_span(allx, est)
        assert lo - err <= target <= hi + err, (q, target, lo, hi, err)
        assert est in allx  # element-returning semantics, like approx_percentile


def test_qsketch_exact_when_small():
    """n <= ceil(1/eps): zero carried error, queries are the exact
    lower-discrete quantile."""
    from streamchange_spark.operators.qsketch import _decode, sketch_build, sketch_query

    x = np.arange(100, dtype=float)
    blob = sketch_build(x, eps=0.005)  # m=200 > 100
    n_tot, err, vals, w = _decode(blob)
    assert n_tot == 100 and err == 0.0 and (w == 1).all()
    assert sketch_query(blob, [0.5, 0.99, 1.0]) == [49.0, 98.0, 99.0]


def test_qsketch_merge_ignores_child_order():
    """Every order of the same children merges to the same bytes: equal
    values from different children must not keep their arrival order
    through the prune (refresh and hopping merges arrive in shuffle
    order)."""
    from itertools import permutations

    from streamchange_spark.operators.qsketch import sketch_build, sketch_merge

    rng = np.random.RandomState(17)
    # Few distinct values -> many ties across children, each child pruned.
    blobs = [
        sketch_build(rng.randint(0, 40, 1050).astype(float) + shift, 0.005)
        for shift in (0.0, 0.5, 3.0)
    ]
    merged = {sketch_merge(list(order), 0.005) for order in permutations(blobs)}
    assert len(merged) == 1


def test_qsketch_tiers_spark(spark, points_df):
    """sketch_tier -> sketch_rollup(1d) -> sketch_rollup(30d) on Spark:
    n_points matches the exact rollup per tier, blobs are deterministic
    across re-runs, and 30d percentiles respect the carried error bound
    against exact percentiles recomputed from raw."""
    from streamchange_spark.operators import (
        sketch_percentiles,
        sketch_rollup,
        sketch_tier,
    )
    from streamchange_spark.operators.qsketch import _decode

    eps = 0.02
    t1h = sketch_tier(points_df, ["key"], "ts", "value", tier="1h", eps=eps)
    t1d = sketch_rollup(t1h, ["key"], "1d", eps=eps)
    t30 = sketch_rollup(t1d, ["key"], "30d", eps=eps)

    # n_points re-aggregates exactly
    exact_1d = (
        rollup_raw(points_df, ["key"], "ts", "value", "1d")
        .select("key", "bucket_start", "n_points")
        .toPandas()
        .set_index(["key", "bucket_start"])["n_points"]
    )
    got_1d = t1d.toPandas().set_index(["key", "bucket_start"])["n_points"]
    assert got_1d.sort_index().equals(exact_1d.sort_index())

    # determinism: independent second build yields byte-identical blobs
    again = sketch_tier(points_df, ["key"], "ts", "value", tier="1h", eps=eps)
    a = t1h.toPandas().set_index(["key", "bucket_start"])["qsketch"].sort_index()
    b = again.toPandas().set_index(["key", "bucket_start"])["qsketch"].sort_index()
    assert list(a.apply(bytes)) == list(b.apply(bytes))

    # 30d percentiles within carried err of exact ranks
    raw = points_df.toPandas()
    raw["bucket"] = (raw["ts"].astype("int64") // 10**9 // (30 * 86400)) * (30 * 86400)
    pcts = sketch_percentiles(t30, ["key"], quantiles=(0.5, 0.95, 0.99)).toPandas()
    blobs = t30.toPandas().set_index(["key", "bucket_start"])
    for _, row in pcts.iterrows():
        bucket_epoch = int(pd.Timestamp(row["bucket_start"]).value // 10**9)
        x = np.sort(
            raw[(raw["key"] == row["key"]) & (raw["bucket"] == bucket_epoch)][
                "value"
            ].to_numpy()
        )
        n = len(x)
        assert n == row["n_points"]
        _, err, _, _ = _decode(blobs.loc[(row["key"], row["bucket_start"]), "qsketch"])
        assert err <= 3 * eps * n + 1e-9
        for q, col in [(0.5, "p50"), (0.95, "p95"), (0.99, "p99")]:
            target = min(max(int(np.ceil(q * n)), 1), n)
            lo, hi = _rank_span(x, row[col])
            assert lo - err <= target <= hi + err, (row["key"], q, target, lo, hi, err)


def test_qsketch_hopping_spark(spark, points_df):
    """sketch_hopping: trailing-6h windows every 2h merged from the 1h
    tier — n_points matches each window's raw rows, every percentile
    stays within the blob's carried rank-error bound against exact ranks
    over the window's raw values, and tier-multiple validation raises."""
    from streamchange_spark.operators import (
        sketch_hopping,
        sketch_percentiles,
        sketch_tier,
    )
    from streamchange_spark.operators.qsketch import _decode

    eps = 0.02
    width_s, slide_s = 6 * 3600, 2 * 3600
    t1h = sketch_tier(points_df, ["key"], "ts", "value", tier="1h", eps=eps)
    hop = sketch_hopping(
        t1h, ["key"], width="6 hours", slide="2 hours", eps=eps
    )

    raw = points_df.toPandas()
    raw["es"] = raw["ts"].astype("int64") // 10**9
    wins: dict = {}
    for _, r in raw.iterrows():
        first = ((int(r["es"]) - width_s) // slide_s + 1) * slide_s
        last = (int(r["es"]) // slide_s) * slide_s
        for ws in range(first, last + 1, slide_s):
            wins.setdefault((r["key"], ws), []).append(r["value"])

    blobs = hop.toPandas().set_index(["key", "window_start"])
    pcts = sketch_percentiles(
        hop, ["key"], quantiles=(0.5, 0.99), bucket="window_start"
    ).toPandas()
    assert len(pcts) == len(wins)
    for _, row in pcts.iterrows():
        ws = int(pd.Timestamp(row["window_start"]).value // 10**9)
        x = np.sort(np.asarray(wins[(row["key"], ws)]))
        n = len(x)
        assert n == row["n_points"]
        _, err, _, _ = _decode(
            blobs.loc[(row["key"], row["window_start"]), "qsketch"]
        )
        for q, col in [(0.5, "p50"), (0.99, "p99")]:
            target = min(max(int(np.ceil(q * n)), 1), n)
            lo, hi = _rank_span(x, row[col])
            assert lo - err <= target <= hi + err, (row["key"], q)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a multiple"):
        sketch_hopping(t1h, ["key"], width="90 minutes", slide="1 hour")
