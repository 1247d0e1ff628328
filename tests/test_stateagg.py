"""Time-in-state and heartbeat/liveness tiers (operators/stateagg.py):
hand-computed fixtures, merge==direct across tiers (the continuous-aggregate
contract), repartition invariance, and the explode guard."""

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from streamchange_spark.operators import (
    heartbeat_eval,
    heartbeat_rollup,
    heartbeat_tier,
    state_eval,
    state_rollup,
    state_tier,
)


def _obs(spark, rows):
    return spark.createDataFrame(
        [(k, float(s), st) for k, s, st in rows], ["k", "sec", "state"]
    ).select("k", F.timestamp_seconds("sec").alias("ts"), "state")


def test_state_tier_locf_and_split(spark):
    """State holds until the next observation, split exactly across bucket
    boundaries; the final observation holds nothing."""
    df = _obs(
        spark,
        [("a", 600, "up"), ("a", 3000, "down"), ("a", 4200, "up"),
         ("a", 7200, "down")],
    )
    out = {
        (r["bucket_start"].hour, r["state"]): r
        for r in state_tier(df, ["k"], "ts", "state", "1h").collect()
    }
    # bucket 0: up 600->3000 (2400s), down 3000->3600 (600s, split at boundary)
    assert out[(0, "up")]["held_us"] == 2400 * 1_000_000
    assert out[(0, "down")]["held_us"] == 600 * 1_000_000
    # bucket 1: down 3600->4200 (600s), up 4200->7200 (3000s)
    assert out[(1, "down")]["held_us"] == 600 * 1_000_000
    assert out[(1, "up")]["held_us"] == 3000 * 1_000_000
    # the 7200 observation holds nothing -> no hour-2 rows
    assert not any(h == 2 for h, _ in out)
    # span-start counts: transitions observed = 3 (final obs starts no span)
    assert sum(r["n_spans"] for r in out.values()) == 3
    # total held time per key == last_ts - first_ts
    assert sum(r["held_us"] for r in out.values()) == (7200 - 600) * 1_000_000


def test_state_merge_equals_direct(spark):
    """1h partials summed into 1d buckets == the direct 1d build,
    bit-for-bit (held_us are an exact partition of each span)."""
    import random

    rng = random.Random(7)
    rows = []
    for k in ("a", "b", "c"):
        t = 0.0
        for _ in range(200):
            t += rng.expovariate(1 / 5000.0)
            rows.append((k, t, rng.choice(["up", "down", "degraded"])))
    df = _obs(spark, rows)
    direct = state_tier(df, ["k"], "ts", "state", "1d")
    merged = state_rollup(state_tier(df, ["k"], "ts", "state", "1h"), ["k"], "1d")
    key = lambda r: (r["k"], r["bucket_start"], r["state"])
    d = sorted(direct.collect(), key=key)
    m = sorted(merged.collect(), key=key)
    assert [tuple(r) for r in d] == [tuple(r) for r in m]
    # repartition invariance: the window + explode + groupBy pipeline is
    # partitioning-independent
    scrambled = state_tier(df.repartition(13), ["k"], "ts", "state", "1d")
    s = sorted(scrambled.collect(), key=key)
    assert [tuple(r) for r in s] == [tuple(r) for r in d]


def _tie_layouts(df):
    """The same rows in one partition, ts ties met in ascending and in
    descending state order."""
    one = df.repartition(1)
    return one.sortWithinPartitions("state"), one.sortWithinPartitions(
        F.desc("state")
    )


def test_duplicate_ts_attribution_is_deterministic(spark):
    """Observations sharing (key, ts) are ordered by (ts, state): the
    greatest state holds the following span under every partition layout,
    in state_tier and in the collapsed run encoding alike."""
    from streamchange_spark.operators import (
        encode_state_runs,
        state_tier_from_runs,
    )

    df = _obs(
        spark,
        [("a", 600, "up"), ("a", 3000, "down"), ("a", 3000, "up"),
         ("a", 4200, "down"), ("a", 4200, "down"), ("a", 7200, "up")],
    )
    tiers = [
        sorted(
            (r["bucket_start"].hour, r["state"], r["held_us"], r["n_spans"])
            for r in state_tier(d, ["k"], "ts", "state", "1h").collect()
        )
        for d in _tie_layouts(df)
    ]
    s = 1_000_000
    # up holds 600 -> 4200 (the 3000 tie goes to "up" > "down"), then down
    # holds 4200 -> 7200; the zero-length tie spans start nothing
    assert tiers[0] == tiers[1] == [
        (0, "up", 3000 * s, 2), (1, "down", 3000 * s, 1), (1, "up", 600 * s, 0)
    ]

    runs = [
        sorted(
            tuple(r)
            for r in encode_state_runs(d, ["k"], "ts", "state").collect()
        )
        for d in _tie_layouts(df.where(F.unix_seconds("ts") != 4200))
    ]
    # (ts, state) order: up@600, down@3000, up@3000, up@7200 — the 3000
    # "up" opens the run that the 7200 "up" extends
    assert runs[0] == runs[1] == [
        ("a", "down", 3000 * s, 3000 * s, 1),
        ("a", "up", 600 * s, 600 * s, 1),
        ("a", "up", 3000 * s, 7200 * s, 2),
    ]
    via_runs = sorted(
        tuple(r) for r in state_tier_from_runs(
            encode_state_runs(df, ["k"], "ts", "state"), ["k"], "1h"
        ).collect()
    )
    direct = sorted(
        tuple(r) for r in state_tier(df, ["k"], "ts", "state", "1h").collect()
    )
    assert via_runs == direct


def test_state_eval_and_null_states(spark):
    df = _obs(spark, [("a", 0, "up"), ("a", 100, None), ("a", 200, "up"),
                      ("a", 300, "down")])
    out = state_eval(state_tier(df, ["k"], "ts", "state", "1h")).collect()
    # NULL-state row dropped entirely: up holds 0->200 (the next NON-NULL), no
    # wait — NULL rows are filtered BEFORE lead, so up holds 0->200, up 200->300
    held = {r["state"]: r["held_seconds"] for r in out}
    assert held == {"up": pytest.approx(300.0)}
    assert all("held_us" not in r.asDict() for r in out)


def test_heartbeat_uptime_union_and_gaps(spark):
    """Tolerance windows union without double counting; gaps counted at the
    bucket where the up-span ends; final heartbeat gets its full window."""
    df = spark.createDataFrame(
        [("a", 0.0), ("a", 300.0), ("a", 2000.0), ("a", 3550.0)], ["k", "sec"]
    ).select("k", F.timestamp_seconds("sec").alias("ts"))
    tiers = heartbeat_tier(df, ["k"], "ts", "1h", tolerance_s=600.0)
    out = {r["bucket_start"].hour: r for r in heartbeat_eval(tiers, "1h").collect()}
    # hour 0: [0,300)+[300,900) = 900, gap 900->2000, [2000,2600) = 600,
    # [3550,3600) = 50 (split at boundary) => 1550s up; both gap onsets
    # (spans ending at 900 and 2600) land in hour 0
    assert out[0]["up_seconds"] == pytest.approx(1550.0)
    assert out[0]["n_heartbeats"] == 4
    assert out[0]["n_gaps"] == 2
    assert out[0]["uptime_ratio"] == pytest.approx(1550.0 / 3600.0)
    # hour 1: tail of 3550's window [3600,4150) = 550s; 2000's gap (2600->3550)
    # ended in hour 0 (up-span end 2600) so it was counted there
    assert out[1]["up_seconds"] == pytest.approx(550.0)
    assert out[1]["n_heartbeats"] == 0
    # total gaps across buckets: 900->2000 and 2600->3550
    assert sum(r["n_gaps"] for r in out.values()) == 2


def test_heartbeat_merge_equals_direct(spark):
    import random

    rng = random.Random(11)
    rows = []
    for k in ("a", "b"):
        t = 0.0
        for _ in range(300):
            t += rng.expovariate(1 / 700.0)
            rows.append((k, t))
    df = spark.createDataFrame(rows, ["k", "sec"]).select(
        "k", F.timestamp_seconds("sec").alias("ts")
    )
    direct = heartbeat_tier(df, ["k"], "ts", "1d", tolerance_s=900.0)
    merged = heartbeat_rollup(
        heartbeat_tier(df, ["k"], "ts", "1h", tolerance_s=900.0), ["k"], "1d"
    )
    key = lambda r: (r["k"], r["bucket_start"])
    d = sorted(direct.collect(), key=key)
    m = sorted(merged.collect(), key=key)
    assert [tuple(r) for r in d] == [tuple(r) for r in m]


def test_span_guard_raises(spark):
    """A span overlapping more than max_span_buckets buckets fails loudly
    instead of exploding (the gapfill grid-guard contract)."""
    df = _obs(spark, [("a", 0, "up"), ("a", 400 * 3600, "down")])
    with pytest.raises(Exception) as ei:
        state_tier(df, ["k"], "ts", "state", "1h", max_span_buckets=100).collect()
    assert "max_span_buckets" in str(ei.value)


def test_heartbeat_tolerance_validation(spark):
    df = _obs(spark, [("a", 0, "up")]).select("k", "ts")
    with pytest.raises(ValueError):
        heartbeat_tier(df, ["k"], "ts", "1h", tolerance_s=0.0)


def test_heartbeat_from_obs_runs_exact(spark):
    """heartbeat_tier_from_runs over per-observation runs (collapse=False)
    bit-equals heartbeat_tier over the raw observations — the pipeline's
    free crawl-liveness surface off the committed staterun family."""
    import random

    from streamchange_spark.operators import (
        encode_state_runs,
        heartbeat_tier_from_runs,
    )
    from pyspark.sql import functions as F

    rng = random.Random(13)
    rows = []
    for k in ("a", "b"):
        t = 0.0
        for _ in range(200):
            t += rng.expovariate(1 / 900.0)
            rows.append((k, t, rng.choice(["x", "y"])))
    df = spark.createDataFrame(rows, ["k", "sec", "state"]).select(
        "k", F.timestamp_seconds("sec").alias("ts"), "state"
    )
    runs = encode_state_runs(df, ["k"], "ts", "state", collapse=False)
    via_runs = heartbeat_tier_from_runs(runs, ["k"], "1h", tolerance_s=1200.0)
    direct = heartbeat_tier(df, ["k"], "ts", "1h", tolerance_s=1200.0)
    key = lambda r: (r["k"], r["bucket_start"])
    a = sorted(via_runs.collect(), key=key)
    b = sorted(direct.collect(), key=key)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_state_chain_and_conservation_many_keys(spark):
    """Randomized conservation property over 50 keys in one job: per key,
    SUM(held_us) across all buckets and states == last_ts - first_ts
    exactly (the span algebra partitions the lifetime), and the full
    1h -> 1d -> 30d merge chain bit-equals the direct 30d build."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(23)
    rows = []
    firsts, lasts = {}, {}
    for ki in range(50):
        k = f"k{ki}"
        t = rng.uniform(0, 86400)
        for _ in range(rng.randint(2, 120)):
            t += rng.expovariate(1 / rng.choice([600.0, 7200.0, 86400.0]))
            rows.append((k, t, rng.choice(["a", "b", "c", "d"])))
            lasts[k] = t
            firsts.setdefault(k, t)
    df = _obs(spark, rows)
    t1h = state_tier(df, ["k"], "ts", "state", "1h")
    per_key = {
        r["k"]: r["total"]
        for r in t1h.groupBy("k").agg(F.sum("held_us").alias("total")).collect()
    }
    for k in firsts:
        expect = int(float(lasts[k]) * 1e6) - int(float(firsts[k]) * 1e6)
        assert per_key.get(k, 0) == expect, k
    chain = state_rollup(state_rollup(t1h, ["k"], "1d"), ["k"], "30d")
    direct = state_tier(df, ["k"], "ts", "state", "30d")
    key = lambda r: (r["k"], r["bucket_start"], r["state"])
    assert sorted(map(tuple, chain.collect()), key=lambda t: t[:3]) == sorted(
        map(tuple, direct.collect()), key=lambda t: t[:3]
    )


def test_twa_tier_merge_equals_direct_and_weighting(spark):
    """Boundary-split TWA partials: 1h merged to 1d equals the direct 1d
    build (held_us bit-exact, twa to rounding), and the weighting itself
    matches a hand-computed LOCF case including a span crossing the
    boundary (which the truncate-style time_weighted_avg would clip)."""
    from streamchange_spark.operators import twa_eval, twa_rollup, twa_tier

    # 10.0 held 0->3000, 40.0 held 3000->5400 (crosses the 1h boundary),
    # final obs at 5400 holds nothing
    df = _obs(spark, [("a", 0, "x"), ("a", 3000, "x"), ("a", 5400, "x")])
    df = df.select(
        "k", "ts",
        F.when(F.unix_timestamp("ts") == 0, 10.0)
        .when(F.unix_timestamp("ts") == 3000, 40.0)
        .otherwise(99.0).alias("v"),
    )
    out = {
        r["bucket_start"].hour: r
        for r in twa_eval(twa_tier(df, ["k"], "ts", "v", "1h")).collect()
    }
    # hour 0: 10.0*3000 + 40.0*600 ; hour 1: 40.0*1800
    assert out[0]["held_seconds"] == pytest.approx(3600.0)
    assert out[0]["twa"] == pytest.approx((10.0 * 3000 + 40.0 * 600) / 3600)
    assert out[1]["held_seconds"] == pytest.approx(1800.0)
    assert out[1]["twa"] == pytest.approx(40.0)

    import random

    rng = random.Random(3)
    rows = []
    for k in ("a", "b", "c"):
        t = 0.0
        for _ in range(300):
            t += rng.expovariate(1 / 4000.0)
            rows.append((k, t, rng.uniform(-5, 5)))
    big = spark.createDataFrame(rows, ["k", "sec", "v"]).select(
        "k", F.timestamp_seconds("sec").alias("ts"), "v"
    )
    direct = twa_eval(twa_tier(big, ["k"], "ts", "v", "1d"))
    merged = twa_eval(
        twa_rollup(twa_tier(big, ["k"], "ts", "v", "1h"), ["k"], "1d")
    )
    key = lambda r: (r["k"], r["bucket_start"])
    d = {key(r): r for r in direct.collect()}
    m = {key(r): r for r in merged.collect()}
    assert set(d) == set(m)
    for kk in d:
        assert d[kk]["held_us"] == m[kk]["held_us"]  # exact integer carrier
        assert m[kk]["twa"] == pytest.approx(d[kk]["twa"], rel=1e-12)


def test_twa_duplicate_ts_takes_the_greatest_value(spark):
    """Observations sharing (key, ts) follow state_tier's rule: the tie's
    greatest value holds the following span under every partition layout."""
    from streamchange_spark.operators import twa_tier

    df = spark.createDataFrame(
        [("a", 0.0, 10.0), ("a", 3000.0, 20.0), ("a", 3000.0, 40.0),
         ("a", 3000.0, 30.0), ("a", 5400.0, 99.0)],
        ["k", "sec", "v"],
    ).select("k", F.timestamp_seconds("sec").alias("ts"), "v")
    one = df.repartition(1)
    layouts = [one.sortWithinPartitions("v"), one.sortWithinPartitions(F.desc("v"))]
    s = 1_000_000
    out = [
        sorted(
            (r["bucket_start"].hour, r["held_us"], r["wsum"])
            for r in twa_tier(d, ["k"], "ts", "v", "1h").collect()
        )
        for d in layouts
    ]
    # 10.0 holds 0 -> 3000, then 40.0 (the tie's max) holds 3000 -> 5400
    assert out[0] == out[1] == [
        (0, 3600 * s, (10.0 * 3000 + 40.0 * 600) * s),
        (1, 1800 * s, 40.0 * 1800 * s),
    ]


def test_heartbeat_duplicate_ts_counts_once(spark):
    """Heartbeats sharing (key, ts) count once: the tie's earlier rows
    reach the next row at the same instant, so only its last row opens an
    up-span, under every partition layout."""
    from streamchange_spark.operators import heartbeat_tier

    df = spark.createDataFrame(
        [("a", 0, 1), ("a", 300, 2), ("a", 300, 3), ("a", 300, 4), ("a", 1200, 5)],
        "k string, sec long, tag long",
    ).select("k", F.timestamp_seconds("sec").alias("ts"), "tag")
    one = df.repartition(1)
    layouts = [one.sortWithinPartitions("tag"), one.sortWithinPartitions(F.desc("tag"))]
    out = [
        [tuple(r) for r in heartbeat_tier(d, ["k"], "ts", "1h", tolerance_s=600.0)
         .select("bucket_start", "up_us", "n_heartbeats", "n_gaps").collect()]
        for d in layouts
    ]
    # 0 -> 300, the tie 300 -> 900 (tolerance; 1200 is a gap), 1200 -> 1800
    s = 1_000_000
    assert out[0] == out[1] == [
        (datetime.datetime(1970, 1, 1), (300 + 600 + 600) * s, 3, 1)
    ]
