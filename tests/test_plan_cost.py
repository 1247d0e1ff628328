"""Driver-side plan cost guards.

Building a query's DataFrame talks to the JVM over Py4J, one socket round
trip per ``F.*`` call, Column operator or DataFrame method (and more for
each name list). These tests count the round trips the calling thread
makes (``ClientServerConnection.send_command``; the finalizer thread's
asynchronous deletes are not counted) while an operator builds its plan,
and pin each read-path operator under a ceiling, so a Column tree growing
back fails here instead of only running slower. They also pin each
operator's output schema, so writing its plan as SQL text cannot move a
name, type or nullability.
"""

from __future__ import annotations

import threading

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from streamchange_spark.operators import (
    change_scores_from_signatures,
    dense_grid,
    gapfill,
    heartbeat_tier,
    rollup_tier,
    state_tier,
    state_tier_from_runs,
    stats_eval,
    stats_rollup,
    twa_tier,
)
from streamchange_spark.pipeline import read_lang_state_tier
from streamchange_spark.sources.snapshots import SnapshotStore


class _RoundTrips:
    def __init__(self):
        self.n = 0

    def __enter__(self):
        me, send = threading.get_ident(), ClientServerConnection.send_command

        def counting(conn, command):
            if threading.get_ident() == me:
                self.n += 1
            return send(conn, command)

        self._send = send
        ClientServerConnection.send_command = counting
        return self

    def __exit__(self, *exc):
        ClientServerConnection.send_command = self._send


def _obs(spark):
    return spark.createDataFrame(
        [
            ("a", 0, "ok", 1.0), ("a", 1800, "ok", 2.0), ("a", 5400, "err", 4.0),
            ("a", 90000, "ok", 3.0), ("b", 60, "err", 5.0), ("b", 7260, "ok", 1.5),
        ],
        "url string, sec long, state string, v double",
    ).select("url", F.timestamp_seconds("sec").alias("ts"), "state", "v")


def _runs(spark):
    return _obs(spark).select(
        "url",
        "state",
        F.unix_micros("ts").alias("run_start_us"),
        F.unix_micros("ts").alias("run_end_us"),
        F.lit(1).cast("long").alias("n_obs"),
    )


def _tier1h(spark):
    return spark.createDataFrame(
        [("a", 0, 2, 3.0, 1.0, 2.0, 0, 1.0, 1800, 2.0),
         ("a", 7200, 1, 4.0, 4.0, 4.0, 7300, 4.0, 7300, 4.0),
         ("b", 90000, 3, 9.0, 1.0, 5.0, 90100, 5.0, 93000, 1.0)],
        "url string, b long, n_points long, sum_v double, min_v double, "
        "max_v double, f long, first_v double, l long, last_v double",
    ).select(
        "url", F.timestamp_seconds("b").alias("bucket_start"), "n_points", "sum_v",
        "min_v", "max_v", F.timestamp_seconds("f").alias("first_ts"), "first_v",
        F.timestamp_seconds("l").alias("last_ts"), "last_v",
    )


def _stats1h(spark):
    return spark.createDataFrame(
        [("a", 0, 2, 10.0, 3.0, 100.0, 20.0, 5.0),
         ("a", 3600, 1, 0.0, 4.0, 0.0, 0.0, 16.0),
         ("b", 7200, 3, 30.0, 6.0, 500.0, 70.0, 14.0)],
        "url string, b long, n long, sum_x double, sum_y double, sum_xx double, "
        "sum_xy double, sum_yy double",
    ).select("url", F.timestamp_seconds("b").alias("bucket_start"),
             "n", "sum_x", "sum_y", "sum_xx", "sum_xy", "sum_yy")


def _sig(spark):
    hashes = [F.when(F.col("sec") < 7000, F.lit(i)).otherwise(F.col("sec") + i)
              .alias(f"mh_{i}") for i in range(16)]
    return spark.createDataFrame(
        [("a", 0, "x"), ("a", 3600, "x"), ("a", 7200, "y"), ("b", 60, "z")],
        "url string, sec long, txt string",
    ).select(
        "url", F.timestamp_seconds("sec").alias("warc_ts"),
        F.length("txt").cast("long").alias("text_len"),
        F.md5(F.col("txt").cast("binary")).alias("text_md5"), *hashes,
    )


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    store = SnapshotStore(str(tmp_path_factory.mktemp("plan_cost") / "store"))
    store.commit_partitions({"staterun/1970-01-01": _runs(spark)},
                            stat_cols=["run_start_us"])
    return {
        "obs": _obs(spark), "runs": _runs(spark), "tier1h": _tier1h(spark),
        "stats1h": _stats1h(spark), "sig": _sig(spark), "store": store,
    }


def _freq(t1h):
    return t1h.select("url", "bucket_start", "n_points")


#: operator -> (build(spark, inputs), ceiling on its round trips). As
#: Column trees they took 97-419 with call-site capture off (see
#: CHANGES.md); as SQL text they take 10-89.
OPERATORS = {
    "read_lang_state_tier": (
        lambda sp, i: read_lang_state_tier(sp, i["store"], "1970-01-01", "1970-01-02"),
        100,
    ),
    "state_tier_from_runs": (
        lambda sp, i: state_tier_from_runs(i["runs"], ["url"], "1d"), 80,
    ),
    "state_tier": (lambda sp, i: state_tier(i["obs"], ["url"], "ts", "state"), 70),
    "twa_tier": (lambda sp, i: twa_tier(i["obs"], ["url"], "ts", "v"), 66),
    "heartbeat_tier": (lambda sp, i: heartbeat_tier(i["obs"], ["url"], "ts"), 70),
    "change_scores_from_signatures": (
        lambda sp, i: change_scores_from_signatures(i["sig"], "url", "warc_ts"), 13,
    ),
    "stats_rollup": (lambda sp, i: stats_rollup(i["stats1h"], ["url"], "1d"), 62),
    "stats_eval": (lambda sp, i: stats_eval(i["stats1h"]), 12),
    "dense_grid": (
        lambda sp, i: dense_grid(i["tier1h"], ["url"], "bucket_start", 3600), 32,
    ),
    **{
        f"gapfill_{method}": (
            lambda sp, i, method=method: gapfill(
                _freq(i["tier1h"]), ["url"], "bucket_start", "n_points", 3600,
                method=method,
            ),
            80,
        )
        for method in ("null", "locf", "linear")
    },
    "rollup_tier": (lambda sp, i: rollup_tier(i["tier1h"], ["url"], "1d"), 56),
}

#: Each operator's output schema as the Column trees built it, as DDL.
SCHEMAS = {
    "change_scores_from_signatures": (
        "url string, warc_ts timestamp, text_len bigint, changed boolean, "
        "jaccard_est double, change_score double"
    ),
    "dense_grid": "url string, bucket_start timestamp NOT NULL",
    "gapfill_linear": (
        "url string, bucket_start timestamp NOT NULL, n_points double, "
        "gap_filled boolean NOT NULL"
    ),
    "gapfill_locf": (
        "url string, bucket_start timestamp NOT NULL, n_points bigint, "
        "gap_filled boolean NOT NULL"
    ),
    "gapfill_null": (
        "url string, bucket_start timestamp NOT NULL, n_points bigint, "
        "gap_filled boolean NOT NULL"
    ),
    "heartbeat_tier": (
        "url string, bucket_start timestamp NOT NULL, up_us bigint, "
        "n_heartbeats bigint, n_gaps bigint"
    ),
    "read_lang_state_tier": (
        "url string, bucket_start timestamp NOT NULL, state string, "
        "held_us bigint, n_spans bigint"
    ),
    "rollup_tier": (
        "url string, bucket_start timestamp, n_points bigint, sum_v double, "
        "min_v double, max_v double, first_ts timestamp, first_v double, "
        "last_ts timestamp, last_v double"
    ),
    "state_tier": (
        "url string, bucket_start timestamp NOT NULL, state string, "
        "held_us bigint, n_spans bigint"
    ),
    "state_tier_from_runs": (
        "url string, bucket_start timestamp NOT NULL, state string, "
        "held_us bigint, n_spans bigint"
    ),
    "stats_eval": (
        "url string, bucket_start timestamp, n bigint, sum_x double, "
        "sum_y double, sum_xx double, sum_xy double, sum_yy double, "
        "slope double, intercept double, r2 double, stddev_y double"
    ),
    "stats_rollup": (
        "url string, bucket_start timestamp, n bigint, sum_x double, "
        "sum_y double, sum_xx double, sum_xy double, sum_yy double"
    ),
    "twa_tier": (
        "url string, bucket_start timestamp NOT NULL, held_us bigint, "
        "wsum double"
    ),
}

def test_session_turns_off_call_site_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
    F.col("x") + 1  # warm: the functions class lookup is cached per view
    with _RoundTrips() as rt:
        F.col("x") + 1
    assert rt.n <= 4


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_round_trips_and_schema(spark, inputs, name):
    build, ceiling = OPERATORS[name]
    build(spark, inputs)  # warm: first-use lookups are not the operator's
    with _RoundTrips() as rt:
        df = build(spark, inputs)
    assert rt.n <= ceiling, f"{name}: {rt.n} round trips > {ceiling}"
    assert df.schema.json() == StructType.fromDDL(SCHEMAS[name]).json()
