"""Streaming corpus ingestion: incremental micro-batch feature
materialization + global verdicts == one batch clean_corpus run."""

import numpy as np
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"
SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_streaming_ingest_matches_batch_clean_corpus(spark, tmp_path):
    """Three file drops -> three micro-batches -> global verdicts identical
    to clean_corpus over the union (dedup crosses micro-batch boundaries)."""
    from streamchange_spark.operators import clean_corpus
    from streamchange_spark.streaming import (
        corpus_verdicts_from_ingest,
        run_streaming_corpus_ingest,
    )

    docs = _docs(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    src = tmp_path / "dumps"
    src.mkdir()
    for i, chunk in enumerate(np.array_split(np.arange(len(docs)), 3)):
        spark.createDataFrame(docs.iloc[chunk]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"dump_{i}"))

    feats_path = str(tmp_path / "features")
    ckpt = str(tmp_path / "ckpt")
    run_streaming_corpus_ingest(
        spark,
        str(src / "dump_*"),
        feats_path,
        ckpt,
        SCHEMA,
        id_col="doc_id",
        text_col="text",
        max_files_per_trigger=1,
    )
    # one feature row per document, spread over >1 batch partition
    feats = spark.read.parquet(feats_path)
    assert feats.count() == len(docs)
    assert feats.select("_batch_id").distinct().count() == 3

    got = (
        corpus_verdicts_from_ingest(spark, feats_path, id_col="doc_id")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    exp = (
        clean_corpus(_docs(spark), "doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["doc_id", "lang_pred", "keep", "drop_reason"]],
        exp[["doc_id", "lang_pred", "keep", "drop_reason"]],
    )
    assert np.allclose(got["quality_score"], exp["quality_score"])
    # the fixture actually exercises dedup
    assert (~exp["keep"]).any()


def test_streaming_ingest_resumes_without_duplicates(spark, tmp_path):
    """Re-running over the same checkpoint skips processed files; a new dump
    adds exactly its own rows."""
    from streamchange_spark.streaming import run_streaming_corpus_ingest

    docs = _docs(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    first, second = docs.iloc[:300], docs.iloc[300:]
    src = tmp_path / "dumps"
    src.mkdir()
    spark.createDataFrame(first).coalesce(1).write.parquet(str(src / "dump_0"))

    feats_path = str(tmp_path / "features")
    ckpt = str(tmp_path / "ckpt")
    args = (spark, str(src / "dump_*"), feats_path, ckpt, SCHEMA)
    kw = dict(id_col="doc_id", text_col="text")
    run_streaming_corpus_ingest(*args, **kw)
    assert spark.read.parquet(feats_path).count() == len(first)

    # no new files -> no new rows (checkpoint resume, not reprocessing)
    run_streaming_corpus_ingest(*args, **kw)
    assert spark.read.parquet(feats_path).count() == len(first)

    spark.createDataFrame(second).coalesce(1).write.parquet(str(src / "dump_1"))
    run_streaming_corpus_ingest(*args, **kw)
    feats = spark.read.parquet(feats_path)
    assert feats.count() == len(docs)
    assert feats.select("doc_id").distinct().count() == len(docs)


def test_streaming_exact_dedup_bounded_state(spark, tmp_path):
    """Byte-identical texts arriving across micro-batches within the
    watermark horizon are dropped; only first occurrences survive."""
    from streamchange_spark.streaming import streaming_exact_dedup

    ts0 = 1_704_067_200
    rows = pd.DataFrame(
        {
            "doc_id": np.arange(8, dtype=np.int64),
            "ts": pd.to_datetime(ts0 + 60 * np.arange(8), unit="s"),
            "text": [
                "alpha", "beta", "alpha",  # batch 0 (dup inside batch)
                "gamma", "beta",           # batch 1 (dup across batches)
                "delta", "alpha", "eps",   # batch 2 (dup across batches)
            ],
        }
    )
    src = tmp_path / "stream_src"
    src.mkdir()
    for i, chunk in enumerate([rows.iloc[:3], rows.iloc[3:5], rows.iloc[5:]]):
        spark.createDataFrame(chunk).coalesce(1).write.parquet(
            str(src / f"batch_{i}")
        )
    stream = (
        spark.readStream.schema("doc_id bigint, ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "batch_*"))
    )
    q = (
        streaming_exact_dedup(stream, "text", "ts", watermark_delay="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from dedup_out").toPandas()
    assert sorted(got["text"]) == ["alpha", "beta", "delta", "eps", "gamma"]
    # first occurrence kept
    assert set(got["doc_id"]) == {0, 1, 3, 5, 7}


def test_streaming_sketch_tier_matches_exact_within_bound(spark, tmp_path):
    """Two dumps streamed into partial sketches, merged into a queryable 1d
    tier: n_points exact vs the union, every percentile within the blob's
    carried rank-error bound, and a replay (fresh checkpoint-less rerun of
    one batch id) cannot duplicate counts (dynamic partition overwrite)."""
    from streamchange_spark.operators.qsketch import _decode, sketch_query
    from streamchange_spark.streaming import (
        run_streaming_sketch_ingest,
        sketch_tier_from_ingest,
    )

    rng = np.random.RandomState(11)
    src = tmp_path / "points"
    src.mkdir()
    frames = []
    base = pd.Timestamp("2024-03-01").value // 10**9
    for dump in range(2):
        n = 4000
        pdf = pd.DataFrame(
            {
                "key": np.where(rng.rand(n) < 0.5, "a", "b"),
                "ts": pd.to_datetime(
                    base + dump * 43200 + rng.randint(0, 86400 * 2, n), unit="s"
                ),
                "value": rng.lognormal(0.0, 1.0, n),
            }
        )
        pdf.to_parquet(src / f"dump{dump}.parquet", coerce_timestamps="us")
        frames.append(pdf)
    allpdf = pd.concat(frames, ignore_index=True)

    sketch_path = str(tmp_path / "sketches")
    ckpt = str(tmp_path / "ckpt_sk")
    eps = 0.02
    run_streaming_sketch_ingest(
        spark, str(src), sketch_path, ckpt,
        "key string, ts timestamp, value double",
        ["key"], "ts", "value", tier="1h", eps=eps,
        max_files_per_trigger=1, timeout_sec=300,
    )
    tier = sketch_tier_from_ingest(spark, sketch_path, ["key"], "1d", eps=eps)
    got = tier.toPandas()

    allpdf["bucket"] = (allpdf["ts"].astype("int64") // 10**9 // 86400) * 86400
    for _, row in got.iterrows():
        b = int(pd.Timestamp(row["bucket_start"]).value // 10**9)
        x = np.sort(
            allpdf[(allpdf["key"] == row["key"]) & (allpdf["bucket"] == b)][
                "value"
            ].to_numpy()
        )
        assert len(x) == row["n_points"]
        blob = bytes(row["qsketch"])
        n_tot, err, _, _ = _decode(blob)
        assert n_tot == len(x)
        for q, est in zip([0.5, 0.99], sketch_query(blob, [0.5, 0.99])):
            target = min(max(int(np.ceil(q * len(x))), 1), len(x))
            lo = int(np.searchsorted(x, est, side="left")) + 1
            hi = int(np.searchsorted(x, est, side="right"))
            assert lo - err <= target <= hi + err


def test_streaming_kmv_tier_bit_equals_batch(spark, tmp_path):
    """Two dumps streamed into partial bottom-k sketches, merged into a
    queryable 1d tier == kmv_tier run in BATCH over the union, bit for bit
    (bottom-k is closed under union, so the stream's micro-batch chopping
    must leave no trace — a stronger contract than the quantile twin's
    within-bound check)."""
    from pyspark.sql import functions as F

    from streamchange_spark.operators import kmv_distinct, kmv_tier
    from streamchange_spark.streaming import (
        kmv_tier_from_ingest,
        run_streaming_kmv_ingest,
    )

    rng = np.random.RandomState(13)
    src = tmp_path / "kmv_events"
    src.mkdir()
    frames = []
    base = pd.Timestamp("2024-03-01").value // 10**9
    for dump in range(2):
        n = 3000
        pdf = pd.DataFrame(
            {
                "key": np.where(rng.rand(n) < 0.5, "a", "b"),
                "ts": pd.to_datetime(
                    base + dump * 43200 + rng.randint(0, 86400 * 2, n), unit="s"
                ),
                "uid": rng.randint(0, 900, n),
            }
        )
        pdf.to_parquet(src / f"dump{dump}.parquet", coerce_timestamps="us")
        frames.append(pdf)

    sketch_path = str(tmp_path / "kmv_sketches")
    ckpt = str(tmp_path / "ckpt_kmv")
    k = 48
    run_streaming_kmv_ingest(
        spark, str(src), sketch_path, ckpt,
        "key string, ts timestamp, uid bigint",
        ["key"], "ts", "uid", tier="1h", k=k,
        max_files_per_trigger=1, timeout_sec=300,
    )
    streamed = kmv_tier_from_ingest(spark, sketch_path, ["key"], "1d", k=k)

    union = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    batch = kmv_tier(union, ["key"], "ts", "uid", tier="1d", k=k)

    def snap(df):
        return sorted(
            tuple(r)
            for r in df.select("key", "bucket_start", "n_points", "kmv").collect()
        )

    assert snap(streamed) == snap(batch)

    # estimates off the streamed tier stay within the KMV RSE band
    est = {
        (r.key, r.bucket_start): r.n_distinct_approx
        for r in kmv_distinct(streamed, k=k).collect()
    }
    exact = {
        (r.key, r.b): r.x
        for r in union.groupBy(
            "key", F.date_trunc("day", "ts").alias("b")
        ).agg(F.countDistinct("uid").alias("x")).collect()
    }
    rse = 1.0 / (k - 2) ** 0.5
    for key, approx in est.items():
        x = exact[key]
        assert abs(approx - x) / x < 4 * rse if x >= k else approx == float(x)


def test_timed_out_ingest_stops_and_resumes(spark, tmp_path):
    """An ingest still running at ``timeout_sec`` is stopped and raises
    TimeoutError instead of returning while its query keeps writing; the
    re-run resumes from the checkpoint and the merged tier still equals
    the batch build."""
    from streamchange_spark.operators import kmv_tier
    from streamchange_spark.streaming import (
        kmv_tier_from_ingest,
        run_streaming_kmv_ingest,
    )

    rng = np.random.RandomState(5)
    src = tmp_path / "events"
    src.mkdir()
    base = pd.Timestamp("2024-03-01").value // 10**9
    frames = []
    for dump in range(2):
        pdf = pd.DataFrame(
            {
                "key": np.where(rng.rand(500) < 0.5, "a", "b"),
                "ts": pd.to_datetime(base + rng.randint(0, 86400, 500), unit="s"),
                "uid": rng.randint(0, 300, 500),
            }
        )
        pdf.to_parquet(src / f"dump{dump}.parquet", coerce_timestamps="us")
        frames.append(pdf)
    sketch_path = str(tmp_path / "sketches")
    args = (
        spark, str(src), sketch_path, str(tmp_path / "ckpt"),
        "key string, ts timestamp, uid bigint", ["key"], "ts", "uid",
    )
    with pytest.raises(TimeoutError):
        run_streaming_kmv_ingest(
            *args, k=32, max_files_per_trigger=1, timeout_sec=0.001
        )
    assert spark.streams.active == []

    run_streaming_kmv_ingest(*args, k=32, max_files_per_trigger=1)
    union = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    cols = ["key", "bucket_start", "n_points", "kmv"]
    assert sorted(
        tuple(r) for r in kmv_tier_from_ingest(
            spark, sketch_path, ["key"], k=32
        ).select(cols).collect()
    ) == sorted(
        tuple(r) for r in kmv_tier(union, ["key"], "ts", "uid", k=32)
        .select(cols).collect()
    )


def test_streaming_hh_tier_invariant_over_ingest(spark, tmp_path):
    """Two dumps streamed into partial heavy-hitter summaries, merged into
    a queryable 1d tier: the carried err reflects the stream's merge tree
    (per-batch truncation + merge truncation), and est <= true <= est + err
    plus the presence guarantee hold against exact counts over the full
    ingested input. Small m so both the per-batch and merge truncations
    actually fire."""
    from pyspark.sql import functions as F

    from streamchange_spark.streaming import (
        hh_tier_from_ingest,
        run_streaming_hh_ingest,
    )

    rng = np.random.RandomState(17)
    src = tmp_path / "hh_events"
    src.mkdir()
    frames = []
    base = pd.Timestamp("2024-03-01").value // 10**9
    for dump in range(2):
        n = 3000
        pdf = pd.DataFrame(
            {
                "key": np.where(rng.rand(n) < 0.5, "a", "b"),
                "ts": pd.to_datetime(
                    base + dump * 43200 + rng.randint(0, 86400 * 2, n), unit="s"
                ),
                # zipf-ish skew so heavy hitters exist
                "item": np.floor(np.sqrt(rng.randint(0, 3600, n))).astype(np.int64),
            }
        )
        pdf.to_parquet(src / f"dump{dump}.parquet", coerce_timestamps="us")
        frames.append(pdf)

    summary_path = str(tmp_path / "hh_summaries")
    ckpt = str(tmp_path / "ckpt_hh")
    m = 6
    run_streaming_hh_ingest(
        spark, str(src), summary_path, ckpt,
        "key string, ts timestamp, item bigint",
        ["key"], "ts", "item", tier="1h", m=m,
        max_files_per_trigger=1, timeout_sec=300,
    )
    tier = hh_tier_from_ingest(spark, summary_path, ["key"], "1d", m=m)

    union = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    true = {
        (r.key, r.b, r.item): r.c
        for r in union.groupBy(
            "key",
            F.date_trunc("day", "ts").alias("b"),
            F.col("item").cast("string").alias("item"),
        ).agg(F.count(F.lit(1)).alias("c")).collect()
    }
    summaries = {
        (r.key, r.bucket_start): ({kv.item: kv.cnt for kv in r.items}, r.err)
        for r in tier.collect()
    }
    assert summaries and any(err > 0 for _, err in summaries.values())
    for (key, bucket), (est_map, err) in summaries.items():
        for item, est in est_map.items():
            t = true[(key, bucket, item)]
            assert est <= t <= est + err, (key, bucket, item)
        for (k2, b2, item), t in true.items():
            if k2 == key and b2 == bucket and t > err:
                assert item in est_map, (key, bucket, item, t, err)


def test_streaming_signature_ingest_scores_bit_equal_batch(spark, tmp_path):
    """Crawl dumps streamed into per-micro-batch snapshot signatures; the
    scored series over the accumulated table bit-equals a batch
    snapshot_change_scores over the union — lags cross micro-batch
    boundaries because the score window reads the whole ingested table.
    The fixture interleaves urls across dumps so consecutive snapshots of
    one url genuinely land in different micro-batches."""
    from pyspark.sql import functions as F

    from streamchange_spark.operators import snapshot_change_scores
    from streamchange_spark.streaming import (
        change_scores_from_ingest,
        run_streaming_signature_ingest,
    )

    rng = np.random.RandomState(19)
    base = pd.Timestamp("2024-03-01").value // 10**9
    texts = [
        "the quick brown fox jumps over the lazy dog once more today",
        "the quick brown fox jumps over the sleepy cat once more today",
        "entirely new content appears on this page after the big rewrite",
        "tiny",
    ]
    rows = []
    for snap in range(6):
        for u in range(8):
            rows.append(
                {
                    "url": f"https://site{u}.test/page",
                    "warc_ts": pd.Timestamp(
                        base + snap * 86400 + u * 60, unit="s"
                    ),
                    "text": texts[rng.randint(0, len(texts))],
                }
            )
    pdf = pd.DataFrame(rows)
    src = tmp_path / "crawl"
    src.mkdir()
    # chop by snapshot round: url series span every dump
    for snap in range(6):
        pdf.iloc[snap * 8 : (snap + 1) * 8].to_parquet(
            src / f"dump{snap}.parquet", coerce_timestamps="us"
        )

    sig_path = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt_sig")
    k = 8
    run_streaming_signature_ingest(
        spark, str(src), sig_path, ckpt,
        "url string, warc_ts timestamp, text string",
        num_hashes=k, max_files_per_trigger=2, timeout_sec=300,
    )
    streamed = change_scores_from_ingest(spark, sig_path, num_hashes=k)
    # both sides on the production hash default (streaming ingest defaults
    # to xxhash, matching pipeline.py's sig stage)
    batch = snapshot_change_scores(
        spark.createDataFrame(pdf), num_hashes=k, hash_fn="xxhash"
    )
    key = ["url", "warc_ts"]
    pd.testing.assert_frame_equal(
        streamed.orderBy(*key).toPandas(), batch.orderBy(*key).toPandas()
    )
    # sanity: the fixture produced real transitions
    got = streamed.toPandas()
    assert (got["change_score"].dropna() > 0).any()
    assert (got["change_score"].dropna() == 0).any()


def test_streaming_stats_tier_matches_batch(spark, tmp_path):
    """Two dumps streamed into partial regression moments, merged into a
    queryable 1d trend tier == stats_tier run in BATCH over the union —
    the evaluated surface (slope/r2/stddev) equal after rounding (moments
    are additive; only float summation order differs)."""
    from streamchange_spark.operators import stats_eval, stats_rollup, stats_tier
    from streamchange_spark.streaming import (
        run_streaming_stats_ingest,
        stats_tier_from_ingest,
    )

    rng = np.random.RandomState(29)
    src = tmp_path / "stats_events"
    src.mkdir()
    frames = []
    base = pd.Timestamp("2024-03-01").value // 10**9
    for dump in range(2):
        n = 2500
        pdf = pd.DataFrame(
            {
                "key": np.where(rng.rand(n) < 0.5, "a", "b"),
                "ts": pd.to_datetime(
                    base + dump * 43200 + rng.randint(0, 86400 * 2, n), unit="s"
                ),
                "v": rng.randn(n) * 5.0 + np.arange(n) * 0.01,
            }
        )
        pdf.to_parquet(src / f"dump{dump}.parquet", coerce_timestamps="us")
        frames.append(pdf)

    stats_path = str(tmp_path / "stats_parts")
    ckpt = str(tmp_path / "ckpt_stats")
    run_streaming_stats_ingest(
        spark, str(src), stats_path, ckpt,
        "key string, ts timestamp, v double",
        ["key"], "ts", "v", tier="1h",
        max_files_per_trigger=1, timeout_sec=300,
    )
    streamed = stats_eval(stats_tier_from_ingest(spark, stats_path, ["key"], "1d"))

    union = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    batch = stats_eval(
        stats_rollup(stats_tier(union, ["key"], "ts", "v", "1h"), ["key"], "1d")
    )

    def snap(df):
        return sorted(
            (
                r["key"], r["bucket_start"], r["n"],
                None if r["slope"] is None else round(r["slope"], 6),
                None if r["r2"] is None else round(r["r2"], 8),
                None if r["stddev_y"] is None else round(r["stddev_y"], 8),
            )
            for r in df.collect()
        )

    a, b = snap(streamed), snap(batch)
    assert a == b and len(a) >= 4


def test_streaming_state_tier_matches_batch(spark, tmp_path):
    """Two chronological dumps streamed into run-length state partials,
    merged into a queryable 1d tier: held_us bit-equals state_tier run in
    BATCH over the union (span durations are exact integer microseconds;
    run compaction preserves them). n_spans counts the compacted set's
    spans, so it is compared only on the encode_runs=False path below."""
    from streamchange_spark.operators import state_tier
    from streamchange_spark.streaming import (
        run_streaming_state_ingest,
        state_tier_from_ingest,
    )

    rng = np.random.RandomState(31)
    src = tmp_path / "state_events"
    src.mkdir()
    frames = []
    base = pd.Timestamp("2024-03-01").value // 10**9
    for dump in range(2):
        n = 1500
        # chronological dumps: dump 1 strictly after dump 0 per key
        pdf = pd.DataFrame(
            {
                "key": np.where(rng.rand(n) < 0.5, "a", "b"),
                "ts": pd.to_datetime(
                    base + dump * 86400 * 2
                    + np.sort(rng.choice(86400 * 2, n, replace=False)),
                    unit="s",
                ),
                "state": rng.choice(["ok", "redirect", "error"], n),
            }
        )
        pdf.to_parquet(src / f"dump{dump}.parquet", coerce_timestamps="us")
        frames.append(pdf)

    runs_path = str(tmp_path / "state_runs")
    ckpt = str(tmp_path / "ckpt_state")
    run_streaming_state_ingest(
        spark, str(src), runs_path, ckpt,
        "key string, ts timestamp, state string",
        ["key"], "ts", "state",
        max_files_per_trigger=1, timeout_sec=300,
    )
    streamed = state_tier_from_ingest(spark, runs_path, ["key"], "1d")

    union = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    batch = state_tier(union, ["key"], "ts", "state", "1d")

    def held(df):
        return sorted(
            (r["key"], r["bucket_start"], r["state"], r["held_us"])
            for r in df.collect()
        )

    a, b = held(streamed), held(batch)
    assert a == b and len(a) >= 6
    # compaction actually happened: stored runs < observations
    n_runs = spark.read.parquet(runs_path).count()
    assert n_runs < 3000

    # encode_runs=False: every observation retained -> FULL bit equality,
    # n_spans included
    runs2 = str(tmp_path / "state_runs_full")
    run_streaming_state_ingest(
        spark, str(src), runs2, str(tmp_path / "ckpt_state2"),
        "key string, ts timestamp, state string",
        ["key"], "ts", "state", encode_runs=False,
        max_files_per_trigger=1, timeout_sec=300,
    )
    streamed_full = state_tier_from_ingest(spark, runs2, ["key"], "1d")
    key = lambda r: (r["key"], r["bucket_start"], r["state"])
    sf = sorted(streamed_full.collect(), key=key)
    bf = sorted(batch.collect(), key=key)
    assert [tuple(r) for r in sf] == [tuple(r) for r in bf]

    # ... and the same obs-level ingest serves uptime for free, bit-equal
    # to the batch heartbeat build over the raw observations
    from streamchange_spark.operators import heartbeat_tier
    from streamchange_spark.streaming import uptime_tier_from_ingest

    up_stream = uptime_tier_from_ingest(
        spark, runs2, ["key"], "1d", tolerance_s=1800.0
    )
    up_batch = heartbeat_tier(union, ["key"], "ts", "1d", tolerance_s=1800.0)
    hkey = lambda r: (r["key"], r["bucket_start"])
    assert sorted(map(tuple, up_stream.collect())) == sorted(
        map(tuple, up_batch.collect())
    )
