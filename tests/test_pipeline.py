"""End-to-end flagship pipeline: resume semantics, lineage, text invariant,
and plan hygiene (column pruning)."""

import pytest
from pyspark.sql import functions as F

from streamchange_spark.pipeline import extract_metrics, run_pipeline
from streamchange_spark.sources import SnapshotStore, generate_pages, text_manifest


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, n_urls=12, mean_snapshots=30).cache()


def test_pipeline_end_to_end_and_resume(spark, tmp_path, pages):
    store_dir = str(tmp_path / "table")
    r1 = run_pipeline(spark, pages, store_dir)
    assert r1["days_built"] == r1["days_total"] > 0
    assert r1["rolled_rows"] > 0
    assert r1["snapshot_id"] is not None

    # Resume over the same store: nothing to rebuild, same outputs.
    r2 = run_pipeline(spark, pages, store_dir)
    assert r2["days_built"] == 0
    assert r2["snapshot_id"] is None
    assert r2["rolled_rows"] == r1["rolled_rows"]
    assert r2["changepoints"] == r1["changepoints"]

    # Lineage: one row per committed partition (tier + gorilla + qsketch
    # + kmv + stats + staterun + sig per day).
    store = SnapshotStore(store_dir)
    lineage = store.lineage(spark).toPandas()
    assert len(lineage) == 7 * r1["days_total"]
    assert r1["trend_1d_rows"] > 0 and r2["trend_1d_rows"] == r1["trend_1d_rows"]
    assert r1["lang_state_1d_rows"] > 0
    assert r2["lang_state_1d_rows"] == r1["lang_state_1d_rows"]
    assert r1["crawl_uptime_1d_rows"] > 0
    assert r2["crawl_uptime_1d_rows"] == r1["crawl_uptime_1d_rows"]
    assert r1["pctl_1d_rows"] > 0 and r2["pctl_1d_rows"] == r1["pctl_1d_rows"]
    assert r1["uniq_urls_1d_rows"] > 0
    assert r2["uniq_urls_1d_rows"] == r1["uniq_urls_1d_rows"]
    # churn series detected from the committed per-day signatures; the
    # resume run scores the identical persisted table
    assert r2["churn_changepoints"] == r1["churn_changepoints"]
    # crawl-frequency series detected from the committed 1h tier
    assert r2["freq_changepoints"] == r1["freq_changepoints"]
    assert (lineage["bytes"] > 0).all()
    # Row counts are commit-time footer metadata: the tier1h lineage rows
    # must sum to exactly the rolled-up point count, no scan involved.
    tier_rows = lineage[lineage["partition"].str.startswith("tier1h/")]
    assert int(tier_rows["n_rows"].sum()) == r1["rolled_rows"]

    # Manifest column stats are live on the flagship tiers: every 1h-tier
    # file carries (url, bucket_start) bounds, so range reads can skip.
    m = store.manifest()
    tier_files = [
        f for k, v in m["files"].items() if k.startswith("tier1h/") for f in v
    ]
    assert tier_files
    for f in tier_files:
        assert {"url", "bucket_start"} <= set(m["file_stats"][f])
    # A day-disjoint bucket_start range prunes other days' files.
    some_day = sorted(k for k in m["files"] if k.startswith("tier1h/"))[0]
    lo = m["file_stats"][m["files"][some_day][0]]["bucket_start"][0]
    narrow = store.files_for(
        prefix="tier1h/", ranges={"bucket_start": (lo, lo)}
    )
    assert 0 < len(narrow) < len(tier_files)


def test_interrupted_equals_clean(spark, tmp_path, pages):
    """Build half the days, then resume; final tier table equals a clean
    uninterrupted run byte-for-byte."""
    all_days = sorted(
        str(r["day"])
        for r in pages.select(F.to_date("warc_ts").alias("day")).distinct().collect()
    )
    half = pages.where(F.to_date("warc_ts") <= F.lit(all_days[len(all_days) // 2]))

    interrupted_dir = str(tmp_path / "interrupted")
    run_pipeline(spark, half, interrupted_dir)  # "crash" mid-backfill
    run_pipeline(spark, pages, interrupted_dir)  # resume with full input

    clean_dir = str(tmp_path / "clean")
    run_pipeline(spark, pages, clean_dir)

    a = SnapshotStore(interrupted_dir).read(spark, prefix="tier1h/").orderBy(
        "url", "bucket_start"
    )
    b = SnapshotStore(clean_dir).read(spark, prefix="tier1h/").orderBy(
        "url", "bucket_start"
    )
    cols = ["url", "bucket_start", "n_points", "sum_v", "min_v", "max_v"]
    pa = a.select(cols).toPandas()
    pb = b.select(cols).toPandas()
    assert pa.equals(pb)


def test_metric_extraction_prunes_heavy_columns(spark, tmp_path, pages):
    """The physical plan's Parquet ReadSchema must not contain html/text
    payloads beyond length — i.e. only url, warc_ts, text are read, html is
    pruned."""
    path = str(tmp_path / "pages_pruned.parquet")
    pages.write.mode("overwrite").parquet(path)
    plan = extract_metrics(spark.read.parquet(path))._jdf.queryExecution().executedPlan().toString()
    assert "html" not in plan
    assert "url" in plan


def test_text_invariant_preserved(spark, tmp_path, pages):
    """sha256(text) manifest equal before/after the pipeline's storage hop."""
    before = text_manifest(pages).orderBy("url", "warc_ts").toPandas()
    path = str(tmp_path / "pages_rt.parquet")
    pages.write.mode("overwrite").parquet(path)
    after = text_manifest(spark.read.parquet(path)).orderBy("url", "warc_ts").toPandas()
    assert before.equals(after)


def test_corpus_pipeline_runs_and_resumes(spark, tmp_path):
    """Corpus pipeline: shard-partitioned verdicts committed via the
    SnapshotStore; a second run builds zero shards and reads identical
    verdicts (resume identity, same contract as the time-series pipeline)."""
    from streamchange_spark.corpus_pipeline import run_corpus_pipeline
    from streamchange_spark.sources import generate_pages

    pages = generate_pages(spark, n_urls=60, mean_snapshots=6)
    store = str(tmp_path / "corpus_store")
    m1 = run_corpus_pipeline(
        spark, pages, store, n_shards=2, min_quality=0.0, keep_langs=None
    )
    assert m1["shards_built"] == 2
    assert m1["docs"] == 60  # one verdict per distinct url
    assert m1["kept"] >= 1
    assert sum(m1["breakdown"].values()) == m1["docs"]

    m2 = run_corpus_pipeline(
        spark, pages, store, n_shards=2, min_quality=0.0, keep_langs=None
    )
    assert m2["shards_built"] == 0 and m2["snapshot_id"] is None
    assert m2["breakdown"] == m1["breakdown"]


def test_corpus_pipeline_dedup_crosses_shards(spark, tmp_path):
    """Duplicate texts at DIFFERENT urls land in different hash shards; the
    global dedup stage must still keep exactly one representative per text
    (the round-2 shard-local design silently kept one per shard)."""
    from pyspark.sql import functions as F

    from streamchange_spark.corpus_pipeline import run_corpus_pipeline
    from streamchange_spark.sources.snapshots import SnapshotStore

    dup_text = (
        "identical english article about the spark cluster and the parquet "
        "files in the warm data center near the house " * 6
    )
    uniq = (
        "another completely different english story about the engine and "
        "the schedule of the jobs in the queue " * 6
    )
    rows = [(f"http://site{i}.com/a", dup_text) for i in range(16)]
    rows += [("http://unique.com/x", uniq)]
    pages = spark.createDataFrame(
        [(u, t) for u, t in rows], "url string, text string"
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))

    store = str(tmp_path / "xshard_store")
    m = run_corpus_pipeline(
        spark, pages, store, n_shards=4, min_quality=0.0, keep_langs=None
    )
    assert m["docs"] == 17
    # all 16 duplicate urls cannot share one of 4 shards; global dedup must
    # still reduce them to ONE keeper (+ the unique doc)
    assert m["kept"] == 2
    assert m["breakdown"].get("exact_dup", 0) == 15

    verdicts = SnapshotStore(store).read(spark, prefix="verdicts/")
    keepers = {r["url"] for r in verdicts.where("keep").collect()}
    assert "http://unique.com/x" in keepers and len(keepers) == 2


def test_latest_pages_matches_window_plan_and_combines_map_side(spark):
    """latest_pages (max-struct aggregate) == the row_number-window
    recomputation on unique timestamps, resolves warc_ts ties
    deterministically, and its plan carries a map-side partial_max (only
    each partition's newest row per url reaches the shuffle)."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from streamchange_spark.corpus_pipeline import latest_pages
    from streamchange_spark.sources import generate_pages

    pages = generate_pages(spark, n_urls=60, mean_snapshots=12, num_partitions=8)
    got = latest_pages(pages).toPandas().sort_values("url").reset_index(drop=True)

    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    exp = (
        pages.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert pages.select("url", "warc_ts").distinct().count() == pages.count()
    pd.testing.assert_frame_equal(got, exp[got.columns.tolist()])

    # tie on warc_ts: lexicographically largest remaining fields win,
    # independent of row/partition order
    ts = pd.Timestamp("2024-01-01 00:00:00")
    tie = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u", "u"],
                "warc_ts": [ts, ts],
                "html": [b"a", b"b"],
                "text": ["aaa", "zzz"],
                "lang": ["en", "en"],
            }
        )
    ).repartition(4)
    picked = latest_pages(tie).toPandas()
    assert len(picked) == 1 and picked["text"].iloc[0] == "zzz"

    plan = (
        latest_pages(pages)._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_max" in plan


def test_freq_detector_fires_on_crawl_rate_shift(spark):
    """Positive control for the pipeline's crawl-frequency stage: a url
    whose crawl rate regime-shifts (hourly -> every 6 hours) must be
    flagged by the exact composition run_pipeline uses (1h rollup ->
    gapfill(null)/zero-fill -> WindowSegmentor standardize=True), and a
    url crawled at a constant rate must not be. The zero-fill is the
    load-bearing part: a frequency DROP is missing tier rows, so without
    densification the detector would see a constant n_points=1 series on
    both urls. Guards against freq_changepoints == 0 silently meaning
    "series was constant by bug" rather than "no rate shifts"."""
    import pandas as pd

    from streamchange_spark.operators import (
        gapfill,
        rollup_raw,
        window_segmentor_changepoints,
    )
    from streamchange_spark.pipeline import default_detector_factory

    hours = [("steady", h) for h in range(600)]
    hours += [("slowing", h) for h in range(300)]
    hours += [("slowing", h) for h in range(300, 600, 6)]
    pdf = pd.DataFrame(
        {
            "url": [u for u, _ in hours],
            "warc_ts": [
                pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h, seconds=120)
                for _, h in hours
            ],
            "text_len": 100.0,
        }
    )
    metrics = spark.createDataFrame(pdf).repartition(8)

    tier1h = rollup_raw(metrics, ["url"], "warc_ts", "text_len", "1h")
    hourly_freq = gapfill(
        tier1h.select("url", "bucket_start", "n_points"),
        ["url"], "bucket_start", "n_points", step_seconds=3600,
        method="null",
    ).select(
        "url",
        "bucket_start",
        F.coalesce(F.col("n_points"), F.lit(0)).cast("double").alias("v"),
    )
    cpts = window_segmentor_changepoints(
        hourly_freq,
        default_detector_factory,
        key_cols=["url"],
        ts_col="bucket_start",
        value_cols=["v"],
        standardize=True,
    ).collect()

    by_url: dict = {}
    for r in cpts:
        by_url.setdefault(r.url, []).append(r.changepoint_ts)
    # constant 1/hour z-scores to NaN -> dropna -> silent
    assert "steady" not in by_url
    # the rate shift is detected and localizes at the shift hour (h=300)
    assert "slowing" in by_url
    shift = pd.Timestamp("2024-01-01") + pd.Timedelta(hours=300)
    assert min(by_url["slowing"]) == shift


def test_compaction_binpacks_preserving_rows_and_time_travel(spark, tmp_path):
    """compact_partitions rewrites a many-small-files partition into the
    bin-packed target, leaves the row set bit-identical, keeps the
    pre-compaction snapshot time-travelable, is idempotent, and lets
    expire_snapshots reclaim exactly the replaced small files."""
    store = SnapshotStore(str(tmp_path / "tbl"))
    df = spark.range(2000).select("id", (F.col("id") % 7).alias("v"))
    store.commit_partitions(
        {
            "tier1h/day=2026-01-01": df.repartition(16),
            "tier1h/day=2026-01-02": df.where("id < 50").coalesce(1),
            "sig/day=2026-01-01": df.repartition(4),
        }
    )
    pre = store.head()
    m = store.manifest()
    assert len(m["files"]["tier1h/day=2026-01-01"]) == 16
    before = store.read(spark, prefix="tier1h/").orderBy("id").collect()

    snap, report = store.compact_partitions(
        spark, target_file_bytes=1 << 30,
        predicate=lambda k: k.startswith("tier1h/"),
    )
    assert snap is not None
    assert report == {
        "tier1h/day=2026-01-01": {
            "files_before": 16,
            "files_after": 1,
            "bytes": report["tier1h/day=2026-01-01"]["bytes"],
        }
    }  # day=02 already 1 file; sig/ excluded by predicate
    # Compaction preserves the recorded row count exactly.
    assert (
        store.manifest()["metrics"]["tier1h/day=2026-01-01"]["n_rows"] == 2000
    )
    assert len(store.manifest()["files"]["sig/day=2026-01-01"]) == 4

    # Row set unchanged; pre-compaction snapshot still time-travels.
    assert store.read(spark, prefix="tier1h/").orderBy("id").collect() == before
    assert (
        store.read(spark, snapshot_id=pre, prefix="tier1h/")
        .orderBy("id")
        .collect()
        == before
    )

    # Idempotent: a second pass finds nothing to do.
    snap2, rep2 = store.compact_partitions(
        spark, target_file_bytes=1 << 30,
        predicate=lambda k: k.startswith("tier1h/"),
    )
    assert snap2 is None and rep2 == {}

    # Expiring history reclaims exactly the 16 replaced small files.
    deleted = store.expire_snapshots(keep_last=1)
    assert len(deleted) == 16
    assert all("day=2026-01-01" in f for f in deleted)
    assert store.read(spark, prefix="tier1h/").orderBy("id").collect() == before


def test_remove_orphan_files_sweeps_only_unreferenced_and_aged(spark, tmp_path):
    """Crash-orphaned data files (referenced by NO manifest) are reclaimed
    after the grace period; live files and too-young orphans survive."""
    import os

    store = SnapshotStore(str(tmp_path / "tbl"))
    df = spark.range(100).select("id")
    store.commit_partitions({"tier1h/day=2026-01-01": df.coalesce(2)})

    # Simulate a crashed writer: data files landed, manifest never did.
    orphan_dir = tmp_path / "tbl" / "data" / "crashed-snap" / "tier1h" / "d2"
    orphan_dir.mkdir(parents=True)
    df.coalesce(1).write.mode("overwrite").parquet(str(orphan_dir))
    orphans = [
        str(orphan_dir / f)
        for f in os.listdir(orphan_dir)
        if f.endswith(".parquet")
    ]
    assert orphans

    # Inside the grace period: nothing is swept.
    assert store.remove_orphan_files(older_than_seconds=3600) == []
    # Past the grace period: exactly the orphans go, live files stay.
    deleted = store.remove_orphan_files(older_than_seconds=0)
    assert sorted(deleted) == sorted(orphans)
    assert store.read(spark).count() == 100
    # Idempotent; live partition still fully present in the manifest.
    assert store.remove_orphan_files(older_than_seconds=0) == []
    for f in store.manifest()["files"]["tier1h/day=2026-01-01"]:
        assert os.path.exists(f)


def test_manifest_stats_prune_files_without_dropping_rows(spark, tmp_path):
    """commit_partitions(stat_cols=...) records per-file [min, max] from the
    parquet footers; files_for/read skip provably-disjoint files, never a
    file that could hold matching rows, and compaction carries the stats."""
    store = SnapshotStore(str(tmp_path / "tbl"))
    df = spark.range(1000).select(
        "id", F.timestamp_seconds(F.col("id") * 3600).alias("ts")
    )
    store.commit_partitions(
        {"tier1h/day=d1": df.repartitionByRange(4, "id")},
        stat_cols=["id", "ts"],
    )
    assert len(store.files_for(prefix="tier1h/")) == 4

    # Numeric range: only the one file whose [min, max] overlaps survives.
    pruned = store.files_for(prefix="tier1h/", ranges={"id": (0, 100)})
    assert len(pruned) == 1
    got = store.read(spark, prefix="tier1h/", ranges={"id": (0, 100)})
    assert sorted(r.id for r in got.where("id <= 100").collect()) == list(
        range(101)
    )

    # Timestamp range via ISO-8601 strings (order-preserving encoding).
    pruned_ts = store.files_for(
        prefix="tier1h/", ranges={"ts": (None, "1970-01-05T00:00:00")}
    )
    assert 1 <= len(pruned_ts) < 4
    n_ts = store.read(
        spark, prefix="tier1h/", ranges={"ts": (None, "1970-01-05T00:00:00")}
    ).where("ts <= timestamp'1970-01-05 00:00:00'").count()
    assert n_ts == df.where("ts <= timestamp'1970-01-05 00:00:00'").count()

    # Stats survive compaction (4 files -> 1, stats recomputed).
    snap, _report = store.compact_partitions(spark, target_file_bytes=1 << 30)
    assert snap is not None
    m = store.manifest()
    new_files = m["files"]["tier1h/day=d1"]
    assert len(new_files) == 1 and new_files[0] in m["file_stats"]
    assert set(m["file_stats"][new_files[0]]) == {"id", "ts"}
    # Fully-disjoint range: everything pruned; read() refuses loudly.
    assert store.files_for(prefix="tier1h/", ranges={"id": (2000, 3000)}) == []
    with pytest.raises(FileNotFoundError):
        store.read(spark, prefix="tier1h/", ranges={"id": (2000, 3000)})
    # A file without stats is always read (sound default).
    store.commit_partitions({"tier1h/day=d2": df.limit(10).coalesce(1)})
    assert (
        len(store.files_for(prefix="tier1h/", ranges={"id": (2000, 3000)})) == 1
    )


def test_cluster_by_makes_key_range_pruning_bite(spark, tmp_path):
    """Without clustering every file of a time-partition holds the whole key
    space (a key-range read opens all files); with cluster_by the files are
    key-disjoint and the same read opens a strict subset, same rows."""
    df = spark.range(4000).select(
        F.format_string("url-%04d", (F.col("id") % 100)).alias("url"),
        F.col("id").alias("seq"),
    )
    plain = SnapshotStore(str(tmp_path / "plain"))
    plain.commit_partitions(
        {"t/day=d1": df.repartition(8)}, stat_cols=["url"]
    )
    clustered = SnapshotStore(str(tmp_path / "clustered"))
    clustered.commit_partitions(
        {"t/day=d1": df},
        stat_cols=["url"],
        cluster_by=["url"],
        cluster_files=8,
    )
    rng = {"url": ("url-0000", "url-0009")}
    n_plain = len(plain.files_for(prefix="t/", ranges=rng))
    assert n_plain == len(plain.files_for(prefix="t/"))  # no pruning possible
    kept = clustered.files_for(prefix="t/", ranges=rng)
    assert 0 < len(kept) < len(clustered.files_for(prefix="t/"))
    a = (
        clustered.read(spark, prefix="t/", ranges=rng)
        .where("url <= 'url-0009'")
        .orderBy("seq")
        .collect()
    )
    b = df.where("url <= 'url-0009'").orderBy("seq").collect()
    assert a == b


def test_metadata_tables_reflect_store_state(spark, tmp_path):
    """snapshots_table / files_table (the .snapshots / .files metadata-table
    analogues) report the chain and per-file stats accurately."""
    import json as _json

    store = SnapshotStore(str(tmp_path / "tbl"))
    df = spark.range(100).select("id")
    store.commit_partitions(
        {"t/day=d1": df.repartition(2)},
        stat_cols=["id"],
        properties={"stage": "tiers"},
    )
    store.commit_partitions({"t/day=d2": df.coalesce(1)})

    snaps = store.snapshots_table(spark).toPandas()
    assert list(snaps["n_partitions"]) == [2, 1]  # newest first
    assert list(snaps["n_files"]) == [3, 2]
    assert snaps["parent"][0] == snaps["snapshot_id"][1]
    assert snaps["stage"][1] == "tiers"
    assert list(snaps["seq"]) == [2, 1]

    # delete state surfaces in the snapshots table
    store.delete_where(spark, "id = 1", mode="merge-on-read")
    store.delete_keys(spark, spark.createDataFrame([(2,)], "id long"))
    snaps = store.snapshots_table(spark).toPandas()
    assert list(snaps["seq"]) == [4, 3, 2, 1]
    assert snaps["n_pos_delete_files"][0] == 1
    assert snaps["n_eq_tombstones"][0] == 1
    assert snaps["n_pos_delete_files"][3] == 0 == snaps["n_eq_tombstones"][3]

    files = store.files_table(spark).toPandas()
    assert len(files) == 3
    d1 = files[files["partition"] == "t/day=d1"]
    assert (d1["bytes"] > 0).all()
    bounds = [
        _json.loads(s)["id"] for s in d1["column_stats"] if s is not None
    ]
    assert len(bounds) == 2
    assert min(b[0] for b in bounds) == 0 and max(b[1] for b in bounds) == 99
    # d2 was committed without stat_cols -> no stats recorded
    d2 = files[files["partition"] == "t/day=d2"]
    assert d2["column_stats"].isna().all()


def test_incremental_read_sees_appends_refreshes_not_compactions(spark, tmp_path):
    """read_incremental returns exactly the partitions (re)written after the
    given snapshot: new appends yes, late-data rewrites yes, pure byte
    compactions no; expired history fails loudly toward a full read."""
    store = SnapshotStore(str(tmp_path / "tbl"))
    df = spark.range(100).select("id")
    s1 = store.commit_partitions({"t/day=d1": df.repartition(4)})

    # Nothing changed yet.
    out, keys = store.read_incremental(spark, since_snapshot=s1)
    assert out is None and keys == []

    # Append two partitions in two commits; both are visible since s1.
    store.commit_partitions({"t/day=d2": df.where("id < 30").coalesce(1)})
    s3 = store.commit_partitions({"t/day=d3": df.where("id >= 90").coalesce(1)})
    out, keys = store.read_incremental(spark, since_snapshot=s1)
    assert keys == ["t/day=d2", "t/day=d3"]
    assert out.count() == 30 + 10

    # Compaction rewrites d1's bytes -- NOT a data change.
    snap, _ = store.compact_partitions(spark, target_file_bytes=1 << 30)
    assert snap is not None
    _, keys = store.read_incremental(spark, since_snapshot=s3)
    assert keys == []

    # A late-data refresh rewriting d1 IS a data change.
    s5 = store.head()
    store.commit_partitions({"t/day=d1": df.coalesce(1)})
    out, keys = store.read_incremental(spark, since_snapshot=s5)
    assert keys == ["t/day=d1"] and out.count() == 100

    # Expired history: since-snapshot off the chain fails loudly.
    store.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError):
        store.changed_partitions(s1)


def test_maintain_runs_compact_expire_sweep_in_order(spark, tmp_path):
    """One maintain() call compacts, expires history beyond keep_last, and
    sweeps aged orphans -- table stays readable and row-identical."""
    import os

    store = SnapshotStore(str(tmp_path / "tbl"))
    df = spark.range(300).select("id")
    store.commit_partitions({"t/day=d1": df.repartition(8)})
    store.commit_partitions({"t/day=d2": df.coalesce(1)})
    before = store.read(spark).orderBy("id").collect()
    # plant an aged orphan
    orphan = tmp_path / "tbl" / "data" / "crashed" / "t" / "x"
    orphan.mkdir(parents=True)
    df.coalesce(1).write.mode("overwrite").parquet(str(orphan))
    os.utime(
        next(str(orphan / f) for f in os.listdir(orphan) if f.endswith(".parquet")),
        (0, 0),
    )

    rep = store.maintain(
        spark, target_file_bytes=1 << 30, keep_last=1, orphan_grace_seconds=86400
    )
    assert rep["compaction_snapshot"] is not None
    assert rep["compacted_partitions"] == 1  # d1: 8 files -> 1
    assert rep["expired_files"] == 8  # the replaced small files
    assert rep["orphan_files_removed"] == 1
    assert store.read(spark).orderBy("id").collect() == before
    assert len(store.history()) == 1


def test_files_for_pruning_is_sound_under_random_ranges(spark, tmp_path):
    """Property: for ANY range, pruned-read + filter == full-read + filter.
    Pruning may keep extra files, never drop a matching row."""
    import random

    rng = random.Random(420)
    store = SnapshotStore(str(tmp_path / "tbl"))
    df = spark.range(5000).select(
        (F.col("id") * 37 % 1000).alias("k"),
        F.format_string("u-%03d", F.col("id") % 250).alias("s"),
    )
    store.commit_partitions(
        {"t/day=d1": df.repartitionByRange(6, "k"),
         "t/day=d2": df.repartition(3)},  # unclustered: stats overlap
        stat_cols=["k", "s"],
    )
    full = store.read(spark, prefix="t/")
    for _ in range(12):
        lo = rng.randint(-50, 1050)
        hi = lo + rng.randint(0, 400)
        cond = (F.col("k") >= lo) & (F.col("k") <= hi)
        expected = full.where(cond).count()
        kept = store.files_for(prefix="t/", ranges={"k": (lo, hi)})
        if not kept:
            assert expected == 0
            continue
        got = spark.read.parquet(*kept).where(cond).count()
        assert got == expected, (lo, hi)
    # string ranges too
    for _ in range(6):
        a = f"u-{rng.randint(0, 260):03d}"
        b = f"u-{rng.randint(0, 260):03d}"
        lo, hi = min(a, b), max(a, b)
        cond = (F.col("s") >= lo) & (F.col("s") <= hi)
        expected = full.where(cond).count()
        kept = store.files_for(prefix="t/", ranges={"s": (lo, hi)})
        got = spark.read.parquet(*kept).where(cond).count() if kept else 0
        assert got == expected, (lo, hi)


def test_schema_evolution_merge_read(spark, tmp_path):
    """Additive column evolution: newer partitions carry an extra column;
    merge_schema fills older rows with NULLs instead of failing."""
    store = SnapshotStore(str(tmp_path / "tbl"))
    store.commit_partitions({"t/day=d1": spark.range(10).select("id")})
    store.commit_partitions(
        {"t/day=d2": spark.range(5).select("id", F.lit("en").alias("lang"))}
    )
    out = store.read(spark, prefix="t/", merge_schema=True)
    assert set(out.columns) == {"id", "lang"}
    assert out.where("lang is null").count() == 10
    assert out.where("lang = 'en'").count() == 5


def test_follow_yields_each_commit_once_in_order(spark, tmp_path):
    """The change feed yields (snapshot, increment, keys) per commit: full
    table on first sight of a non-empty store, increments after, then
    stops after idle_limit empty polls."""
    store = SnapshotStore(str(tmp_path / "tbl"))
    df = spark.range(50).select("id")
    feed = store.follow(spark, poll_seconds=0.01, idle_limit=3)

    s1 = store.commit_partitions({"t/day=d1": df})
    head, out, keys = next(feed)
    assert head == s1 and keys == ["t/day=d1"] and out.count() == 50

    s2 = store.commit_partitions({"t/day=d2": df.where("id < 20")})
    head, out, keys = next(feed)
    assert head == s2 and keys == ["t/day=d2"] and out.count() == 20

    # Two commits between polls: one yield, both partitions.
    store.commit_partitions({"t/day=d3": df.where("id < 5")})
    s4 = store.commit_partitions({"t/day=d4": df.where("id < 2")})
    head, out, keys = next(feed)
    assert head == s4 and keys == ["t/day=d3", "t/day=d4"]
    assert out.count() == 7

    with pytest.raises(StopIteration):
        next(feed)


def test_retention_policy_ages_out_fine_tiers_only(spark, tmp_path, pages):
    """apply_retention_policy drops day-partitions of the policed families
    older than the watermark allowance -- metadata-only, time travel
    intact, unlisted families and non-dated partitions untouched."""
    from streamchange_spark.pipeline import apply_retention_policy

    store_dir = str(tmp_path / "table")
    r = run_pipeline(spark, pages, store_dir)
    store = SnapshotStore(store_dir)
    pre_head = store.head()
    watermark = store.manifest()["watermark"]
    days = sorted(
        k.rsplit("/", 1)[-1] for k in store.completed_partitions()
        if k.startswith("tier1h/")
    )
    keep_days = 5
    import datetime as dt

    cutoff = dt.date.fromisoformat(watermark[:10]) - dt.timedelta(days=keep_days)
    expect_drop = [d for d in days if dt.date.fromisoformat(d) < cutoff]
    assert expect_drop  # fixture spans > keep_days

    snap, dropped = apply_retention_policy(
        store, {"tier1h/": keep_days, "gorilla1h/": keep_days}, watermark
    )
    assert snap is not None
    assert sorted(d.rsplit("/", 1)[-1] for d in dropped if d.startswith("tier1h/")) == expect_drop
    # both policed families dropped in lockstep; others untouched
    live = store.completed_partitions()
    assert not any(
        k.startswith(("tier1h/", "gorilla1h/")) and k.rsplit("/", 1)[-1] in expect_drop
        for k in live
    )
    assert {k for k in live if k.startswith("sig/")} == {
        k for k in SnapshotStore(store_dir).completed_partitions(pre_head)
        if k.startswith("sig/")
    }
    # metadata-only: time travel still reads the full tier
    assert (
        store.read(spark, snapshot_id=pre_head, prefix="tier1h/").count()
        == r["rolled_rows"]
    )
    # idempotent at the same watermark
    snap2, dropped2 = apply_retention_policy(
        store, {"tier1h/": keep_days, "gorilla1h/": keep_days}, watermark
    )
    assert snap2 is None and dropped2 == []


def test_commit_conflict_detected_and_loser_leaves_only_orphans(spark, tmp_path):
    """Optimistic concurrency: a commit whose parent is no longer HEAD
    raises CommitConflictError BEFORE its manifest lands, so the winner's
    chain is intact and the loser's residue is sweepable orphans."""
    import os

    from streamchange_spark.sources.snapshots import CommitConflictError

    store = SnapshotStore(str(tmp_path / "tbl"))
    df = spark.range(20).select("id")
    s1 = store.commit_partitions({"t/d1": df})

    # Writer B advances HEAD while writer A holds a stale parent.
    s2 = store.commit_partitions({"t/d2": df})
    stale = store.manifest(s2)
    stale_manifest = dict(stale)
    stale_manifest.update(
        {"snapshot_id": "loser-0001", "parent": s1}  # built against s1
    )
    with pytest.raises(CommitConflictError):
        store._commit_manifest(stale_manifest)
    # No manifest file for the loser; chain unchanged.
    assert not os.path.exists(store._manifest_path("loser-0001"))
    assert store.head() == s2
    assert [m["snapshot_id"] for m in store.history()] == [s2, s1]
    # A retry built against the CURRENT head succeeds.
    s3 = store.commit_partitions({"t/d3": df.where("id < 5")})
    assert store.head() == s3 and store.read(spark).count() == 45


def test_commit_drops_empty_task_files(spark, tmp_path):
    """A wide write of a small partition leaves empty task outputs; the
    manifest must list only non-empty files (one kept if all are empty),
    rows/bytes unchanged, dropped files gone from disk."""
    import os

    store = SnapshotStore(str(tmp_path / "tbl"))
    s1 = store.commit_partitions(
        {"t/d1": spark.range(3).select("id").repartition(8)}
    )
    m = store.manifest()
    assert 1 <= len(m["files"]["t/d1"]) <= 3
    assert m["metrics"]["t/d1"]["n_rows"] == 3
    assert store.read(spark, prefix="t/").count() == 3
    # the dropped empties are deleted, not orphaned
    part_dir = os.path.dirname(m["files"]["t/d1"][0])
    on_disk = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    assert sorted(os.path.join(part_dir, f) for f in on_disk) == m["files"]["t/d1"]

    # all-empty partition: one file kept so the schema is still readable
    store.commit_partitions({"t/d2": spark.range(5).where("id < 0").select("id")})
    m = store.manifest()
    assert len(m["files"]["t/d2"]) == 1
    assert m["metrics"]["t/d2"]["n_rows"] == 0
    assert store.read(spark, prefix="t/d2").count() == 0


def _merge_fixture(spark, tmp_path):
    """Two partitions, each range-clustered on id into 4 key-disjoint files
    with manifest stats — the layout where MERGE's stats pruning and
    touched-file probe have something real to skip."""
    store = SnapshotStore(str(tmp_path / "merge_tbl"))
    d1 = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 10).alias("v"), F.lit("d1").alias("tag")
    )
    d2 = spark.range(100, 200).select(
        F.col("id"), (F.col("id") * 10).alias("v"), F.lit("d2").alias("tag")
    )
    s1 = store.commit_partitions(
        {"t/d1": d1, "t/d2": d2},
        stat_cols=["id"],
        cluster_by=["id"],
        cluster_files=4,
    )
    return store, s1


def test_merge_into_updates_inserts_and_time_travel(spark, tmp_path):
    store, s1 = _merge_fixture(spark, tmp_path)
    m1 = store.manifest(s1)
    src = spark.createDataFrame(
        [
            (3, 999, None),       # update incl. explicit NULL — NULL must win
            (150, -1, "upd"),     # update in the other partition
            (500, 7, "new"),      # no match -> insert
        ],
        "id long, v long, tag string",
    )
    s2, report = store.merge_into(
        spark, src, ["id"], prefix="t/", insert_partition="t/d2"
    )
    assert s2 is not None and store.head() == s2
    assert report["matched_rows"] == 2
    assert report["inserted_rows"] == 1
    # pruning + probe: source ids span [3, 500] so stats pruning alone may
    # keep many files, but the probe must rewrite exactly the two files
    # holding ids 3 and 150
    assert report["touched_files"] == 2
    assert set(report["rewritten_partitions"]) == {"t/d1", "t/d2"}

    got = {
        r["id"]: (r["v"], r["tag"])
        for r in store.read(spark, prefix="t/").collect()
    }
    assert len(got) == 201
    assert got[3] == (999, None)
    assert got[150] == (-1, "upd")
    assert got[500] == (7, "new")
    assert got[4] == (40, "d1")  # untouched row intact

    # untouched files carried by reference, not rewritten
    m2 = store.manifest(s2)
    assert len(set(m1["files"]["t/d1"]) & set(m2["files"]["t/d1"])) == 3
    # time travel still sees the pre-merge values
    old = {r["id"]: r["v"] for r in store.read(spark, snapshot_id=s1).collect()}
    assert old[3] == 30 and 500 not in old
    # merge is a data write: incremental consumers see both partitions
    assert set(store.changed_partitions(s1)) == {"t/d1", "t/d2"}


def test_merge_into_stats_pruning_engages(spark, tmp_path):
    store, _ = _merge_fixture(spark, tmp_path)
    src = spark.createDataFrame(
        [(190, 0, "x"), (191, 0, "x")], "id long, v long, tag string"
    )
    s2, report = store.merge_into(
        spark, src, ["id"], prefix="t/", when_not_matched="error"
    )
    # ids 190-191 live in the top file of t/d2 only: the [min,max] manifest
    # stats must prune most of the 8 files before the probe even runs
    assert report["pruned_files"] >= 6
    assert report["touched_files"] == 1
    assert report["inserted_rows"] == 0
    got = store.read(spark, prefix="t/").where("id in (190, 191, 189)")
    assert {r["v"] for r in got.collect()} == {0, 1890}
    assert store.head() == s2


def test_merge_into_modes_and_cardinality(spark, tmp_path):
    store, s1 = _merge_fixture(spark, tmp_path)
    spark.catalog.clearCache()

    def assert_nothing_cached():
        # a failed merge must release its persisted probe
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    dup = spark.createDataFrame(
        [(1, 0, "a"), (1, 1, "b")], "id long, v long, tag string"
    )
    with pytest.raises(ValueError, match="cardinality"):
        store.merge_into(spark, dup, ["id"], insert_partition="t/d1")
    assert_nothing_cached()

    stray = spark.createDataFrame([(999, 0, "s")], "id long, v long, tag string")
    with pytest.raises(ValueError, match="match no target row"):
        store.merge_into(spark, stray, ["id"], when_not_matched="error")
    assert_nothing_cached()

    # ignore: unmatched rows dropped; no match at all -> provable no-op
    out, report = store.merge_into(
        spark, stray, ["id"], when_not_matched="ignore"
    )
    assert out is None and report["matched_rows"] == 0
    assert store.head() == s1

    # empty source -> no-op without any scan
    empty = stray.where("id < 0")
    out, report = store.merge_into(spark, empty, ["id"], insert_partition="t/d1")
    assert out is None and store.head() == s1

    # missing target column -> loud schema error
    bad = spark.createDataFrame([(1, 5)], "id long, v long")
    with pytest.raises(ValueError, match="schemas must align"):
        store.merge_into(spark, bad, ["id"], insert_partition="t/d1")
    assert_nothing_cached()

    # ... also when nothing matches and the inserts lack a column: the key
    # range [-5, 250] keeps every file a candidate, so the probe ran
    bad_insert = spark.createDataFrame([(-5, 5), (250, 5)], "id long, v long")
    with pytest.raises(ValueError, match="of insert partition"):
        store.merge_into(spark, bad_insert, ["id"], insert_partition="t/d1")
    assert_nothing_cached()
    assert store.head() == s1


def test_rollback_and_purge(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "rb_tbl"))
    df = spark.range(10).select("id")
    s1 = store.commit_partitions({"t/d1": df})
    s2 = store.commit_partitions({"t/d2": df.where("id < 5")})
    s3 = store.commit_partitions({"t/d3": df.where("id < 2")})
    assert store.read(spark, prefix="t/").count() == 17

    abandoned = store.rollback(s1)
    assert abandoned == [s3, s2]
    assert store.head() == s1
    assert store.read(spark, prefix="t/").count() == 10
    # abandoned snapshots still time-travel until purged
    assert store.read(spark, snapshot_id=s3, prefix="t/").count() == 17

    with pytest.raises(ValueError, match="not an ancestor"):
        store.rollback(s2)  # s2 is no longer on the HEAD chain... 
    s4 = store.commit_partitions({"t/d4": df.where("id < 3")})
    assert store.manifest(s4)["parent"] == s1

    # purge: manifests gone, their unique files become orphan-sweepable
    store.rollback(s1, purge_abandoned=True)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        store.manifest(s4)
    removed = store.remove_orphan_files(older_than_seconds=0)
    assert removed  # d2/d3/d4 files reclaimed
    assert store.read(spark, prefix="t/").count() == 10


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    store, s1 = _merge_fixture(spark, tmp_path)
    m1 = store.manifest(s1)
    # ids 40..44 live in ONE of t/d1's four range-clustered files; the
    # ranges hint must prune the rest before the probe
    s2, report = store.delete_where(
        spark,
        "id >= 40 and id < 45",
        prefix="t/",
        ranges={"id": (40, 44)},
    )
    assert s2 is not None and store.head() == s2
    assert report["deleted_rows"] == 5
    assert report["touched_files"] == 1
    assert report["pruned_files"] >= 6
    left = store.read(spark, prefix="t/")
    assert left.count() == 195
    assert left.where("id >= 40 and id < 45").count() == 0
    assert left.where("id in (39, 45)").count() == 2
    # untouched files carried by reference; time travel sees deleted rows
    m2 = store.manifest(s2)
    assert len(set(m1["files"]["t/d1"]) & set(m2["files"]["t/d1"])) == 3
    assert m2["files"]["t/d2"] == m1["files"]["t/d2"]
    assert store.read(spark, snapshot_id=s1).where("id = 42").count() == 1
    assert m2["metrics"]["t/d1"]["n_rows"] == 95

    # no-match delete -> no-op, no new snapshot
    out, report = store.delete_where(spark, "id = -1", prefix="t/")
    assert out is None and report["deleted_rows"] == 0
    assert store.head() == s2

    # NULL-predicate rows survive (SQL DELETE semantics): tag is NULL
    # after this merge-style setup -> delete on tag must keep NULL rows
    src = spark.createDataFrame([(7, 70, None)], "id long, v long, tag string")
    store.merge_into(spark, src, ["id"], when_not_matched="ignore")
    s3, report = store.delete_where(spark, "tag = 'd1'", prefix="t/d1")
    assert report["deleted_rows"] == 94  # 95 rows minus the NULL-tag one
    assert store.read(spark, prefix="t/d1").count() == 1
    assert store.read(spark, prefix="t/d1").collect()[0]["id"] == 7


def test_delete_where_drops_fully_deleted_partition(spark, tmp_path):
    store, _ = _merge_fixture(spark, tmp_path)
    s2, report = store.delete_where(spark, "id < 100", prefix="t/")
    assert report["deleted_rows"] == 100
    m = store.manifest(s2)
    assert "t/d1" not in m["files"]  # whole partition died -> dropped
    assert store.read(spark, prefix="t/").count() == 100
    assert m["properties"]["dropped_partitions"] == ["t/d1"]


def test_tags_and_timestamp_travel(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "tag_tbl"))
    df = spark.range(10).select("id")
    s1 = store.commit_partitions({"t/d1": df})
    s2 = store.commit_partitions({"t/d2": df.where("id < 5")})
    store.tag("prod", s1)
    # tags resolve anywhere a snapshot id is accepted
    assert store.read(spark, snapshot_id="prod").count() == 10
    assert store.manifest("prod")["snapshot_id"] == s1
    assert store.tags() == {"prod": s1}
    # re-tag moves it
    store.tag("prod")  # defaults to HEAD
    assert store.tags() == {"prod": s2}
    with pytest.raises(FileNotFoundError):
        store.tag("broken", "nope")
    with pytest.raises(ValueError):
        store.tag("a/b")

    # timestamp travel: everything committed just now is <= far future,
    # nothing is <= far past
    assert store.snapshot_as_of("2099-01-01T00:00:00Z") == s2
    with pytest.raises(FileNotFoundError):
        store.snapshot_as_of("2000-01-01T00:00:00Z")
    # rollback accepts a tag after re-pointing it at the ancestor
    store.tag("prod", s1)
    store.rollback("prod")
    assert store.head() == s1


def test_zorder_commit_prunes_on_every_dimension(spark, tmp_path):
    """Range clustering on (a, b) prunes only on a; z-order must prune on
    BOTH dimensions, and the pruned read must be lossless."""
    df = spark.range(20000).select(
        (F.col("id") % 200).alias("a"),
        (F.col("id") * 7919 % 200).alias("b"),
        F.col("id").alias("v"),
    )
    rng = SnapshotStore(str(tmp_path / "rng"))
    rng.commit_partitions(
        {"t/all": df}, stat_cols=["a", "b"], cluster_by=["a", "b"],
        cluster_files=16,
    )
    zrd = SnapshotStore(str(tmp_path / "zrd"))
    zrd.commit_partitions(
        {"t/all": df}, stat_cols=["a", "b"], cluster_by=["a", "b"],
        cluster_files=16, cluster_mode="zorder",
    )
    n = 16
    # leading-column predicate: both layouts prune
    assert len(rng.files_for(ranges={"a": (10, 19)})) <= n // 2
    assert len(zrd.files_for(ranges={"a": (10, 19)})) <= n // 2
    # trailing-column predicate: range clustering keeps (nearly) all files
    # — every file spans most of b — while z-order must skip at least half
    # and strictly beat range
    rng_kept = len(rng.files_for(ranges={"b": (10, 19)}))
    zrd_kept = len(zrd.files_for(ranges={"b": (10, 19)}))
    # margin is statistical (range-partitioner sampling moves file cuts a
    # little between sessions): range clustering keeps well over half, and
    # z-order keeps at most half AND strictly fewer
    assert rng_kept >= n * 5 // 8
    assert zrd_kept <= n // 2 and zrd_kept < rng_kept
    # losslessness on both dimensions
    for ranges, where in [
        ({"a": (10, 19)}, "a between 10 and 19"),
        ({"b": (10, 19)}, "b between 10 and 19"),
    ]:
        pruned = (
            zrd.read(spark, ranges=ranges).where(where).agg(F.sum("v")).collect()
        )
        full = df.where(where).agg(F.sum("v")).collect()
        assert pruned == full


def test_zorder_string_and_timestamp_proxies(spark, tmp_path):
    df = spark.range(5000).select(
        F.concat(
            F.lpad((F.col("id") % 50).cast("string"), 4, "0"), F.lit(".example.com")
        ).alias("url"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("id") * 60)
        ).alias("ts"),
        F.col("id").alias("v"),
    )
    store = SnapshotStore(str(tmp_path / "zs"))
    store.commit_partitions(
        {"t/all": df}, stat_cols=["url", "ts"], cluster_by=["url", "ts"],
        cluster_files=16, cluster_mode="zorder",
    )
    total = len(store.files_for())
    kept_url = store.files_for(ranges={"url": ("0010", "0019.zzz")})
    kept_ts = store.files_for(
        ranges={"ts": ("2024-01-01T00:00:00", "2024-01-01T08:00:00")}
    )
    assert len(kept_url) < total and len(kept_ts) < total
    got = (
        store.read(spark, ranges={"url": ("0010", "0019.zzz")})
        .where("url like '001%'").count()
    )
    assert got == df.where("url like '001%'").count()


def test_compaction_preserves_clustering(spark, tmp_path):
    """maintain()'s bin-pack must not undo the clustered layout: after
    compacting a range-clustered partition to fewer files, key-range
    pruning still engages and the row set is unchanged."""
    store = SnapshotStore(str(tmp_path / "ct"))
    df = spark.range(50000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    store.commit_partitions(
        {"t/all": df}, stat_cols=["id"], cluster_by=["id"], cluster_files=32,
    )
    assert len(store.manifest()["files"]["t/all"]) == 32
    sid, report = store.compact_partitions(spark, target_file_bytes=10**9)
    assert sid is not None
    m = store.manifest(sid)
    n_after = len(m["files"]["t/all"])
    assert n_after < 32
    # pruning still bites after compaction (files stayed key-disjoint and
    # stats were recomputed)
    kept = store.files_for(ranges={"id": (0, 999)})
    assert len(kept) == 1
    assert store.read(spark).count() == 50000
    assert m["metrics"]["t/all"]["cluster_by"] == ["id"]

    # z-order layout survives too: trailing-dim prune after compaction
    zs = SnapshotStore(str(tmp_path / "zt"))
    zdf = spark.range(20000).select(
        (F.col("id") % 200).alias("a"), (F.col("id") * 7919 % 200).alias("b"),
    )
    zs.commit_partitions(
        {"t/all": zdf}, stat_cols=["a", "b"], cluster_by=["a", "b"],
        cluster_files=16, cluster_mode="zorder",
    )
    zsid, _ = zs.compact_partitions(spark, target_file_bytes=10**9, min_files=2)
    assert zsid is not None
    total = len(zs.manifest()["files"]["t/all"])
    # compaction shrank the file count; pruning on the trailing dim works
    # when more than one file remains
    if total > 1:
        assert len(zs.files_for(ranges={"b": (10, 19)})) < total
    assert zs.read(spark).count() == 20000


def test_write_audit_publish(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "wap"))
    df = spark.range(10).select("id")
    s1 = store.commit_partitions({"t/d1": df})

    # stage: fully-formed snapshot, HEAD unmoved, auditable by id
    s2 = store.commit_partitions({"t/d2": df.where("id < 3")}, stage=True)
    assert store.head() == s1
    assert store.read(spark, snapshot_id=s2, prefix="t/").count() == 13
    assert store.read(spark, prefix="t/").count() == 10
    # staged files are pinned against the orphan sweep while staged
    assert store.remove_orphan_files(older_than_seconds=0) == []

    # audit passed -> publish flips HEAD
    store.publish(s2)
    assert store.head() == s2
    assert store.read(spark, prefix="t/").count() == 13
    assert "staged" not in store.manifest(s2)["properties"]

    # conflict: a commit that lands between stage and publish wins
    s3 = store.commit_partitions({"t/d3": df.where("id < 2")}, stage=True)
    s4 = store.commit_partitions({"t/d4": df.where("id < 1")})
    from streamchange_spark.sources import CommitConflictError

    with pytest.raises(CommitConflictError):
        store.publish(s3)
    # abandon the loser; its unique files become sweepable orphans
    store.abandon(s3)
    with pytest.raises(FileNotFoundError):
        store.manifest(s3)
    swept = store.remove_orphan_files(older_than_seconds=0)
    assert swept  # d3's staged file reclaimed
    with pytest.raises(ValueError, match="HEAD chain"):
        store.abandon(s4)


def test_bloom_point_lookup_prunes_and_is_sound(spark, tmp_path):
    """Per-file blooms (stat_cols=["bloom:col"]) make point lookups
    selective in a HASH-distributed layout, where every file spans nearly
    the full [min, max] key range and footer stats alone keep everything;
    soundness: the pruned read + filter never loses a matching row."""
    import random

    store = SnapshotStore(str(tmp_path / "tbl"))
    df = spark.range(20_000).select(
        F.format_string("u-%04d", F.col("id") % 500).alias("uid"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    store.commit_partitions(
        {"t/day=d1": df.repartition(8, "uid")},
        stat_cols=["uid", "bloom:uid"],
    )
    total = store.files_for(prefix="t/")
    assert len(total) == 8
    # min/max alone keeps all 8 files for a mid-range key
    assert len(store.files_for(prefix="t/", ranges={"uid": ("u-0250", "u-0250")})) == 8
    full = store.read(spark, prefix="t/")
    rng = random.Random(99)
    pruned_any = False
    for _ in range(10):
        uid = f"u-{rng.randint(0, 520):04d}"  # some beyond the domain
        kept = store.files_for(prefix="t/", eq={"uid": uid})
        expected = full.where(F.col("uid") == uid).count()
        got = (
            spark.read.parquet(*kept).where(F.col("uid") == uid).count()
            if kept
            else 0
        )
        assert got == expected, uid
        pruned_any = pruned_any or len(kept) < len(total)
    assert pruned_any  # the bloom actually engaged at least once
    # an absent key prunes every file — and only then
    assert store.files_for(prefix="t/", eq={"uid": "nope"}) == []


def test_bloom_recomputed_through_compaction(spark, tmp_path):
    """Rewrites re-derive stat specs from the manifest, so 'bloom:col' is
    recomputed for compacted files — the prune keeps working after the
    nightly maintain()."""
    store = SnapshotStore(str(tmp_path / "tbl"))
    df = spark.range(4_000).select(
        F.format_string("u-%03d", F.col("id") % 100).alias("uid"),
        F.col("id").alias("v"),
    )
    store.commit_partitions(
        {"t/day=d1": df.repartition(6, "uid")},
        stat_cols=["bloom:uid"],
    )
    assert store.files_for(prefix="t/", eq={"uid": "absent"}) == []
    snap, _ = store.compact_partitions(spark, target_file_bytes=1 << 30, min_files=2)
    assert snap is not None
    files = store.files_for(prefix="t/")
    assert len(files) == 1  # compacted
    assert store.files_for(prefix="t/", eq={"uid": "absent"}) == []
    kept = store.files_for(prefix="t/", eq={"uid": "u-042"})
    assert kept == files  # present key: the (only) file is kept
    assert store.read(spark, prefix="t/", eq={"uid": "u-042"}).where(
        F.col("uid") == "u-042"
    ).count() == 40


def test_bloom_missing_stats_never_skip(spark, tmp_path):
    """Files committed WITHOUT bloom stats are always read by eq lookups
    (sound), and unsupported eq domains never skip a file."""
    store = SnapshotStore(str(tmp_path / "tbl"))
    df = spark.range(100).select(F.format_string("u-%d", F.col("id")).alias("uid"))
    store.commit_partitions({"t/day=d1": df.coalesce(1)})  # no stats at all
    store.commit_partitions(
        {"t/day=d2": df.coalesce(1)}, stat_cols=["uid", "bloom:uid"]
    )
    # d1's file has no stats -> kept even for an absent key; d2's pruned
    kept = store.files_for(prefix="t/", eq={"uid": "absent"})
    assert len(kept) == 1 and "day=d1" in kept[0]
    # dict is not a bloomable domain: no skip, no crash
    assert len(store.files_for(prefix="t/", eq={"uid": {"not": "hashable"}})) == 2


def test_files_table_renders_bloom_size_not_payload(spark, tmp_path):
    """The .files metadata table reports bloom presence/size, not the b64
    bitset (planning state, not metadata)."""
    import json as _json

    store = SnapshotStore(str(tmp_path / "tbl"))
    df = spark.range(500).select(F.col("id").alias("k"))
    store.commit_partitions(
        {"t/day=d1": df.coalesce(1)}, stat_cols=["k", "bloom:k"]
    )
    row = store.files_table(spark).collect()[0]
    stats = _json.loads(row.column_stats)
    assert stats["k"] == [0, 499]
    assert set(stats["bloom:k"]) == {"m"} and stats["bloom:k"]["m"] >= 256


@pytest.fixture(scope="module")
def clean_rebuild(spark, pages, tmp_path_factory):
    """(victim, store): the pipeline run on ``pages`` without its first url,
    what a purge of that url must leave behind."""
    victim = pages.select("url").distinct().orderBy("url").limit(1).collect()[0][
        "url"
    ]
    clean_dir = str(tmp_path_factory.mktemp("clean"))
    run_pipeline(spark, pages.where(F.col("url") != victim), clean_dir)
    return victim, SnapshotStore(clean_dir)


def _assert_url_gone_and_rows_equal(spark, store, clean, victim):
    """No row-keyed family answers for ``victim``, and the tier and
    signature rows equal the clean rebuild's exactly."""
    for fam in ROW_KEYED:
        assert store.read(spark, prefix=fam).where(
            F.col("url") == victim
        ).count() == 0
    for fam, cols in (("tier1h/", ["url", "bucket_start"]), ("sig/", ["url", "warc_ts"])):
        a = store.read(spark, prefix=fam).orderBy(*cols).collect()
        b = clean.read(spark, prefix=fam).orderBy(*cols).collect()
        assert a == b, fam


def test_purge_url_across_all_tiers_equals_rebuild(
    spark, tmp_path, pages, clean_rebuild
):
    """purge_url == running the pipeline on a source that never had the
    url: row-keyed families purge by delete, the keyless KMV family
    rebuilds, and every family's queryable content matches the
    from-scratch store."""
    from streamchange_spark.operators import (
        decompress_series,
        kmv_distinct,
        kmv_rollup,
        sketch_percentiles,
        sketch_rollup,
    )
    from streamchange_spark.pipeline import purge_url

    store_dir = str(tmp_path / "purged")
    run_pipeline(spark, pages, store_dir)
    store = SnapshotStore(store_dir)
    victim, clean = clean_rebuild

    report = purge_url(spark, store, victim, pages=pages)
    assert report["families"]["tier1h/"]["deleted_rows"] > 0
    assert report["families"]["sig/"]["deleted_rows"] > 0
    assert report.get("kmv_rebuilt_days")
    clean_pages = pages.where(F.col("url") != victim)

    _assert_url_gone_and_rows_equal(spark, store, clean, victim)

    # gorilla: decoded series equal
    dec = lambda s: sorted(
        (r["url"], r["bucket_start"], round(r["sum_v"], 6))
        for r in decompress_series(
            s.read(spark, prefix="gorilla1h/"), ["url"], "bucket_start", "sum_v"
        ).collect()
    )
    assert dec(store) == dec(clean)

    # percentile sketches: merged 1d percentiles equal
    pct = lambda s: sorted(
        tuple(r) for r in sketch_percentiles(
            sketch_rollup(s.read(spark, prefix="qsketch1h/"), ["url"], "1d"),
            ["url"],
        ).collect()
    )
    assert pct(store) == pct(clean)

    # regression tiers: evaluated daily trends equal (rounded — the two
    # stores sum the same rows in different orders)
    from streamchange_spark.operators import stats_eval, stats_rollup

    trend = lambda s: sorted(
        (
            r["url"],
            r["bucket_start"],
            r["n"],
            None if r["slope"] is None else round(r["slope"], 6),
            None if r["r2"] is None else round(r["r2"], 6),
        )
        for r in stats_eval(
            stats_rollup(s.read(spark, prefix="stats1h/"), ["url"], "1d")
        ).collect()
    )
    assert trend(store) == trend(clean)

    # time-in-state: stitched daily lang durations equal bit-for-bit
    # (held_us stays integral end to end)
    from streamchange_spark.operators import state_tier_from_runs

    lang_state = lambda s: sorted(
        tuple(r) for r in state_tier_from_runs(
            s.read(spark, prefix="staterun/"), ["url"], "1d"
        ).collect()
    )
    assert lang_state(store) == lang_state(clean)

    # crawl breadth: rebuilt KMV tiers give the clean store's estimates
    kmv = lambda s: sorted(
        tuple(r) for r in kmv_distinct(
            kmv_rollup(s.read(spark, prefix="kmv1h/"), [], "1d")
        ).collect()
    )
    assert kmv(store) == kmv(clean)

    # the purge survives the nightly maintenance rewrite
    store.maintain(spark, keep_last=1, orphan_grace_seconds=0)
    assert store.read(spark, prefix="tier1h/").where(
        F.col("url") == victim
    ).count() == 0

    # partial source coverage: purging with only ONE day's pages must not
    # wipe other days' keyless KMV sketches — uncovered days are reported
    # outstanding and their partitions carried untouched
    victim2 = clean_pages.select("url").distinct().orderBy("url").limit(1).collect()[
        0
    ]["url"]
    m_before = store.manifest()
    days = sorted(
        k.split("/", 1)[1] for k in m_before["files"] if k.startswith("kmv1h/")
    )
    assert len(days) > 1
    one_day = clean_pages.where(F.to_date("warc_ts") == F.lit(days[0]))
    rep2 = purge_url(spark, store, victim2, pages=one_day)
    assert rep2["kmv_rebuilt_days"] == [days[0]]
    assert set(rep2["kmv_skipped_days"]) == set(days[1:])
    m_after = store.manifest()
    for d in days[1:]:
        assert m_after["files"][f"kmv1h/{d}"] == m_before["files"][f"kmv1h/{d}"]


def test_copy_on_write_purge_commits_once_and_equals_rebuild(
    spark, tmp_path, pages, clean_rebuild
):
    """A copy-on-write purge rewrites each family's touched files in a
    write of its own but commits the six families as ONE snapshot, with
    the clean rebuild's tier and signature rows."""
    from streamchange_spark.pipeline import purge_url

    store_dir = str(tmp_path / "cow")
    run_pipeline(spark, pages, store_dir)
    store = SnapshotStore(store_dir)
    victim, clean = clean_rebuild
    n_snapshots = len(store.history())

    report = purge_url(spark, store, victim, mode="copy-on-write")
    assert len(store.history()) == n_snapshots + 1
    assert {f["snapshot_id"] for f in report["families"].values()} == {store.head()}
    assert store.manifest()["properties"]["deleted_partitions"]
    assert "delete_files" not in store.manifest()
    _assert_url_gone_and_rows_equal(spark, store, clean, victim)


def test_failed_purge_probe_write_commits_no_family(spark, tmp_path, monkeypatch):
    """The purge's delete is one commit: when the probe write that covers
    the last family fails, HEAD, the history and every family's rows stay
    as they were (with one delete per family, the earlier families were
    already committed by then)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from streamchange_spark.pipeline import purge_url

    pages = generate_pages(spark, n_urls=4, mean_snapshots=6)
    store_dir = str(tmp_path / "atomic")
    run_pipeline(spark, pages, store_dir)
    store = SnapshotStore(store_dir)
    victim = sorted(r["url"] for r in pages.select("url").distinct().collect())[0]
    rows = lambda: {  # noqa: E731
        fam: sorted(map(str, store.read(spark, prefix=fam).collect()))
        for fam in TIER_FAMILIES
    }
    head, n_snapshots, before = store.head(), len(store.history()), rows()

    parquet = DataFrameWriter.parquet

    def failing_parquet(writer, path, *a, **kw):
        if path.endswith("deletes") and any(
            "/sig/" in f for f in writer._df.inputFiles()
        ):
            raise RuntimeError("probe write failed")
        return parquet(writer, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(RuntimeError, match="probe write failed"):
        purge_url(spark, store, victim, pages=pages)
    monkeypatch.undo()

    assert store.head() == head
    assert len(store.history()) == n_snapshots
    assert rows() == before


def test_range_scoped_state_read_prunes_and_matches_slice(
    spark, tmp_path, pages
):
    """read_lang_state_tier: a mid-history day range opens only the
    staterun files inside range+horizon (manifest-stats pruning on
    run_start_us) and returns exactly the full-history stitch's slice when
    the horizon covers every url's silence across the range edges."""
    from streamchange_spark.operators import state_tier_from_runs
    from streamchange_spark.pipeline import read_lang_state_tier

    store_dir = str(tmp_path / "ranged")
    run_pipeline(spark, pages, store_dir)
    store = SnapshotStore(store_dir)

    days = sorted(
        k.split("/", 1)[1]
        for k in store.manifest()["files"]
        if k.startswith("staterun/")
    )
    assert len(days) >= 4
    start_day, end_day = days[1], days[2]

    # horizon larger than the fixture's whole span -> exact slice
    got = sorted(
        tuple(r)
        for r in read_lang_state_tier(
            spark, store, start_day, end_day, tier="1d", horizon_days=400
        ).collect()
    )
    full = sorted(
        tuple(r)
        for r in state_tier_from_runs(
            store.read(spark, prefix="staterun/"), ["url"], "1d"
        )
        .where(
            (F.col("bucket_start") >= F.lit(start_day).cast("timestamp"))
            & (
                F.col("bucket_start")
                < F.date_add(F.lit(end_day).cast("date"), 1).cast("timestamp")
            )
        )
        .collect()
    )
    assert got and got == full

    # with a tight horizon the read actually prunes staterun files
    import datetime as dt

    epoch = dt.datetime(1970, 1, 1)
    lo = (
        int((dt.datetime.fromisoformat(start_day) - epoch).total_seconds())
        * 1_000_000
        - 86_400_000_000
    )
    hi = (
        int((dt.datetime.fromisoformat(end_day) - epoch).total_seconds())
        * 1_000_000
        + 2 * 86_400_000_000
    )
    kept = store.files_for(
        prefix="staterun/", ranges={"run_start_us": (lo, hi)}
    )
    everything = store.files_for(prefix="staterun/")
    assert 0 < len(kept) < len(everything)


TIER_FAMILIES = (
    "tier1h", "gorilla1h", "qsketch1h", "kmv1h", "stats1h", "staterun", "sig"
)
ROW_KEYED = ("tier1h/", "gorilla1h/", "qsketch1h/", "stats1h/", "staterun/", "sig/")


def test_pipeline_refresh_purge_keep_their_families_jobs_and_files(
    spark, tmp_path
):
    """A cold ``run_pipeline`` commits the seven tier families per day in a
    fixed order, ``run_pipeline`` and a following ``refresh_pipeline`` each
    run a pinned number of Spark jobs and write a pinned number of files,
    the cold build's job count does not grow with the day count (each
    family is one write over every day), and ``purge_url`` deletes from
    exactly the row-keyed families: a family dropped from, added to or
    reordered in the family table, or an extra job in the family builder,
    fails here before it shows up as a slower benchmark."""
    import uuid

    from test_snapshot_concurrency import (
        _clear_job_group,
        _jobs_in_group,
        _live_files,
    )

    from streamchange_spark.pipeline import purge_url, refresh_pipeline

    pages = generate_pages(spark, n_urls=8, mean_snapshots=12).cache()
    late_slice = F.pmod(F.xxhash64("url", "warc_ts"), F.lit(4)) == 0
    base, late = pages.where(~late_slice), pages.where(late_slice)
    store_dir = str(tmp_path / "shape")
    store = SnapshotStore(store_dir)
    sc = spark.sparkContext

    def jobs_and_new_files(name, run, store=store):
        before = _live_files(store) if store.head() else set()
        group = f"{name}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, name)
        try:
            out = run()
        finally:
            _clear_job_group(spark)
        return out, len(_jobs_in_group(spark, group)), len(_live_files(store) - before)

    days = sorted(
        str(r["d"])
        for r in base.select(F.to_date("warc_ts").alias("d")).distinct().collect()
    )
    two_dir = str(tmp_path / "two_days")
    r0, jobs_two_days, _ = jobs_and_new_files(
        "run-2d",
        lambda: run_pipeline(
            spark, base.where(F.to_date("warc_ts").isin(days[:2])), two_dir
        ),
        SnapshotStore(two_dir),
    )
    r1, jobs, files = jobs_and_new_files(
        "run", lambda: run_pipeline(spark, base, store_dir)
    )
    assert list(store.manifest()["files"]) == [
        f"{fam}/{day}" for day in days for fam in TIER_FAMILIES
    ]
    assert (r0["days_built"], r1["days_built"]) == (2, len(days)) == (2, 7)
    assert (jobs_two_days, jobs, files) == (47, 47, 81)

    r2, jobs, files = jobs_and_new_files(
        "refresh", lambda: refresh_pipeline(spark, late, store_dir)
    )
    assert r2["merged_days"] == days
    assert (jobs, files) == (30, 100)

    # purge: ONE delete over the six row-keyed families (one probe write,
    # one snapshot) plus the kmv rebuild commit, one write over every day;
    # at the six-deletes shape it was 37 jobs and 7 snapshots, then 53 and
    # 7 for a second purge, and 20 and 26 jobs with a kmv write per day
    urls = sorted(r["url"] for r in pages.select("url").distinct().collect())
    for victim, want_jobs, want_deleted, want_pruned in (
        (urls[0], 6, [93, 7, 93, 93, 240, 240], [0, 3, 1, 0, 6, 7]),
        (urls[1], 8, [27, 3, 27, 27, 64, 64], [4, 6, 20, 4, 14, 15]),
    ):
        n_snapshots = len(store.history())
        report, jobs, _ = jobs_and_new_files(
            "purge", lambda: purge_url(spark, store, victim, pages=pages)
        )
        fams = report["families"]
        assert list(fams) == list(ROW_KEYED)
        assert [fams[f]["deleted_rows"] for f in ROW_KEYED] == want_deleted
        assert [fams[f]["pruned_files"] for f in ROW_KEYED] == want_pruned
        assert {fams[f]["snapshot_id"] for f in ROW_KEYED} == {
            store.history()[1]["snapshot_id"]
        }
        assert report["kmv_rebuilt_days"] == days
        assert (jobs, len(store.history()) - n_snapshots) == (want_jobs, 2)
    pages.unpersist()


def _rows(df):
    """``df``'s rows as a sorted list (a multiset), floats to 12 digits."""
    return sorted(
        tuple(float(f"{v:.12g}") if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def test_partitions_hold_their_days_rows_whatever_the_write_shape(
    spark, tmp_path
):
    """Each family is built over every day at once and written in one
    partitioned job, yet every ``{family}/{day}`` partition holds exactly
    the rows that family's build gives over that day's input alone, and
    the gorilla blobs are byte-equal per (url, chunk)."""
    from streamchange_spark.operators import compress_series
    from streamchange_spark.pipeline import _FAMILIES

    pages = generate_pages(spark, n_urls=8, mean_snapshots=12).cache()
    store = SnapshotStore(str(tmp_path / "shape"))
    run_pipeline(spark, pages, store.table_dir)
    days = sorted(k.split("/", 1)[1] for k in store.manifest()["files"] if k.startswith("tier1h/"))
    assert len(days) == 7
    metrics = extract_metrics(pages)
    for day in days:
        on_day = F.to_date("warc_ts") == F.lit(day)
        day_metrics, day_pages = metrics.where(on_day), pages.where(on_day)
        for fam in _FAMILIES:
            if fam.build is None:
                want = compress_series(
                    _FAMILIES[0].build(day_metrics, day_pages), ["url"],
                    "bucket_start", "sum_v", chunk_points=65536,
                )
            else:
                want = fam.build(day_metrics, day_pages)
            got = store.read(spark, prefix=f"{fam.prefix}/{day}")
            assert got.columns == want.columns, fam.prefix
            assert _rows(got) == _rows(want), (fam.prefix, day)
    pages.unpersist()


def test_refresh_after_retention_keeps_expired_partitions_expired(
    spark, tmp_path
):
    """A late shard for days whose ``sig/`` partitions retention already
    dropped (their ``tier1h/`` partitions still live) refreshes without
    error: no expired partition comes back, and every live family equals a
    clean rebuild over base and late rows."""
    from streamchange_spark.pipeline import apply_retention_policy, refresh_pipeline

    pages = generate_pages(spark, n_urls=8, mean_snapshots=12).cache()
    late_slice = F.pmod(F.xxhash64("url", "warc_ts"), F.lit(4)) == 0
    store_dir = str(tmp_path / "retained")
    run_pipeline(spark, pages.where(~late_slice), store_dir)
    store = SnapshotStore(store_dir)
    _, dropped = apply_retention_policy(store, {"sig/": 1}, now="2024-01-07")
    assert dropped == [f"sig/2024-01-0{d}" for d in range(1, 6)]

    r = refresh_pipeline(spark, pages.where(late_slice), store_dir)
    assert r["merged_days"] == [f"2024-01-0{d}" for d in range(1, 8)]
    clean = SnapshotStore(str(tmp_path / "clean"))
    run_pipeline(spark, pages, clean.table_dir)
    keys = list(store.manifest()["files"])
    assert not set(dropped) & set(keys)
    assert sorted(keys) == sorted(set(clean.manifest()["files"]) - set(dropped))
    for key in keys:
        got, want = store.read(spark, prefix=key), clean.read(spark, prefix=key)
        if key.startswith("qsketch1h/"):
            # GK merges carry their error bound: not bit-equal by design
            got, want = (
                df.select("url", "bucket_start", "n_points") for df in (got, want)
            )
        assert _rows(got) == _rows(want), key
    pages.unpersist()


def test_range_scoped_state_read_rejects_collapsed_runs(spark, tmp_path):
    """read_lang_state_tier prunes on run_start_us, exact only for
    per-observation runs: a staterun family of collapsed runs fails the
    read instead of silently losing LOCF carry."""
    from streamchange_spark.operators import encode_state_runs
    from streamchange_spark.pipeline import read_lang_state_tier

    obs = spark.createDataFrame(
        [("u1", 0, "en"), ("u1", 600, "en"), ("u1", 1200, "de")],
        "url string, sec long, lang string",
    ).select("url", F.timestamp_seconds("sec").alias("warc_ts"), "lang")
    for collapse in (False, True):
        store = SnapshotStore(str(tmp_path / f"collapse_{collapse}"))
        store.commit_partitions(
            {"staterun/1970-01-01": encode_state_runs(
                obs, ["url"], "warc_ts", "lang", collapse=collapse
            )},
            stat_cols=["run_start_us"],
        )
        read = read_lang_state_tier(spark, store, "1970-01-01", "1970-01-01")
        if collapse:
            with pytest.raises(Exception, match="per-observation runs"):
                read.collect()
        else:
            assert sorted((r["state"], r["held_us"]) for r in read.collect()) == [
                ("en", 1_200_000_000)
            ]
