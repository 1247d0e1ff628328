"""Concurrent partition writes and inference-free scans on the snapshot store.

``commit_partitions`` and ``compact_partitions`` run their per-partition
writes side by side on a driver thread pool; the manifest must come out as if
every partition had been written alone, a failed write must commit nothing,
and the pool's jobs must run under the caller's job group. Store reads take
their schema from the parquet footer instead of running Spark's one-task
schema-inference job, so planning a read starts no Spark job and yields the
schema ``spark.read.parquet`` would infer. The copy-on-write DML verbs each
run a pinned number of Spark jobs and write a pinned number of files.
"""

import sys
import uuid

import pytest
from pyspark.sql import functions as F

from streamchange_spark.sources import SnapshotStore

FAMILIES = ("tier1h", "gorilla1h", "qsketch1h", "kmv1h", "stats1h", "staterun", "sig")
DAYS = ("2024-01-01", "2024-01-02")
STAT_COLS = ["url", "ts", "bloom:url"]


def _family_df(spark, fam_idx: int, day_idx: int):
    """A small partition whose schema differs per family (extra columns,
    types) and whose rows differ per day."""
    lo = 1000 * fam_idx + 100 * day_idx
    df = spark.range(lo, lo + 60, numPartitions=3).select(
        F.concat(F.lit("u"), (F.col("id") % 7).cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1_704_067_200 + 86_400 * day_idx) + F.col("id")).alias("ts"),
        F.col("id"),
    )
    for k in range(fam_idx % 3):
        df = df.withColumn(f"x{k}", (F.col("id") * (k + 1)).cast("double"))
    if fam_idx % 2:
        df = df.withColumn("blob", F.unhex(F.lpad(F.hex("id"), 8, "0")))
    return df


def _partitions(spark):
    return {
        f"{fam}/{day}": _family_df(spark, fi, di)
        for fi, fam in enumerate(FAMILIES)
        for di, day in enumerate(DAYS)
    }


def _layout(store, part):
    """Per partition: sorted (file rows, stat keys) pairs and the n_rows
    metric — everything of the manifest that is not a path or a time."""
    import pyarrow.parquet as pq

    m = store.manifest()
    files = m["files"][part]
    per_file = sorted(
        (pq.ParquetFile(f).metadata.num_rows, tuple(sorted(m["file_stats"].get(f, {}))))
        for f in files
    )
    return per_file, m["metrics"][part]["n_rows"]


def _rows(spark, store, prefix):
    return sorted(tuple(r) for r in store.read(spark, prefix=prefix).collect())


def _wait_for_listeners(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def _jobs_in_group(spark, group):
    _wait_for_listeners(spark)
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _clear_job_group(spark):
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    spark.sparkContext.setLocalProperty("spark.job.description", None)


def test_concurrent_commit_matches_partitions_committed_alone(spark, tmp_path):
    parts = _partitions(spark)
    together = SnapshotStore(str(tmp_path / "together"))
    # 14 writes on 2 x defaultParallelism threads, switching threads often
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        together.commit_partitions(parts, stat_cols=STAT_COLS)
    finally:
        sys.setswitchinterval(interval)
    alone = SnapshotStore(str(tmp_path / "alone"))
    for key, df in parts.items():
        alone.commit_partitions({key: df}, stat_cols=STAT_COLS)

    m_t, m_a = together.manifest(), alone.manifest()
    assert sorted(m_t["files"]) == sorted(m_a["files"]) == sorted(parts)
    # one snapshot: every partition's files live under that snapshot's dir
    sid = m_t["snapshot_id"]
    for part, files in m_t["files"].items():
        assert files and all(f"/data/{sid}/{part}/" in f for f in files)
        assert m_t["metrics"][part]["snapshot_id"] == sid
    for part in parts:
        assert _layout(together, part) == _layout(alone, part), part
    for fam in FAMILIES:
        assert _rows(spark, together, f"{fam}/") == _rows(spark, alone, f"{fam}/")


def test_concurrent_compaction_keeps_rows_and_sheds_deletes(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "compact"))
    fams = FAMILIES[:4]
    store.commit_partitions(
        {
            f"{fam}/{day}": _family_df(spark, fi, di)
            for fi, fam in enumerate(fams)
            for di, day in enumerate(DAYS)
        },
        stat_cols=["id"],
    )
    assert all(len(pf) > 1 for pf in store.manifest()["files"].values())
    store.delete_where(spark, "id % 5 = 0", prefix="tier1h/", mode="merge-on-read")
    store.delete_where(spark, "id % 4 = 1", prefix="kmv1h/", mode="merge-on-read")
    store.delete_keys(
        spark,
        spark.createDataFrame([("u3",), ("u6",)], "url string"),
        prefix="gorilla1h/",
    )
    m = store.manifest()
    assert m["delete_files"] and m["eq_delete_files"]
    before = {fam: _rows(spark, store, f"{fam}/") for fam in fams}
    assert not any(r[2] % 5 == 0 for r in before["tier1h"])
    assert not any(r[0] in ("u3", "u6") for r in before["gorilla1h"])

    snap, report = store.compact_partitions(spark, min_files=2)
    assert snap is not None and sorted(report) == sorted(m["files"])
    mc = store.manifest(snap)
    assert "delete_files" not in mc and "eq_delete_files" not in mc
    for fam in fams:
        assert _rows(spark, store, f"{fam}/") == before[fam]
    for part, pf in mc["files"].items():
        assert len(pf) == 1 and report[part]["files_after"] == 1
        assert set(mc["file_stats"][pf[0]]) == {"id"}
    for fam in fams:
        n_rows = sum(mc["metrics"][f"{fam}/{day}"]["n_rows"] for day in DAYS)
        assert n_rows == len(before[fam])


def test_failed_partition_write_commits_nothing(spark, tmp_path):
    key = "spark.sql.parquet.outputTimestampType"
    store = SnapshotStore(str(tmp_path / "failing"))
    first = store.commit_partitions({"t/0": _family_df(spark, 0, 0)})
    bad = spark.range(0, 10).select(
        F.when(F.col("id") == 7, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        with pytest.raises(Exception, match="boom"):
            store.commit_partitions(
                {
                    "t/1": _family_df(spark, 0, 1),
                    "t/2": bad,
                    "t/3": _family_df(spark, 1, 0),
                }
            )
        assert spark.conf.get(key) == "INT96"
    finally:
        spark.conf.set(key, prev)
    assert store.head() == first
    assert [h["snapshot_id"] for h in store.history()] == [first]
    assert sorted(store.manifest()["files"]) == ["t/0"]


def test_pool_jobs_run_under_callers_job_group(spark, tmp_path):
    sc = spark.sparkContext
    store = SnapshotStore(str(tmp_path / "grouped"))
    parts = {f"t/{i}": _family_df(spark, i, 0) for i in range(6)}
    group = f"commit-{uuid.uuid4().hex}"
    ungrouped_before = _jobs_in_group(spark, None)
    sc.setJobGroup(group, "concurrent commit")
    try:
        store.commit_partitions(parts)
    finally:
        _clear_job_group(spark)
    # every partition write is at least one job, all of them in the group
    assert len(_jobs_in_group(spark, group)) >= len(parts)
    assert _jobs_in_group(spark, None) <= ungrouped_before

    group = f"compact-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "concurrent compaction")
    try:
        _, report = store.compact_partitions(spark, min_files=2)
    finally:
        _clear_job_group(spark)
    assert len(report) == len(parts)
    assert len(_jobs_in_group(spark, group)) >= len(parts)
    assert _jobs_in_group(spark, None) <= ungrouped_before


def _assert_reads_plan_without_jobs(spark, store):
    sc = spark.sparkContext
    m = store.manifest()
    for fam in FAMILIES:
        group = f"read-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "plan a store read")
        try:
            df = store.read(spark, prefix=f"{fam}/")
            schema = df.schema
        finally:
            _clear_job_group(spark)
        assert _jobs_in_group(spark, group) == set(), fam
        files = [f for p, pf in sorted(m["files"].items()) if p.startswith(f"{fam}/") for f in pf]
        assert schema == spark.read.parquet(*files).schema, fam


def test_reads_plan_without_jobs_and_keep_inferred_schema(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "reads"))
    store.commit_partitions(_partitions(spark), stat_cols=["id"])
    _assert_reads_plan_without_jobs(spark, store)
    # merge-on-read deletes and equality tombstones add anti-joins whose
    # delete-file scans must not infer either
    store.delete_where(spark, "id % 3 = 0", prefix="tier1h/", mode="merge-on-read")
    store.delete_where(spark, "id % 3 = 1", prefix="sig/", mode="merge-on-read")
    store.delete_keys(spark, spark.createDataFrame([("u1",)], "url string"))
    m = store.manifest()
    assert m["delete_files"] and m["eq_delete_files"]
    _assert_reads_plan_without_jobs(spark, store)
    assert not any(r[0] == "u1" for r in _rows(spark, store, "sig/"))
    assert not any(r[2] % 3 == 0 for r in _rows(spark, store, "tier1h/"))


def test_merge_schema_still_merges_added_columns(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "evolve"))
    store.commit_partitions({"t/1": spark.range(0, 5).select("id")})
    store.commit_partitions(
        {"t/2": spark.range(5, 10).select("id", (F.col("id") * 2).alias("extra"))}
    )
    merged = store.read(spark, prefix="t/", merge_schema=True)
    assert merged.columns == ["id", "extra"]
    rows = sorted(tuple(r) for r in merged.collect())
    assert rows == [(i, None) for i in range(5)] + [(i, 2 * i) for i in range(5, 10)]
    # without merging, Spark infers from the first file in sorted path
    # order, whatever order the paths are passed in; so does the store
    plain = store.read(spark, prefix="t/")
    files = store.files_for(prefix="t/")
    assert plain.schema == spark.read.parquet(*files).schema
    assert plain.schema == spark.read.parquet(*reversed(files)).schema


def _live_files(store):
    return {f for pf in store.manifest()["files"].values() for f in pf}


def test_dml_verbs_keep_their_job_and_file_counts(spark, tmp_path):
    """Each copy-on-write verb runs a fixed number of Spark jobs and writes
    one new file per touched file (plus, for MERGE, one insert file): an
    extra probe, write or schema job shows up here before it shows up as a
    slower benchmark."""
    sc = spark.sparkContext
    store = SnapshotStore(str(tmp_path / "dml_shape"))
    store.commit_partitions(
        {
            "t/d1": spark.range(0, 100).select(
                "id", (F.col("id") * 10).alias("v"), F.lit("d1").alias("tag")
            ),
            "t/d2": spark.range(100, 200).select(
                "id", (F.col("id") * 10).alias("v"), F.lit("d2").alias("tag")
            ),
        },
        stat_cols=["id"],
        cluster_by=["id"],
        cluster_files=4,
    )
    src = spark.createDataFrame(
        [(3, 999, "a"), (150, -1, "b"), (500, 7, "new")],
        "id long, v long, tag string",
    )
    verbs = [
        # stats agg, probe, matched/unmatched split, rewrite, insert, and
        # the broadcasts of source keys and marked source rows
        ("merge", lambda: store.merge_into(
            spark, src, ["id"], prefix="t/", insert_partition="t/d2"), 12, 3),
        # probe (map + result stage) and the one rewrite
        ("delete", lambda: store.delete_where(
            spark, "(id >= 40 and id < 45) or id = 120", prefix="t/"), 3, 2),
        ("update", lambda: store.update_where(
            spark, "id in (7, 160)", {"v": "v + 1"}, prefix="t/"), 3, 2),
    ]
    for name, run, want_jobs, want_files in verbs:
        before = _live_files(store)
        group = f"{name}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, name)
        try:
            snap, report = run()
        finally:
            _clear_job_group(spark)
        assert snap is not None and report["touched_files"] == 2, name
        assert len(_jobs_in_group(spark, group)) == want_jobs, name
        after = _live_files(store)
        assert len(after - before) == want_files, name
        assert len(before - after) == 2, name
