"""Equality deletes on the snapshot store (the Iceberg v2 equality-delete
shape): a tombstone commit writes only the deduplicated key set — no probe
scan — and reads anti-join it per sequence epoch, so rows from files OLDER
than the tombstone die while a key re-inserted later is alive again (the
CDC delete+insert ordering)."""

import os

import pytest
from pyspark.sql import functions as F

from streamchange_spark.sources import SnapshotStore


def _fixture(spark, tmp_path, name="eq_tbl"):
    store = SnapshotStore(str(tmp_path / name))
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


def test_eq_delete_is_probe_free_metadata_commit(spark, tmp_path):
    store, s1 = _fixture(spark, tmp_path)
    m1 = store.manifest(s1)
    keys = spark.createDataFrame([(5,), (42,), (150,), (999,)], "id long")
    s2, rep = store.delete_keys(spark, keys, prefix="t/")
    assert s2 is not None and store.head() == s2
    assert rep["n_keys"] == 4
    assert rep["eq_delete_bytes"] > 0
    assert rep["partitions_marked"] == 2
    m2 = store.manifest(s2)
    assert m2["files"] == m1["files"]  # data carried verbatim
    assert len(m2["eq_delete_files"]) == 1
    out = store.read(spark, prefix="t/")
    assert out.count() == 197  # 999 matches nothing
    assert out.where("id in (5, 42, 150)").count() == 0
    # time travel to the parent still sees the tombstoned rows
    assert store.read(spark, snapshot_id=s1).where("id = 42").count() == 1
    # empty key set -> no-op
    out2, rep2 = store.delete_keys(spark, keys.where("id < 0"))
    assert out2 is None and rep2["n_keys"] == 0
    assert store.head() == s2


def test_eq_delete_sequence_semantics_reinsert_survives(spark, tmp_path):
    store, _ = _fixture(spark, tmp_path)
    store.delete_keys(spark, spark.createDataFrame([(42,)], "id long"))
    # CDC re-insert AFTER the tombstone: the new row is born in a newer
    # sequence, so the tombstone must not touch it
    fresh = spark.createDataFrame([(42, 777, "d3")], "id long, v long, tag string")
    store.commit_partitions({"t/d3": fresh})
    out = store.read(spark, prefix="t/")
    rows = out.where("id = 42").collect()
    assert len(rows) == 1 and rows[0]["v"] == 777
    assert out.count() == 200  # 200 original - 1 tombstoned + 1 re-inserted
    # a second tombstone AFTER the re-insert kills it too
    store.delete_keys(spark, spark.createDataFrame([(42,)], "id long"))
    assert store.read(spark, prefix="t/").where("id = 42").count() == 0


def test_eq_delete_multi_column_and_null_safe(spark, tmp_path):
    store, _ = _fixture(spark, tmp_path)
    extra = spark.createDataFrame(
        [(300, 1, None), (301, 2, "x")], "id long, v long, tag string"
    )
    store.commit_partitions({"t/d3": extra})
    # composite key (v, tag) with a NULL component: null-safe equality
    # must kill the NULL-tagged row and only it
    keys = spark.createDataFrame([(1, None)], "v long, tag string")
    _, rep = store.delete_keys(spark, keys)
    assert rep["n_keys"] == 1
    out = store.read(spark, prefix="t/")
    assert out.where("id = 300").count() == 0
    assert out.where("id = 301").count() == 1
    assert out.count() == 201


def test_compaction_purges_eq_deletes_and_composes_with_mor(spark, tmp_path):
    store, _ = _fixture(spark, tmp_path)
    store.delete_where(spark, "id = 10", mode="merge-on-read")
    store.delete_keys(spark, spark.createDataFrame([(11,), (111,)], "id long"))
    before = sorted(r["id"] for r in store.read(spark, prefix="t/").collect())
    assert len(before) == 197 and not {10, 11, 111} & set(before)
    snap, _ = store.compact_partitions(spark, min_files=2)
    assert snap is not None
    m = store.manifest(snap)
    assert "delete_files" not in m and "eq_delete_files" not in m
    after = sorted(r["id"] for r in store.read(spark, prefix="t/").collect())
    assert after == before
    assert m["metrics"]["t/d1"]["n_rows"] == 98
    assert m["metrics"]["t/d2"]["n_rows"] == 99


def test_eq_delete_files_pinned_until_unreferenced(spark, tmp_path):
    store, s1 = _fixture(spark, tmp_path)
    s2, _ = store.delete_keys(spark, spark.createDataFrame([(0,)], "id long"))
    tomb = store.manifest(s2)["eq_delete_files"][0]["paths"]
    assert all(os.path.exists(p) for p in tomb)
    store.remove_orphan_files(older_than_seconds=0)
    assert all(os.path.exists(p) for p in tomb)
    # incremental consumers see every partition under the prefix as changed
    assert store.changed_partitions(s1) == ["t/d1", "t/d2"]
    df, changed = store.read_incremental(spark, since_snapshot=s1)
    assert df.where("id = 0").count() == 0 and df.count() == 199
    # compaction replaces, expiry reclaims
    store.compact_partitions(spark, min_files=2)
    store.expire_snapshots(keep_last=1)
    assert all(not os.path.exists(p) for p in tomb)
    assert store.read(spark, prefix="t/").count() == 199


def test_staged_commit_carries_delete_state(spark, tmp_path):
    """commit_partitions(stage=True) writes its manifest outside the HEAD
    flip — it must still carry outstanding positional deletes, tombstones,
    and sequence stamps, or publishing the staged snapshot would resurrect
    purged rows."""
    store, _ = _fixture(spark, tmp_path)
    store.delete_where(spark, "id = 10", mode="merge-on-read")
    store.delete_keys(spark, spark.createDataFrame([(11,)], "id long"))
    extra = spark.createDataFrame([(500, 1, "d3")], "id long, v long, tag string")
    staged = store.commit_partitions({"t/d3": extra}, stage=True)
    # the write-audit read of the staged snapshot already hides the purges
    audit = store.read(spark, snapshot_id=staged)
    assert audit.where("id in (10, 11)").count() == 0
    assert audit.where("id = 500").count() == 1
    store.publish(staged)
    assert store.read(spark).where("id in (10, 11)").count() == 0
    m = store.manifest()
    assert m["delete_files"] and m["eq_delete_files"]
    assert m["seq"] == 4  # base, MoR, tombstone, staged
    # a LATER tombstone still applies to carried files (seq stamps intact)
    store.delete_keys(spark, spark.createDataFrame([(12,)], "id long"))
    assert store.read(spark).where("id = 12").count() == 0


def test_delete_keys_validates_columns_against_covered_partitions(spark, tmp_path):
    store, _ = _fixture(spark, tmp_path)
    with pytest.raises(ValueError, match="absent from partition"):
        store.delete_keys(spark, spark.createDataFrame([(1,)], "nope long"))
    # a family lacking the key column poisons nothing when the tombstone
    # is scoped away from it — and raises loudly when it is not
    meta = spark.createDataFrame([("a", 1)], "name string, n long")
    store.commit_partitions({"meta/all": meta})
    s, _ = store.delete_keys(
        spark, spark.createDataFrame([(5,)], "id long"), prefix="t/"
    )
    assert s is not None
    assert store.read(spark, prefix="t/").where("id = 5").count() == 0
    with pytest.raises(ValueError, match="absent from partition 'meta/all'"):
        store.delete_keys(spark, spark.createDataFrame([(6,)], "id long"))


def test_cluster_layout_survives_dml_and_recompaction(spark, tmp_path):
    """A CoW rewrite must keep the partition's recorded cluster keys so the
    nightly compaction re-clusters instead of de-clustering — also when a
    delete kills every row of the files it touches and only untouched files
    remain."""
    store, _ = _fixture(spark, tmp_path)
    store.update_where(spark, "id >= 40 and id < 45", {"v": "v + 1"})
    m = store.manifest()
    assert m["metrics"]["t/d1"].get("cluster_by") == ["id"]
    # delete exactly the rows of t/d1's top-key file (files are disjoint)
    lo, hi = max(m["file_stats"][f]["id"] for f in m["files"]["t/d1"])
    _, report = store.delete_where(
        spark, f"id between {lo} and {hi}", ranges={"id": (lo, hi)}
    )
    assert report["touched_files"] == 1
    m = store.manifest()
    assert len(m["files"]["t/d1"]) == 3
    assert m["metrics"]["t/d1"].get("cluster_by") == ["id"]
    assert m["metrics"]["t/d1"]["n_rows"] == 100 - report["deleted_rows"]
    snap, _ = store.compact_partitions(spark, target_file_bytes=1)
    m2 = store.manifest(snap)
    assert m2["metrics"]["t/d1"].get("cluster_by") == ["id"]
    # the recompacted files are key-disjoint again: an id-range read skips
    kept = store.files_for(prefix="t/d1", ranges={"id": (40, 44)})
    assert 0 < len(kept) < len(m2["files"]["t/d1"])
