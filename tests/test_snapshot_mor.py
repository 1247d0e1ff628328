"""Merge-on-read positional deletes on the snapshot store (the Iceberg v2
DELETE shape): a delete commit writes only a tiny (file, pos) parquet and
carries every data file by reference; reads apply outstanding deletes via a
broadcast anti-join; compaction purges them back into plain files.

Contract exercised here:
- MoR read results == CoW read results == SQL DELETE semantics,
- the commit is metadata-only (data files carried verbatim),
- stacked MoR deletes compose; later CoW rewrites / MERGEs never resurrect
  MoR-deleted rows,
- compaction folds deletes in and sheds the manifest entries,
- expiry / orphan sweeps treat live delete files as pinned,
- incremental consumers (changed_partitions / read_incremental) see a MoR
  delete as a change to the touched partitions.
"""

import os

from pyspark.sql import functions as F

from streamchange_spark.sources import SnapshotStore


def _fixture(spark, tmp_path, name="mor_tbl"):
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


def test_mor_delete_is_metadata_only_and_reads_match_cow(spark, tmp_path):
    store, s1 = _fixture(spark, tmp_path)
    m1 = store.manifest(s1)
    s2, report = store.delete_where(
        spark,
        "id >= 40 and id < 45",
        prefix="t/",
        ranges={"id": (40, 44)},
        mode="merge-on-read",
    )
    assert s2 is not None and store.head() == s2
    assert report["deleted_rows"] == 5
    assert report["touched_files"] == 1
    assert report["delete_files_written"] >= 1
    m2 = store.manifest(s2)
    # data files carried verbatim — the commit wrote only delete files
    assert m2["files"] == m1["files"]
    covered = set(m2["delete_files"])
    assert len(covered) == 1 and covered <= set(m1["files"]["t/d1"])

    left = store.read(spark, prefix="t/")
    assert left.count() == 195
    assert left.where("id >= 40 and id < 45").count() == 0
    assert left.where("id in (39, 45)").count() == 2
    # time travel to the parent still sees the deleted rows
    assert store.read(spark, snapshot_id=s1).where("id = 42").count() == 1

    # CoW on a twin table gives the identical surviving row set
    cow_store, _ = _fixture(spark, tmp_path, "cow_tbl")
    cow_store.delete_where(
        spark, "id >= 40 and id < 45", prefix="t/", ranges={"id": (40, 44)}
    )
    a = sorted(r["id"] for r in store.read(spark, prefix="t/").collect())
    b = sorted(r["id"] for r in cow_store.read(spark, prefix="t/").collect())
    assert a == b

    # pruned reads still apply the deletes (delete join rides files_for):
    # ranges prune FILES, so surviving rows of the kept file(s) remain
    pruned = sorted(
        r["id"] for r in store.read(spark, prefix="t/", ranges={"id": (40, 49)}).collect()
    )
    assert not any(40 <= i < 45 for i in pruned)
    assert set(range(45, 50)) <= set(pruned)

    # no-match MoR delete -> no-op, no commit, no stray delete dir
    out, rep = store.delete_where(spark, "id = -1", prefix="t/", mode="merge-on-read")
    assert out is None and rep["deleted_rows"] == 0
    assert store.head() == s2


def test_mor_deletes_stack_and_null_predicate_rows_survive(spark, tmp_path):
    store, _ = _fixture(spark, tmp_path)
    store.delete_where(spark, "id = 10", mode="merge-on-read")
    s3, rep = store.delete_where(spark, "id in (10, 11)", mode="merge-on-read")
    # the probe scans live: already-deleted id=10 is not double-counted
    assert rep["deleted_rows"] == 1
    left = store.read(spark, prefix="t/")
    assert left.where("id in (10, 11)").count() == 0
    assert left.count() == 198
    m = store.manifest(s3)
    # one data file now carries two delete files
    assert max(len(v) for v in m["delete_files"].values()) == 2

    # NULL-predicate rows are kept (SQL DELETE semantics)
    s4, rep = store.delete_where(
        spark,
        F.col("tag").isNull() | (F.col("id") < -1),
        mode="merge-on-read",
    )
    assert s4 is None and rep["deleted_rows"] == 0


def test_cow_rewrites_after_mor_do_not_resurrect(spark, tmp_path):
    store, _ = _fixture(spark, tmp_path)
    store.delete_where(spark, "id = 50", mode="merge-on-read")
    # CoW delete touching the same partition rewrites files through the
    # live scan: id=50 must stay gone, and the rewritten file sheds its
    # positional-delete entry.
    s3, _ = store.delete_where(spark, "id >= 55 and id < 60", prefix="t/d1")
    left = store.read(spark, prefix="t/")
    assert left.where("id = 50").count() == 0
    assert left.count() == 194
    m3 = store.manifest(s3)
    live = {f for pf in m3["files"].values() for f in pf}
    assert all(f in live for f in m3.get("delete_files", {}))

    # MERGE after a MoR delete: the deleted key is NOT matched (it inserts
    # fresh under when_not_matched='insert'), and untouched deletes persist
    store.delete_where(spark, "id = 120", mode="merge-on-read")
    src = spark.createDataFrame(
        [(120, 9999, "d2"), (121, 8888, "d2")], "id long, v long, tag string"
    )
    store.merge_into(
        spark, src, ["id"], when_not_matched="insert", insert_partition="t/d2"
    )
    out = store.read(spark, prefix="t/")
    assert out.where("id = 120").count() == 1  # re-inserted, not resurrected
    assert out.where("id = 120").collect()[0]["v"] == 9999
    assert out.where("id = 121").collect()[0]["v"] == 8888
    assert out.where("id = 50").count() == 0


def test_compaction_purges_mor_deletes(spark, tmp_path):
    store, _ = _fixture(spark, tmp_path)
    store.delete_where(spark, "id in (3, 7, 103)", mode="merge-on-read")
    before = sorted(r["id"] for r in store.read(spark, prefix="t/").collect())
    snap, report = store.compact_partitions(spark, min_files=2)
    assert snap is not None
    m = store.manifest(snap)
    assert "delete_files" not in m  # all entries purged into plain files
    after = sorted(r["id"] for r in store.read(spark, prefix="t/").collect())
    assert after == before and len(after) == 197
    # exact row counts restored in metrics
    assert m["metrics"]["t/d1"]["n_rows"] == 98
    assert m["metrics"]["t/d2"]["n_rows"] == 99


def test_sweeps_pin_live_delete_files_and_expiry_reclaims(spark, tmp_path):
    store, _ = _fixture(spark, tmp_path)
    s2, rep = store.delete_where(spark, "id = 0", mode="merge-on-read")
    m2 = store.manifest(s2)
    del_files = sorted({p for v in m2["delete_files"].values() for p in v})
    assert all(os.path.exists(p) for p in del_files)
    # orphan sweep with zero grace: live delete files are pinned
    store.remove_orphan_files(older_than_seconds=0)
    assert all(os.path.exists(p) for p in del_files)
    # compaction replaces them; expiry then reclaims the old snapshot's
    # delete files along with its data files
    store.compact_partitions(spark, min_files=2)
    store.expire_snapshots(keep_last=1)
    assert all(not os.path.exists(p) for p in del_files)
    assert store.read(spark, prefix="t/").count() == 199


def test_mor_delete_is_visible_to_incremental_consumers(spark, tmp_path):
    store, s1 = _fixture(spark, tmp_path)
    s2, _ = store.delete_where(
        spark, "id = 42", prefix="t/", ranges={"id": (42, 42)}, mode="merge-on-read"
    )
    assert store.changed_partitions(s1) == ["t/d1"]
    df, changed = store.read_incremental(spark, since_snapshot=s1)
    assert changed == ["t/d1"]
    assert df.where("id = 42").count() == 0
    assert df.count() == 99


def test_mor_delete_over_stacked_deletes_and_tombstone_counts_once(spark, tmp_path):
    """A merge-on-read delete over data files that already carry two
    stacked positional deletes and an equality tombstone reports and
    writes exactly the live matching rows, in a pinned number of Spark
    jobs: the probe write is the only execution over the table (the
    touched files and counts are read back from the delete file on the
    driver)."""
    import glob
    import uuid
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq
    from test_snapshot_concurrency import _clear_job_group, _jobs_in_group

    def delete_rows(paths):
        return {
            (unquote(urlparse(r["file"]).path), r["pos"])
            for d in paths
            for r in pq.read_table(d).to_pylist()
        }

    store, _ = _fixture(spark, tmp_path)
    store.delete_where(spark, "id in (10, 20, 130)", mode="merge-on-read")
    store.delete_where(spark, "id in (11, 21, 140)", mode="merge-on-read")
    store.delete_keys(
        spark, spark.createDataFrame([(12,), (150,)], "id long"), prefix="t/"
    )
    m = store.manifest()
    # oracle: (manifest path, row index) of every matching row no earlier
    # delete removed, from the data and delete files themselves
    dead = delete_rows({d for v in m["delete_files"].values() for d in v})
    want = set()
    for f in (f for pf in m["files"].values() for f in pf):
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        if min(ids) > 159:
            continue  # pruned by ranges= below
        want |= {
            (f, pos) for pos, i in enumerate(ids)
            if i % 10 < 4 and i < 160 and i not in (12, 150)
            and (f, pos) not in dead
        }

    group = f"mor-{uuid.uuid4().hex}"
    spark.sparkContext.setJobGroup(group, "mor")
    try:
        snap, rep = store.delete_where(
            spark, "id % 10 < 4 and id < 160", prefix="t/",
            ranges={"id": (0, 159)}, mode="merge-on-read",
        )
    finally:
        _clear_job_group(spark)
    # the probe write and the broadcasts of the stacked deletes and of the
    # tombstone; re-reading the delete file in Spark to count its rows per
    # data file cost two more (7)
    assert len(_jobs_in_group(spark, group)) == 5
    assert (rep["deleted_rows"], rep["touched_files"], rep["pruned_files"]) == (
        56, 7, 1
    )
    assert len(want) == 56 and len({f for f, _ in want}) == 7
    written = glob.glob(os.path.join(store.table_dir, "data", snap, "deletes", "*.parquet"))
    assert delete_rows(written) == want
    assert store.read(spark, prefix="t/").where(
        "id % 10 < 4 and id < 160"
    ).count() == 0
