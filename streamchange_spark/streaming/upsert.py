"""Streaming upsert: micro-batch MERGE INTO the snapshot store.

Streaming twin of ``SnapshotStore.merge_into`` for the re-crawl feed: each
micro-batch of re-fetched pages is a MERGE source — matched keys rewrite
only the files that contain them (copy-on-write), unmatched keys append as
new files. Unlike the ingest twins (qsketch/kmv/heavy_hitters), nothing is
partitioned by ``_batch_id``: exactness under foreachBatch's at-least-once
replay comes from MERGE being IDEMPOTENT — replaying a batch re-matches the
rows it already upserted (its first play's inserts now match) and rewrites
them to the same values, so the table converges to the same state no matter
how many times a batch fires (asserted in tests/test_streaming_upsert.py).

The one semantic requirement this puts on the feed is that ``key_cols``
really identify a row across replays; batches whose keys collide WITHIN the
batch hit the SQL MERGE cardinality error. ``latest_by`` resolves such
collisions deterministically (keep the row with the greatest tiebreak value
per key) — the shape of a re-crawl feed where the same url+ts can appear in
two WARC shards of one dump.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.snapshots import SnapshotStore
from ._ingest import run_ingest

__all__ = ["run_streaming_upsert"]


def run_streaming_upsert(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    checkpoint_path: str,
    schema: str,
    key_cols: Iterable[str],
    prefix: str | None = None,
    insert_partition: str = "raw/inserts",
    latest_by: str | None = None,
    op_col: str | None = None,
    delete_op: str = "delete",
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
) -> None:
    """MERGE every unprocessed crawl file under ``input_path``
    (available-now) into the snapshot store at ``store_dir``. Resume-safe:
    the stream checkpoint skips finished files, and a replayed batch
    re-merges idempotently (see module docstring). Each micro-batch commits
    ONE store snapshot, so the store's lineage/metrics tables double as the
    stream's progress log and ``rollback`` undoes a bad batch.

    ``op_col`` turns the feed into full CDC: rows whose ``op_col`` equals
    ``delete_op`` become an equality tombstone
    (:meth:`SnapshotStore.delete_keys` — probe-free, O(keys) per batch)
    committed BEFORE the batch's merge, every other row upserts with the
    op column stripped. ``latest_by`` resolves per-key op races WITHIN a
    batch first (a delete and a re-insert of the same key in one batch
    keep only the newest op), and the store's sequence epochs order them
    ACROSS commits: the merge's files postdate the tombstone, so a key
    re-inserted by a later batch is alive while older rows stay dead.
    Replay safety: foreachBatch only ever replays the newest uncommitted
    batch, so a replayed tombstone re-kills rows that are already dead
    and a replayed merge rewrites to the same values — state converges.
    Tombstone entries accumulate one per deleting batch; the nightly
    ``maintain()`` compaction folds them into plain files."""
    key_cols = list(key_cols)
    store = SnapshotStore(store_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        src = batch_df
        if latest_by is not None:
            w = Window.partitionBy(*key_cols).orderBy(F.desc(latest_by))
            src = (
                src.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        sess = batch_df.sparkSession
        if op_col is not None:
            # ONE job for the op breakdown (most CDC batches are pure
            # upserts — don't pay a tombstone write job to learn a batch
            # held zero deletes).
            counts = {
                bool(r["d"]): r["count"]
                for r in src.groupBy(
                    (F.col(op_col) == delete_op).alias("d")
                ).count().collect()
            }
            dels = src.where(F.col(op_col) == delete_op).select(*key_cols)
            src = src.where(
                F.col(op_col).isNull() | (F.col(op_col) != delete_op)
            ).drop(op_col)
            if counts.get(True):
                # Tombstone first: the merge's data files then postdate it
                # (sequence epochs), so this batch's own upserts survive.
                store.delete_keys(
                    sess, dels, prefix=prefix,
                    properties={"stream_batch_id": batch_id},
                )
            if not counts.get(False):
                return
        elif not src.take(1):
            return
        store.merge_into(
            sess,
            src,
            key_cols,
            prefix=prefix,
            insert_partition=insert_partition,
            properties={"stream_batch_id": batch_id},
        )

    run_ingest(
        spark, input_path, checkpoint_path, schema, write_batch,
        max_files_per_trigger, timeout_sec,
    )
