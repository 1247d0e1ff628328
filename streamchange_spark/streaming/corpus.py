"""Streaming corpus ingestion: crawl dumps land as files, the text pass is
materialized incrementally, dedup verdicts stay GLOBAL.

At 100 TB a corpus is not re-read per cleaning run — new Common-Crawl dumps
arrive continuously and only the delta should pay the payload-text pass
(tokenize, hash, minhash). Structured Streaming's file source provides
exactly the checkpointed "which files are done" bookkeeping the batch
corpus pipeline gets from SnapshotStore, so this module is the streaming
twin of ``corpus_pipeline.run_corpus_pipeline``:

- :func:`run_streaming_corpus_ingest` — ``readStream`` over the dump
  directory, ``corpus_features`` per micro-batch via ``foreachBatch`` (the
  feature pass is row-local, so the union of micro-batch outputs is
  bit-identical to one batch run), features written to parquet partitioned
  by ``_batch_id`` with dynamic-partition overwrite: a replayed batch
  rewrites ONLY its own partition, upgrading foreachBatch's at-least-once
  to effectively-once.
- :func:`corpus_verdicts_from_ingest` — ``verdicts_from_features`` over the
  accumulated feature table. Dedup (exact groupBy + LSH band keys) depends
  only on per-document values, never on batch boundaries, so verdicts are
  identical to a single global ``clean_corpus`` over everything ingested —
  the same cross-shard argument as the batch pipeline, with micro-batches
  as the shards.
- :func:`streaming_exact_dedup` — first-seen online exact dedup with
  watermark-BOUNDED state (``dropDuplicatesWithinWatermark`` on the text
  hash): drops byte-identical re-crawls near the ingest edge without
  holding one state row per document ever seen. It is a bandwidth
  optimization, not a correctness stage — global exact dedup still happens
  in the verdict pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.corpus import (
    corpus_features,
    corpus_increment_deltas,
    verdicts_from_features,
)
from ._ingest import (
    ingest_partials,
    read_ingested,
    run_ingest,
    write_batch_partition,
)

__all__ = [
    "corpus_verdicts_from_ingest",
    "run_streaming_line_dedup",
    "incremental_verdicts_from_ingest",
    "run_streaming_corpus_ingest",
    "run_streaming_corpus_ingest_incremental",
    "streaming_exact_dedup",
]


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """First occurrence of each byte-identical text survives; later copies
    arriving within the watermark horizon are dropped. State is one row per
    DISTINCT text seen in the horizon — bounded by the watermark, never by
    corpus size (the unbounded ``dropDuplicates`` variant would hold every
    text hash forever). Duplicates farther apart than the horizon pass
    through; the global verdict pass catches them."""
    return (
        stream.withColumn("_text_md5", F.md5(F.col(text_col).cast("binary")))
        .withWatermark(ts_col, watermark_delay)
        .dropDuplicatesWithinWatermark(["_text_md5"])
        .drop("_text_md5")
    )


def run_streaming_corpus_ingest(
    spark: SparkSession,
    input_path: str,
    features_path: str,
    checkpoint_path: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
    **feature_kw,
) -> None:
    """Ingest every unprocessed file under ``input_path`` (available-now),
    appending id-level ``corpus_features`` rows to ``features_path``.

    Re-running is the resume path: the stream checkpoint skips files already
    processed, and a batch replayed after a mid-write crash overwrites its
    own ``_batch_id`` partition instead of appending duplicates. ``schema``
    is the file schema DDL (streaming file sources require it explicitly).
    """
    ingest_partials(
        spark, input_path, features_path, checkpoint_path, schema,
        lambda df: corpus_features(df, id_col=id_col, text_col=text_col, **feature_kw),
        max_files_per_trigger, timeout_sec,
    )


def _read_state(
    spark: SparkSession, state_path: str, before_batch: int
) -> tuple[DataFrame, DataFrame]:
    """Merge-on-read recovery of the dedup state from delta partitions with
    ``_batch_id < before_batch`` (both folds are associative, so any prefix
    of deltas reproduces the sequential index exactly). Missing paths mean
    no prior state (first batch)."""
    from pyspark.errors import AnalysisException

    try:
        md5 = (
            spark.read.parquet(f"{state_path}/md5")
            .where(F.col("_batch_id") < before_batch)
            .select("text_md5")
            .distinct()
        )
    except AnalysisException:
        md5 = spark.createDataFrame([], "text_md5 string")
    try:
        sig = (
            spark.read.parquet(f"{state_path}/sig")
            .where(F.col("_batch_id") < before_batch)
            .groupBy("band", "band_key")
            .agg(F.min("nd_component").alias("nd_component"))
        )
    except AnalysisException:
        sig = spark.createDataFrame(
            [], "band int, band_key string, nd_component bigint"
        )
    return md5, sig


def run_streaming_corpus_ingest_incremental(
    spark: SparkSession,
    input_path: str,
    verdicts_path: str,
    state_path: str,
    checkpoint_path: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
    near_dup: bool = True,
    num_hashes: int = 16,
    bands: int = 4,
    **feature_kw,
) -> None:
    """Streaming twin of the INCREMENTAL dedup path: each micro-batch pays
    one feature pass plus (increment x colliding-bucket) joins against the
    persisted md5/signature indexes — never a re-clustering of everything
    ingested so far (what ``corpus_verdicts_from_ingest`` per micro-batch
    would cost).

    Per batch, writes the batch's final verdicts to ``verdicts_path`` and
    its state DELTAS to ``{state_path}/md5`` and ``{state_path}/sig``, all
    partitioned by ``_batch_id`` with dynamic-partition overwrite: a batch
    replayed after a crash rewrites only its own partitions, and its state
    recovery reads only partitions ``< batch_id`` — effectively-once AND
    deterministic under replay. Verdicts are final at ingest time (online
    dedup: later crawls never rewrite earlier verdicts).

    Requires monotonic ids across batches (crawl ingest assigns ids in
    arrival order) — the precondition under which each batch's verdicts are
    hash-exact with a batch ``clean_corpus`` over everything ingested
    through that batch, restricted to the batch's ids (see
    ``operators.corpus`` incremental notes)."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        feats = corpus_features(
            batch_df,
            id_col=id_col,
            text_col=text_col,
            near_dup=near_dup,
            num_hashes=num_hashes,
            **feature_kw,
        ).localCheckpoint()
        md5_idx, sig_idx = _read_state(spark, state_path, batch_id)
        verdicts, md5_delta, sig_delta = corpus_increment_deltas(
            feats,
            md5_idx,
            sig_idx,
            id_col=id_col,
            near_dup=near_dup,
            num_hashes=num_hashes,
            bands=bands,
        )
        for frame, path in (
            (verdicts, verdicts_path),
            (md5_delta, f"{state_path}/md5"),
            (sig_delta, f"{state_path}/sig"),
        ):
            write_batch_partition(frame, path, batch_id)

    run_ingest(
        spark, input_path, checkpoint_path, schema, write_batch,
        max_files_per_trigger, timeout_sec,
    )


def incremental_verdicts_from_ingest(
    spark: SparkSession, verdicts_path: str
) -> DataFrame:
    """Everything the incremental ingest has decided so far — a plain read
    (verdicts are final at ingest time), vs the full verdict recomputation
    ``corpus_verdicts_from_ingest`` performs."""
    return read_ingested(spark, verdicts_path)


def corpus_verdicts_from_ingest(
    spark: SparkSession,
    features_path: str,
    id_col: str = "doc_id",
    **verdict_kw,
) -> DataFrame:
    """(id, lang_pred, quality_score, keep, drop_reason) over everything
    ingested so far — global dedup across every micro-batch, identical to a
    fresh ``clean_corpus`` over the union (band keys and text hashes are
    per-document values; see ``operators.corpus`` module docs)."""
    feats = read_ingested(spark, features_path)
    return verdicts_from_features(feats, id_col=id_col, **verdict_kw)


def _read_line_counts(
    spark: SparkSession, state_path: str, before_batch: int
) -> DataFrame:
    """Merge-on-read recovery of the (line_key, n) count index from delta
    partitions with ``_batch_id < before_batch`` — the sum fold is
    associative, so any prefix of deltas reproduces the sequential index
    exactly. Missing path means no prior state (first batch)."""
    from pyspark.errors import AnalysisException

    try:
        return (
            spark.read.parquet(state_path)
            .where(F.col("_batch_id") < before_batch)
            .groupBy("line_key")
            .agg(F.sum("n").alias("n"))
        )
    except AnalysisException:
        return spark.createDataFrame([], "line_key bigint, n bigint")


def run_streaming_line_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    state_path: str,
    checkpoint_path: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 30,
    max_occurrences: int = 2,
    delimiter: str = "\n",
    hash_fn: str = "xxhash",
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
) -> None:
    """Streaming twin of the incremental line dedup path
    (``operators.dedup.dedup_lines_against_counts``): each micro-batch
    pays one ``line_count_index`` pass over ITS OWN text, merges the
    delta into the counts recovered from prior batches' deltas
    (groupBy-sum merge-on-read — never a re-scan of prior documents),
    and writes its line-deduped documents.

    Both outputs are partitioned by ``_batch_id`` with dynamic-partition
    overwrite: a replayed batch rewrites only its own partitions and its
    state recovery reads only partitions ``< batch_id`` — effectively-once
    and replay-deterministic. Verdicts are final at ingest time
    (append-only): a line crossing the hotness threshold in a later crawl
    never rewrites earlier batches' emitted texts, exactly the
    ``dedup_lines_against_counts`` contract — each batch's output equals
    batch ``dedup_lines`` over everything ingested through that batch,
    restricted to the batch's ids."""
    from ..operators.dedup import (
        dedup_lines_against_counts,
        line_count_index,
        merge_line_count_indexes,
    )

    kw = dict(min_chars=min_chars, delimiter=delimiter, hash_fn=hash_fn)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()
        delta = line_count_index(batch_df, text_col, **kw).localCheckpoint()
        counts = merge_line_count_indexes(
            _read_line_counts(spark, state_path, batch_id), delta
        )
        deduped = dedup_lines_against_counts(
            batch_df, id_col, text_col, counts,
            max_occurrences=max_occurrences, **kw,
        )
        for frame, path in ((deduped, output_path), (delta, state_path)):
            write_batch_partition(frame, path, batch_id)

    run_ingest(
        spark, input_path, checkpoint_path, schema, write_batch,
        max_files_per_trigger, timeout_sec,
    )
