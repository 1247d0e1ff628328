"""Streaming change-score ingestion: per-micro-batch snapshot signatures.

Streaming twin of ``operators.changescore`` with the same effectively-once
shape as the other ingest twins (qsketch/kmv/heavy_hitters): each
micro-batch of crawled pages writes its snapshot SIGNATURES — the
expensive text pass — to a parquet table partitioned by ``_batch_id`` (a
replayed batch overwrites only its own partition). Signatures are
row-local (each depends only on its own snapshot's text), so the
accumulated table is BIT-IDENTICAL to a batch ``snapshot_signatures`` run
over everything ingested, and ``change_scores_from_ingest`` scores the
full cross-batch series — a url's previous snapshot may have arrived many
micro-batches earlier — without ever re-reading text
(tests/test_streaming_corpus.py asserts stream == batch equality of the
final scores)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.changescore import (
    change_scores_from_signatures,
    snapshot_signatures,
)
from ._ingest import ingest_partials, read_ingested

__all__ = ["run_streaming_signature_ingest", "change_scores_from_ingest"]


def run_streaming_signature_ingest(
    spark: SparkSession,
    input_path: str,
    sig_path: str,
    checkpoint_path: str,
    schema: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    num_hashes: int = 16,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 600,
    hash_fn: str = "xxhash",
) -> None:
    """Signature every unprocessed crawl file under ``input_path``
    (available-now) into per-micro-batch rows at ``sig_path``. Resume-safe:
    the stream checkpoint skips finished files, and a replayed batch
    dynamically overwrites only its own ``_batch_id`` partition."""
    # hash_fn defaults to xxhash — the batch pipeline's production
    # default (pipeline.py sig stage); md5 remains available for
    # cross-engine oracle replay.
    ingest_partials(
        spark, input_path, sig_path, checkpoint_path, schema,
        lambda df: snapshot_signatures(
            df, url_col, ts_col, text_col, num_hashes, hash_fn=hash_fn
        ),
        max_files_per_trigger, timeout_sec,
    )


def change_scores_from_ingest(
    spark: SparkSession,
    sig_path: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    num_hashes: int = 16,
) -> DataFrame:
    """Score the FULL ingested series (one url-partitioned window over the
    accumulated signature table — lags cross micro-batch boundaries), bit-
    equal to batch ``snapshot_change_scores`` over everything ingested."""
    sigs = read_ingested(spark, sig_path)
    return change_scores_from_signatures(sigs, url_col, ts_col, num_hashes)
