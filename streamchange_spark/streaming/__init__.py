"""Structured Streaming variants: stateful detectors, watermarked
continuous aggregates, and incremental corpus ingestion (see
streaming.detectors, streaming.rollup, streaming.corpus).

Every file ingest (the corpus, kmv, qsketch, heavy_hitters, statsagg,
changescore and stateagg twins, and the upsert) shares one contract,
implemented once in ``streaming._ingest``:

- checkpointed availableNow: one run reads every file the checkpoint has
  not yet seen, in micro-batches of at most ``max_files_per_trigger``
  files, then stops; re-running is the resume path, and a run still going
  after ``timeout_sec`` is stopped and raises ``TimeoutError``;
- ``_batch_id`` effectively-once: each micro-batch writes its output as its
  own ``_batch_id`` partition with dynamic-partition overwrite, so a batch
  replayed after a crash replaces only what it wrote (the upsert gets the
  same guarantee from MERGE idempotence instead).

Each twin module supplies only its per-batch transform and its read-time
merge, and its docstring states that family's exactness contract.
"""

from .corpus import (
    corpus_verdicts_from_ingest,
    incremental_verdicts_from_ingest,
    run_streaming_corpus_ingest,
    run_streaming_corpus_ingest_incremental,
    run_streaming_line_dedup,
    streaming_exact_dedup,
)
from .detectors import (
    streaming_capa,
    streaming_pelt,
    streaming_sequential_detector,
    streaming_window_segmentor,
)
from .changescore import change_scores_from_ingest, run_streaming_signature_ingest
from .heavy_hitters import hh_tier_from_ingest, run_streaming_hh_ingest
from .kmv import kmv_tier_from_ingest, run_streaming_kmv_ingest
from .statsagg import run_streaming_stats_ingest, stats_tier_from_ingest
from .stateagg import (
    run_streaming_state_ingest,
    state_tier_from_ingest,
    uptime_tier_from_ingest,
)
from .qsketch import run_streaming_sketch_ingest, sketch_tier_from_ingest
from .rollup import streaming_rollup_raw
from .upsert import run_streaming_upsert
from .sessions import streaming_sessions

__all__ = [
    "change_scores_from_ingest",
    "corpus_verdicts_from_ingest",
    "hh_tier_from_ingest",
    "incremental_verdicts_from_ingest",
    "kmv_tier_from_ingest",
    "run_streaming_corpus_ingest",
    "run_streaming_corpus_ingest_incremental",
    "run_streaming_hh_ingest",
    "run_streaming_kmv_ingest",
    "run_streaming_state_ingest",
    "run_streaming_stats_ingest",
    "state_tier_from_ingest",
    "stats_tier_from_ingest",
    "uptime_tier_from_ingest",
    "run_streaming_line_dedup",
    "run_streaming_signature_ingest",
    "run_streaming_sketch_ingest",
    "run_streaming_upsert",
    "sketch_tier_from_ingest",
    "streaming_capa",
    "streaming_exact_dedup",
    "streaming_pelt",
    "streaming_rollup_raw",
    "streaming_sequential_detector",
    "streaming_sessions",
    "streaming_window_segmentor",
]
