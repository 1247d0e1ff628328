"""The flagship pipeline: Common-Crawl-style pages -> retention tiers ->
Gorilla-compressed series -> per-URL change points, committed as snapshots
with per-partition lineage and resumable from the last committed snapshot.

This is the ``spark-submit --py-files`` entry point of the engine (north
rule): on a cluster the SnapshotStore directory is a real Iceberg table and
nothing else changes. Partitioning strategy:

- the store is partitioned by *day* (``{family}/{day}``, the row's
  ``bucket_start`` or crawl date) — the natural Common-Crawl crawl-batch
  unit; a restart skips completed days,
- each tier family is built ONCE over every day still to build and
  committed in one partitioned write that lands each row in its day's
  partition, so the build's Spark job count does not grow with the day
  count; the rollup shuffles on (url, bucket) with AQE coalescing and
  skew-join splitting enabled; the detector scan repartitions by url only
  (its state is sequential per url),
- ``html`` is never read: the metric extraction selects (url, warc_ts,
  length(text)) so Parquet column pruning drops the heavy columns at the
  scan (verified in tests via the physical plan's ReadSchema).
"""

from __future__ import annotations

import time
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernels import BIC, CUSUM, WindowSegmentor
from .operators import (
    change_scores_from_signatures,
    compress_series,
    gapfill,
    kmv_distinct,
    kmv_rollup,
    kmv_tier,
    merge_tier,
    rollup_raw,
    sketch_percentiles,
    sketch_rollup,
    sketch_tier,
    snapshot_signatures,
    encode_state_runs,
    heartbeat_tier_from_runs,
    state_tier_from_runs,
    stats_eval,
    stats_rollup,
    stats_tier,
    window_segmentor_changepoints,
)
from .operators._sql import string
from .sources.snapshots import _PART_COL, SnapshotStore


def extract_metrics(pages: DataFrame) -> DataFrame:
    """(url, warc_ts, text_len): the per-crawl metric series. Selecting only
    these columns lets Parquet prune `html`/`text` payload bytes at the scan."""
    return pages.select(
        "url", "warc_ts", F.length("text").cast("double").alias("text_len")
    )


def default_detector_factory():
    return WindowSegmentor(CUSUM(penalty=BIC(scale=2.0)), 4, 100)


#: Minhash components per snapshot signature (RSE of the Jaccard estimate
#: ~ 1/sqrt(k)); the sig/{day} tier stores k+2 small columns per snapshot.
SIG_HASHES = 16

#: Manifest column stats the tier commits record (each family records
#: whichever of these it carries): a url- or time-range read over the
#: committed tiers then opens only the overlapping files (files_for).
_STAT_COLS = ["url", "bucket_start", "warc_ts", "run_start_us"]


class _Family(NamedTuple):
    """One tier family, built over every crawl day at once.
    ``build(metrics, pages)`` makes the 1h partial from raw rows;
    ``merge(committed, fresh)`` folds a late partial into the committed one
    at the same tier (the continuous-aggregate refresh: aggregate only the
    late rows, then merge). ``day`` is the SQL expression of a built row's
    crawl day, which names its partition ``{prefix}/{day}``. ``row_keyed``
    families carry the url on every row, so a purge deletes from them; the
    others are rebuilt. A family without ``build`` is compressed from the
    (merged) ``tier1h`` frame, keyed by url and partition."""

    prefix: str
    build: Callable[[DataFrame, DataFrame], DataFrame] | None
    merge: Callable[[DataFrame, DataFrame], DataFrame] | None
    row_keyed: bool
    day: str = "to_date(bucket_start)"


# Every family rides one raw scan, and the coarser 1d/30d reads merge FROM
# the committed 1h partials, never re-scanning raw. Builds and merges are
# lambdas so each call looks the operator up in this module at call time:
# a wrapper installed on those names at runtime sees every call.
_FAMILIES = (
    # additive 1h tier: merge_tier keeps associative state, so
    # merge(tier(base), tier(late)) == tier(base ∪ late) exactly
    _Family("tier1h",
            lambda m, p: rollup_raw(m, ["url"], "warc_ts", "text_len", "1h"),
            lambda old, new: merge_tier([old, new], ["url"]), True),
    # Gorilla blobs are day-local by layout: compressed per (url, day) from
    # the (merged) tier1h frame, whose partition key names the day.
    _Family("gorilla1h", None, None, True, f"substring_index({_PART_COL}, '/', -1)"),
    # Mergeable percentile sketches: coarser percentile tiers merge FROM
    # the 1h blobs (sketch_rollup); a GK merge keeps its carried error bound.
    _Family("qsketch1h",
            lambda m, p: sketch_tier(m, ["url"], "warc_ts", "text_len", tier="1h"),
            lambda old, new: sketch_rollup(old.unionByName(new), ["url"], "1h"),
            True),
    # Crawl breadth: unique urls per hour as a keyless bottom-k (KMV)
    # sketch; bottom-k is closed under union, so merges are bit-exact.
    _Family("kmv1h", lambda m, p: kmv_tier(m, [], "warc_ts", "url", tier="1h"),
            lambda old, new: kmv_rollup(old.unionByName(new), [], "1h"), False),
    # Regression moments (the 1d/30d text-length TREND): per-(url, 1h)
    # partial sums, closed under addition — re-bucketing at the same tier
    # is a pure per-(url, bucket) SUM (origin shift c = 0).
    _Family("stats1h",
            lambda m, p: stats_tier(m, ["url"], "warc_ts", "text_len", tier="1h"),
            lambda old, new: stats_rollup(old.unionByName(new), ["url"], "1h"),
            True),
    # Time-in-state runs: each crawl's lang held LOCF until the url's next
    # crawl. Stored per-OBSERVATION (collapse=False) so the read-time span
    # stitch — which crosses day boundaries the day partitions cannot see —
    # stays exact under arbitrary late/out-of-order refresh batches: union
    # IS the refresh.
    _Family("staterun",
            lambda m, p: encode_state_runs(p, ["url"], "warc_ts", "lang",
                                           collapse=False),
            DataFrame.unionByName, True, "to_date(timestamp_micros(run_start_us))"),
    # The change-score TEXT PASS: signatures depend only on each
    # snapshot's own text, so per-day partials (and late ones) concatenate
    # into the table a global pass would give. xxhash is the scale default:
    # md5's 16 JVM digests per shingle made the pass 3.4-4.5x slower at
    # every parallelism level (BASELINE.md churn rows), and change scores
    # only compare signature equality, so the hash is statistically neutral.
    _Family("sig",
            lambda m, p: snapshot_signatures(p, "url", "warc_ts", "text",
                                             num_hashes=SIG_HASHES, hash_fn="xxhash"),
            DataFrame.unionByName, True, "to_date(warc_ts)"),
)


def _keyed(fam: _Family, df: DataFrame) -> DataFrame:
    """``df`` with each row's partition key ``{prefix}/{day}`` in the
    store's frame-key column."""
    key = f"concat('{fam.prefix}/', CAST({fam.day} AS STRING))"
    return df.withColumn(_PART_COL, F.expr(key))


def _crawl_days(df: DataFrame) -> list[str]:
    """The sorted distinct ``to_date(warc_ts)`` days of ``df`` (one job)."""
    days = df.select(F.to_date("warc_ts").alias("day")).distinct().collect()
    return sorted(str(r["day"]) for r in days)


def _tier_frames(
    metrics: DataFrame,
    pages: DataFrame,
    chunk_points: int | None,
    committed: Callable[[_Family], DataFrame | None] = lambda fam: None,
) -> dict[str, DataFrame]:
    """``{prefix: frame}`` in family table order: each family's ONE frame
    over every day of the input, its rows carrying their partition key
    (see ``SnapshotStore._commit_frames``). ``committed(fam)`` returns the
    stored rows a fresh partial merges into, or None to commit the fresh
    partial as is."""
    frames = {}
    for fam in _FAMILIES:
        if fam.build is None:
            # chunk_points bounds the skew tail at scale: a hot url whose
            # 1h series runs to millions of points would otherwise become
            # one giant blob (single sequential decode stream, one fat
            # task); 64k-point chunks decode at full lockstep width and
            # re-compress independently under retention rewrites. The raw
            # operator keeps chunking opt-in; the pipeline defaults it ON.
            part = compress_series(
                frames["tier1h"], ["url", _PART_COL], "bucket_start", "sum_v",
                chunk_points=chunk_points,
            )
        else:
            part = fam.build(metrics, pages)
            old = committed(fam)
            part = part if old is None else fam.merge(old, part)
        frames[fam.prefix] = _keyed(fam, part)
    return frames


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    store_dir: str,
    detector_factory=default_detector_factory,
    chunk_points: int | None = 65536,
) -> dict:
    """Run all stages, committing each day's tier data as snapshot partitions.
    Returns run metrics. Re-running over the same store resumes: completed
    day-partitions are skipped (snapshot manifest is the checkpoint)."""
    store = SnapshotStore(store_dir)
    metrics = extract_metrics(pages)
    days = _crawl_days(metrics)
    done = store.completed_partitions()
    todo = [d for d in days if f"tier1h/{d}" not in done]
    if len(todo) < len(days):  # resume: the committed days are not rebuilt
        on_todo = F.to_date("warc_ts").isin(todo)
        metrics, pages = metrics.where(on_todo), pages.where(on_todo)

    t0 = time.time()
    committed = None
    if todo:
        frames = _tier_frames(metrics, pages, chunk_points)
        committed = store._commit_frames(
            {f"{p}/{d}": frames[p] for d in todo for p in frames},
            watermark=max(todo),
            properties={"stage": "tiers"},
            stat_cols=_STAT_COLS,
        )
    tiers_sec = time.time() - t0

    # Coarser tiers + change points read the committed 1h tier back (one
    # pass over the compacted tier, not the raw pages).
    tier1h = store.read(spark, prefix="tier1h/")

    t0 = time.time()
    hourly_mean = tier1h.select(
        "url", "bucket_start", (F.col("sum_v") / F.col("n_points")).alias("v")
    )
    # standardize=True: the detectors' score/penalty calibration assumes
    # ~unit-variance input (the reference's own examples feed unit-variance
    # simulate() data); raw hourly text_len means are in the hundreds, which
    # would alarm on pure noise. Per-key z-scoring happens inside the
    # grouped UDF after the ts sort — deterministic, no extra exchange.
    cpts = window_segmentor_changepoints(
        hourly_mean,
        detector_factory,
        key_cols=["url"],
        ts_col="bucket_start",
        value_cols=["v"],
        standardize=True,
    )
    n_cpts = cpts.count()
    detect_sec = time.time() - t0

    # Crawl-FREQUENCY change points — the north star's remaining per-URL
    # page-metric series (crawl frequency, text length, change scores).
    # Crawls/hour is the committed tier's n_points column, so the series
    # is free once tier1h exists — but a frequency DROP shows up as
    # MISSING hours, not smaller counts, so the series must be densified
    # first: gapfill(method="null") builds the per-url hourly grid and
    # absent hours coalesce to 0 crawls. standardize=True for the same
    # penalty-calibration reason as the stages above (counts are small
    # integers; constant-rate urls z-score to NaN and drop).
    t0 = time.time()
    hourly_freq = gapfill(
        tier1h.select("url", "bucket_start", "n_points"),
        ["url"], "bucket_start", "n_points", step_seconds=3600,
        method="null",
    ).select(
        "url",
        "bucket_start",
        F.coalesce(F.col("n_points"), F.lit(0)).cast("double").alias("v"),
    )
    freq_cpts = window_segmentor_changepoints(
        hourly_freq,
        detector_factory,
        key_cols=["url"],
        ts_col="bucket_start",
        value_cols=["v"],
        standardize=True,
    ).count()
    freq_sec = time.time() - t0

    # 1d percentiles merged from the committed 1h sketches — no raw re-scan
    t0 = time.time()
    sketch1h = store.read(spark, prefix="qsketch1h/")
    pctl_1d_rows = sketch_percentiles(
        sketch_rollup(sketch1h, ["url"], "1d"), ["url"]
    ).count()
    # ... and daily crawl breadth (unique urls) merged from the committed
    # hourly KMV arrays the same way.
    kmv1h = store.read(spark, prefix="kmv1h/")
    uniq_urls_1d_rows = kmv_distinct(kmv_rollup(kmv1h, [], "1d")).count()
    # ... and the daily text-length trend surface merged from the hourly
    # regression moments (slope/R² per url per day, no raw re-scan).
    stats1h = store.read(spark, prefix="stats1h/")
    trend_1d_rows = stats_eval(stats_rollup(stats1h, ["url"], "1d")).count()
    # ... and the daily time-in-state surface (seconds each url spent in
    # each lang) stitched from the committed per-day run rows — the stitch
    # crosses day boundaries because the store read IS the full table.
    staterun = store.read(spark, prefix="staterun/")
    lang_state_1d_rows = state_tier_from_runs(staterun, ["url"], "1d").count()
    # ... and crawl liveness off the SAME committed rows, zero extra
    # storage: every stored observation is a heartbeat, so per-url daily
    # uptime under an hourly-crawl tolerance is one more read surface
    # (exact — the family stores per-observation runs).
    crawl_uptime_1d_rows = heartbeat_tier_from_runs(
        staterun, ["url"], "1d", tolerance_s=3600.0
    ).count()
    sketch_sec = time.time() - t0

    # Change-score series + churn change points from the committed per-day
    # signature partitions: the window crosses day boundaries because the
    # store read IS the full table — no text re-scan. NULL scores (first
    # snapshots, sub-shingle texts) ride the detectors' NaN semantics
    # (dropna, same as the reference).
    t0 = time.time()
    sigs = store.read(spark, prefix="sig/")
    churn = change_scores_from_signatures(
        sigs, "url", "warc_ts", num_hashes=SIG_HASHES
    )
    # standardize=True for the same reason as the text_len stage above —
    # and more acutely: a raw [0,1] change-score series can NEVER clear the
    # default BIC penalty at max_window=100 (max squared-CUSUM 25 < 36.8),
    # so without it this stage is structurally unable to fire. Constant
    # (all-zero churn) urls z-score to NaN and are dropped by the
    # detectors' reference NaN semantics.
    churn_cpts = window_segmentor_changepoints(
        churn.where(F.col("change_score").isNotNull()),
        detector_factory,
        key_cols=["url"],
        ts_col="warc_ts",
        value_cols=["change_score"],
        standardize=True,
    ).count()
    churn_sec = time.time() - t0

    return {
        "snapshot_id": committed,
        "days_total": len(days),
        "refresh": False,
        "days_built": len(todo),
        "rolled_rows": tier1h.count(),
        "changepoints": n_cpts,
        "freq_changepoints": freq_cpts,
        "freq_sec": round(freq_sec, 2),
        "pctl_1d_rows": pctl_1d_rows,
        "uniq_urls_1d_rows": uniq_urls_1d_rows,
        "trend_1d_rows": trend_1d_rows,
        "lang_state_1d_rows": lang_state_1d_rows,
        "crawl_uptime_1d_rows": crawl_uptime_1d_rows,
        "churn_changepoints": churn_cpts,
        "churn_sec": round(churn_sec, 2),
        "tiers_sec": round(tiers_sec, 2),
        "detect_sec": round(detect_sec, 2),
        "sketch_sec": round(sketch_sec, 2),
    }


def read_lang_state_tier(
    spark: SparkSession,
    store: SnapshotStore,
    start_day: str,
    end_day: str,
    tier: str = "1d",
    horizon_days: int = 30,
    key_cols: tuple = ("url",),
    prefix: str = "staterun/",
) -> DataFrame:
    """Range-scoped time-in-state read: per-url lang durations for buckets
    in ``[start_day, end_day]`` at query cost O(range + horizon), not
    O(history) — the read a 10^12-row staterun family actually needs
    (stitching three years of runs to answer one month is the wrong plan).

    Plan: manifest-stats pruning on ``run_start_us`` opens only the
    staterun files overlapping ``[start - horizon, end + horizon]``
    (the pipeline commits that stat per file), the stitch runs over that
    slice, and the output keeps only in-range buckets. ``horizon_days``
    bounds the LOCF carry in BOTH directions: the span entering the range
    starts at each url's last crawl before it, and the span leaving it
    ends at the first crawl after — exact versus a full-history build
    whenever no url is silent for longer than the horizon across either
    edge (longer silences lose only the carry beyond the horizon; inside
    the range every duration is evidenced by in-slice runs). Raises
    ``FileNotFoundError`` when the range prunes every file. The pruning is
    exact only for per-observation runs (``collapse=False``, what the
    pipeline commits): a collapsed run (``run_end_us > run_start_us``) in
    the scanned slice fails the query instead of silently losing carry."""
    import datetime as _dt

    start = _dt.datetime.fromisoformat(start_day)
    end = _dt.datetime.fromisoformat(end_day) + _dt.timedelta(days=1)
    epoch = _dt.datetime(1970, 1, 1)
    h_us = horizon_days * 86_400_000_000
    lo_us = int((start - epoch).total_seconds()) * 1_000_000 - h_us
    hi_us = int((end - epoch).total_seconds()) * 1_000_000 + h_us
    # assert_true yields NULL when the check holds, so the per-observation
    # check rides the same scan and adds no job.
    collapsed = string(
        "read_lang_state_tier needs per-observation runs (collapse=False); "
        f"{prefix} holds a collapsed run"
    )
    runs = store.read(
        spark, prefix=prefix, ranges={"run_start_us": (lo_us, hi_us)}
    ).where(
        f"run_start_us BETWEEN {lo_us} AND {hi_us} AND "
        f"assert_true(run_end_us = run_start_us, {collapsed}) IS NULL"
    )
    tiers = state_tier_from_runs(runs, list(key_cols), tier)
    return tiers.where(
        f"bucket_start >= CAST({string(start_day)} AS TIMESTAMP) AND "
        f"bucket_start < timestamp_seconds({int((end - epoch).total_seconds())})"
    )


def purge_url(
    spark: SparkSession,
    store: SnapshotStore,
    url: str,
    pages: DataFrame | None = None,
    mode: str = "merge-on-read",
) -> dict:
    """Right-to-be-forgotten across EVERY committed tier family — the
    composite delete the north-star crawl table actually needs: dropping a
    url from the raw pages alone leaves its rolled-up points, Gorilla
    blobs, percentile sketches, and minhash signatures queryable.

    Row-keyed families (``tier1h/``, ``gorilla1h/``, ``qsketch1h/``,
    ``stats1h/``, ``staterun/``, ``sig/`` — every row carries the url,
    blobs and sketches are per-url) purge in ONE delete (the six-family
    case of :meth:`SnapshotStore.delete_where`): each
    family's candidate files are pruned by the url-range hint, one probe
    unions a live scan per family, and the delete lands as ONE atomic
    snapshot, so a crash leaves the url in every family or in none.
    ``mode="merge-on-read"`` (default) makes it a metadata-only commit of
    one positional-delete file (the compliance sweep writes KBs, the
    nightly ``maintain()`` pays the rewrite); ``mode="copy-on-write"``
    rewrites each family's touched files in a write of its own.

    The keyless ``kmv1h/`` family aggregates ALL urls into one bottom-k
    sketch per hour — a member cannot be removed from a mergeable sketch
    without breaking its estimator contract (and the array retains the
    url's 60-bit hash). With ``pages`` (the source table; rows of the
    purged url may be present or already dropped — they are filtered
    here), the affected day partitions are REBUILT from the purged source
    in a second commit after the delete; without it they are reported in
    ``report["kmv_skipped_days"]`` for the caller to rebuild — the purge
    is NOT complete until they do. Returns per-family deleted-row and
    pruned-file counts, and the delete's snapshot id for every family that
    lost rows (None for one that lost none)."""
    snap, reps = store._delete_rows(
        spark,
        F.col("url") == F.lit(url),
        [f"{f.prefix}/" for f in _FAMILIES if f.row_keyed],
        {"url": (url, url)},
        {"stage": "purge", "url": url},
        mode,
    )
    report: dict = {
        "url": url,
        "families": {
            fam: {
                "snapshot_id": snap if rep["deleted_rows"] else None,
                "deleted_rows": rep["deleted_rows"],
                "pruned_files": rep["pruned_files"],
            }
            for fam, rep in reps.items()
        },
    }
    m = store.manifest() or {"files": {}}
    kmv_days = sorted(
        k.split("/", 1)[1] for k in m["files"] if k.startswith("kmv1h/")
    )
    if pages is None:
        report["kmv_skipped_days"] = kmv_days
        return report
    purged = extract_metrics(pages.where(F.col("url") != F.lit(url)))
    # Rebuild ONLY the days the supplied source covers: a caller holding
    # just the newest crawl batch must not overwrite older days' sketches
    # with empty ones. Days the source lacks stay outstanding and are
    # reported for a later purge call that has them.
    # coverage comes from the UNFILTERED source (a day whose every row was
    # the victim's still counts as covered — its rebuilt sketch is empty)
    src_days = set(_crawl_days(pages))
    outstanding = [d for d in kmv_days if d not in src_days]
    if outstanding:
        report["kmv_skipped_days"] = outstanding
    rebuilt = [d for d in kmv_days if d in src_days]
    if rebuilt:
        kmv = next(f for f in _FAMILIES if f.prefix == "kmv1h")
        frame = _keyed(kmv, kmv.build(purged, None))
        report["kmv_rebuild_snapshot"] = store._commit_frames(
            {f"kmv1h/{d}": frame for d in rebuilt},
            watermark=m.get("watermark"),
            properties={"stage": "purge-kmv-rebuild", "url": url},
            stat_cols=["bucket_start"],
        )
        report["kmv_rebuilt_days"] = rebuilt
    return report


def apply_retention_policy(
    store: SnapshotStore,
    policy: dict[str, int],
    now: str,
) -> tuple[str | None, list[str]]:
    """Age out fine tiers once coarser ones cover them (the
    ``add_retention_policy`` analogue, applied at the STORE level): for each
    partition-family prefix in ``policy`` — e.g. ``{"tier1h/": 90,
    "gorilla1h/": 90, "sig/": 30}`` mapping prefix → max age in DAYS — drop
    every day-partition strictly older than ``now`` minus the allowance.

    ``now`` is an explicit ISO date/timestamp (pass the table watermark, not
    wall clock) so retention is deterministic and replayable. The drop is
    :meth:`SnapshotStore.expire_partitions` — metadata-only, one new
    snapshot, time travel intact until ``expire_snapshots`` reclaims the
    bytes; at 100 TB this is how the raw/1h tiers stay bounded while 1d/30d
    (absent from the policy) live forever. Returns
    ``(snapshot_id | None, dropped_keys)``; snapshot_id is None when
    nothing was old enough (no empty snapshot is committed)."""
    import datetime as dt

    now_day = dt.date.fromisoformat(str(now)[:10])

    def too_old(part_key: str) -> bool:
        for prefix, max_age_days in policy.items():
            if part_key.startswith(prefix):
                tail = part_key.rsplit("/", 1)[-1].split("=")[-1]
                try:
                    day = dt.date.fromisoformat(tail[:10])
                except ValueError:
                    return False  # non-dated partition: never age-dropped
                return (now_day - day).days > max_age_days
        return False

    m = store.manifest()
    if m is None or not any(too_old(k) for k in m["files"]):
        return None, []
    return store.expire_partitions(
        too_old,
        properties={"stage": "retention", "policy": dict(policy), "now": str(now)},
    )


def refresh_pipeline(
    spark: SparkSession,
    late_pages: DataFrame,
    store_dir: str,
    detector_factory=default_detector_factory,
    chunk_points: int | None = 65536,
) -> dict:
    """Late-data invalidation + incremental refresh — the continuous-aggregate
    property ``run_pipeline`` alone doesn't give: its resume skips COMPLETED
    day partitions, so raw rows that arrive *after* their day was committed
    (re-crawls, delayed WARC shards) would otherwise be invisible forever.

    Semantics (TimescaleDB continuous-aggregate invalidation, Iceberg
    overwrite granularity):

    - the late batch *invalidates* exactly the day partitions it touches;
      every tier family of an invalidated day is rewritten in ONE new
      snapshot (one write per family over all those days), all other
      partitions are carried by manifest file reuse (zero data rewrite —
      ``SnapshotStore.commit_partitions``); a partition of an already
      committed day that retention expired stays expired (rebuilt from
      the late rows alone it would hold a partial day),
    - the additive 1h tier is refreshed by aggregating ONLY the late rows
      and merging into the committed partition (``merge_tier``: associative
      state, so merge(tier(base), tier(late)) == tier(base ∪ late) exactly
      — asserted against a from-scratch rebuild in tests/test_refresh.py),
    - the percentile / distinct tiers merge the same way (GK sketch and
      bottom-k are mergeable; KMV merge is bit-identical to a direct build,
      the GK merge keeps its carried error bound),
    - per-snapshot minhash signatures depend only on each row's own text,
      so the sig partition is the union of committed + late signatures,
    - the Gorilla blobs of an invalidated day are re-compressed from the
      merged tier (blobs are day-local by layout),
    - change points are re-detected only for *invalidated urls* — but over
      each url's FULL committed series (a url's series spans days, so value
      invalidation is per-day while detector invalidation is per-url): the
      tier read is semi-joined against the late batch's distinct urls.

    Cost at 100 TB: O(late rows) + O(invalidated-partition tier rows) +
    O(invalidated urls' series); never a raw re-scan of the base corpus,
    never a rewrite of untouched partitions. A refresh into an empty store
    degenerates to the initial build.

    Lineage: the new manifest's properties record the invalidated days and
    late row count; ``store.lineage()`` shows refreshed partitions under the
    new snapshot id while untouched partitions keep their original one.
    """
    store = SnapshotStore(store_dir)
    if store.head() is None:
        return run_pipeline(
            spark, late_pages, store_dir, detector_factory, chunk_points
        )
    m = store.manifest()
    late_metrics = extract_metrics(late_pages)
    days = _crawl_days(late_metrics)
    merged_days = sorted({k.partition("/")[2] for k in m["files"]} & set(days))

    def stored(fam: _Family) -> DataFrame | None:
        keys = [f"{fam.prefix}/{d}" for d in merged_days]
        paths = [f for key in keys for f in m["files"].get(key, [])]
        return store._scan_live(spark, paths, m) if paths else None

    def live(prefix: str, day: str) -> bool:
        # A merged day's partition that retention expired stays expired:
        # rebuilt from the late rows alone it would hold a partial day.
        # gorilla1h also needs the tier1h partition it is compressed from.
        need = {prefix, "tier1h" if prefix == "gorilla1h" else prefix}
        return day not in merged_days or all(f"{p}/{day}" in m["files"] for p in need)

    t0 = time.time()
    prior_watermark = m.get("watermark")
    watermark = max([*days, prior_watermark] if prior_watermark else days)
    n_late = late_metrics.count()
    frames = _tier_frames(late_metrics, late_pages, chunk_points, stored)
    committed = store._commit_frames(
        {f"{p}/{d}": f for d in days for p, f in frames.items() if live(p, d)},
        watermark=watermark,
        properties={
            "stage": "late-refresh",
            "invalidated_days": days,
            "merged_days": merged_days,
            "late_rows": n_late,
        },
        stat_cols=_STAT_COLS,
    )
    refresh_sec = time.time() - t0

    # Re-detect ONLY the invalidated urls, over their full committed series.
    t0 = time.time()
    tier1h = store.read(spark, prefix="tier1h/")
    late_urls = late_metrics.select("url").distinct()
    hourly_mean = (
        tier1h.join(late_urls, "url", "left_semi")
        .select(
            "url",
            "bucket_start",
            (F.col("sum_v") / F.col("n_points")).alias("v"),
        )
    )
    n_cpts = window_segmentor_changepoints(
        hourly_mean,
        detector_factory,
        key_cols=["url"],
        ts_col="bucket_start",
        value_cols=["v"],
        standardize=True,
    ).count()
    detect_sec = time.time() - t0

    return {
        "snapshot_id": committed,
        "refresh": True,
        "invalidated_days": days,
        "merged_days": merged_days,
        "late_rows": n_late,
        "changepoints_invalidated_urls": n_cpts,
        "refresh_sec": round(refresh_sec, 2),
        "detect_sec": round(detect_sec, 2),
    }
