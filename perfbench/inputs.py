"""Seeded inputs and output oracles for the benchmark.

Everything here is computed once per run during set-up: the pages table
(written to parquet, the only thing the engine sees), the DuckDB rollup of
that parquet, and the serial-kernel change-point counts the Spark detector
stages must reproduce.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np

from streamchange_spark.operators.detect import zscore_per_key
from streamchange_spark.pipeline import default_detector_factory
from streamchange_spark.sources.pages import _EPOCH_START, generate_pages

#: Input size: the generator's first DAYS crawl days of N_URLS urls, so a
#: cold build always commits DAYS x 7 tier families whatever the seed (the
#: generator's row count per url depends only on its rank; the seed moves
#: crawl times). See README.md for why it is far below a production crawl.
N_URLS = 320
MEAN_SNAPSHOTS = 5
DAYS = 2


def write_pages(spark, seed: int, out_dir: str, cpus: int) -> dict:
    """Generate the seeded pages table, split off a late shard (about 20%
    of the last day's rows), and write the base table and the shard as
    parquet. Returns their paths, the parquet directories of each table
    (``pages`` is base + late), row counts, the crawl days and the late
    day."""
    from pyspark.sql import functions as F

    pages = generate_pages(
        spark,
        n_urls=N_URLS,
        mean_snapshots=MEAN_SNAPSHOTS,
        generator_seed=seed,
        num_partitions=cpus,
    )
    end = F.timestamp_seconds(F.lit(_EPOCH_START + DAYS * 86400))
    pages = pages.where(F.col("warc_ts") < end).cache()
    days = [
        time.strftime("%Y-%m-%d", time.gmtime(_EPOCH_START + i * 86400))
        for i in range(DAYS)
    ]
    late_day = days[-1]
    is_late = (F.to_date("warc_ts") == F.lit(late_day)) & (
        F.pmod(F.xxhash64("url", "warc_ts"), F.lit(5)) == 0
    )
    paths = {k: os.path.join(out_dir, k) for k in ("base", "late")}
    pages.where(~is_late).write.mode("overwrite").parquet(paths["base"])
    pages.where(is_late).write.mode("overwrite").parquet(paths["late"])
    pages.unpersist()
    con = duckdb.connect()
    try:
        rows = {
            k: con.execute(
                f"SELECT count(*) FROM read_parquet('{p}/*.parquet')"
            ).fetchone()[0]
            for k, p in paths.items()
        }
    finally:
        con.close()
    rows["pages"] = rows["base"] + rows["late"]
    tables = {"base": [paths["base"]], "pages": [paths["base"], paths["late"]]}
    return {
        "paths": paths, "tables": tables, "rows": rows, "days": days,
        "late_day": late_day,
    }


def tier1h_oracle(parquet_dirs: list[str]) -> dict:
    """Per-(url, hour) crawl counts and text-length sums over the union of
    the given parquet tables, computed by DuckDB. Returns
    ``{(url, hour_epoch_s): (n_points, sum_v)}``."""
    src = " UNION ALL ".join(
        f"SELECT url, warc_ts, text FROM read_parquet('{d}/*.parquet')"
        for d in parquet_dirs
    )
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        rows = con.execute(
            f"""
            SELECT url, epoch(date_trunc('hour', warc_ts))::BIGINT AS b,
                   count(*) AS n, sum(length(text))::DOUBLE AS s
            FROM ({src}) GROUP BY 1, 2
            """
        ).fetchall()
    finally:
        con.close()
    return {(u, int(b)): (int(n), float(s)) for u, b, n, s in rows}


def _series_by_url(tier: dict) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """url -> (hour epochs, crawl counts, text-length sums), hour-sorted."""
    by_url: dict[str, list] = {}
    for (u, b), (n, s) in tier.items():
        by_url.setdefault(u, []).append((b, n, s))
    out = {}
    for u, rows in by_url.items():
        rows.sort()
        a = np.array(rows, dtype=np.float64)
        out[u] = (a[:, 0].astype(np.int64), a[:, 1], a[:, 2])
    return out


def freq_series(tier: dict) -> dict[str, np.ndarray]:
    """The pipeline's crawl-frequency stage input, serially: each url's
    hourly crawl count on the dense grid between its first and last hour,
    absent hours as 0."""
    out = {}
    for u, (b, n, _) in _series_by_url(tier).items():
        grid = np.zeros((b[-1] - b[0]) // 3600 + 1)
        grid[(b - b[0]) // 3600] = n
        out[u] = grid
    return out


def mean_series(tier: dict) -> dict[str, np.ndarray]:
    """The pipeline's hourly-mean text-length stage input, serially."""
    return {u: s / n for u, (_, n, s) in _series_by_url(tier).items()}


def count_changepoints(series: dict[str, np.ndarray]) -> int:
    """Serial change-point count: the pipeline's detector (standardized
    per url, as ``standardize=True`` does) run in-process, no Spark."""
    total = 0
    for vals in series.values():
        det = default_detector_factory()
        det.fit(zscore_per_key(vals), times=np.arange(len(vals)))
        total += len(det.detections_)
    return total


def kernel_baseline(series: dict[str, np.ndarray]) -> dict:
    """Single-threaded kernel throughput over the freq-stage series, and
    the change-point count it found."""
    points = sum(len(v) for v in series.values())
    t0 = time.perf_counter()
    found = count_changepoints(series)
    sec = time.perf_counter() - t0
    return {"points": points, "changepoints": found, "points_per_s": points / sec}
