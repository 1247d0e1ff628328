"""The closed-loop, single-client workloads.

Each workload object does its set-up in ``__init__`` and exposes
``step()``, which runs the next operation of its cycle and returns
``(kind, seconds, ok)``: ``seconds`` is the latency of the engine call
alone, ``ok`` whether its output passed the check made right after it
(outside the timing). ``mid_cycle()`` is true until the cycle is whole, so
every run measures whole cycles.

Engine functions are always looked up through their module at call time
(``pipeline.run_pipeline``, ``O.rollup_tier``, ``SnapshotStore.read``), so
the traced run's wrappers see every call.
"""

from __future__ import annotations

import calendar
import functools
import os
import random
import shutil
import statistics
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from streamchange_spark import operators as O
from streamchange_spark import pipeline
from streamchange_spark.sources.snapshots import SnapshotStore

from . import inputs
from .trace import parquet_sizes

#: The row-keyed tier families purge_url must clear.
FAMILIES = ("tier1h/", "gorilla1h/", "qsketch1h/", "stats1h/", "staterun/", "sig/")


def _family_bytes(manifest: dict, family: str) -> int:
    return sum(
        os.path.getsize(f)
        for part, files in manifest["files"].items()
        if part.startswith(family)
        for f in files
    )


def store_figures(store_dir: str, input_rows: int) -> dict:
    """Committed data bytes per input row, and Gorilla blob bytes per
    encoded 1h point, from the HEAD manifest."""
    m = SnapshotStore(store_dir).manifest()
    points = sum(
        v["n_rows"] for k, v in m["metrics"].items() if k.startswith("tier1h/")
    )
    data = sum(os.path.getsize(f) for files in m["files"].values() for f in files)
    return {
        "store_bytes_per_row": data / input_rows,
        "gorilla.bytes_per_point": _family_bytes(m, "gorilla1h/") / points,
    }


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, -(-len(s) * p // 100) - 1)]


class _Base:
    """Set-up shared by all workloads: seeded pages on parquet, the DuckDB
    rollup oracle over the table the workload builds, and the serial
    kernel baseline over that table's crawl-frequency series."""

    #: The operations of one cycle, in order.
    CYCLE: tuple[str, ...] = ()

    def __init__(self, spark, work: str, seed: int, cpus: int, tracer, built: str):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.inp = inputs.write_pages(spark, seed, work, cpus)
        self.input_rows = self.inp["rows"][built]
        self.table = spark.read.parquet(*self.inp["tables"][built])
        self.tier = inputs.tier1h_oracle(self.inp["tables"][built])
        self.kernel = inputs.kernel_baseline(inputs.freq_series(self.tier))
        self.want_build = (
            len(self.tier),
            sum(n for n, _ in self.tier.values()),
            sum(s for _, s in self.tier.values()),
        )
        self.want_cpts = inputs.count_changepoints(inputs.mean_series(self.tier))
        self.todo: list[str] = []
        self.sec: dict[str, list[float]] = {k: [] for k in self.CYCLE}
        self.cycle_s: list[float] = []
        self.build_s: list[float] = []
        self.figures: dict = {}

    def timed(self, fn):
        """Run one engine call as a measured (and, traced, spanned)
        operation; returns its result and latency."""
        with self.tracer.op():
            t0 = time.perf_counter()
            out = fn()
            sec = time.perf_counter() - t0
        return out, sec

    def tier1h_totals(self, store):
        """(rows, sum n_points, sum sum_v) of the store's ``tier1h``."""
        return tuple(
            store.read(self.spark, prefix="tier1h/")
            .agg(F.count("*"), F.sum("n_points"), F.sum("sum_v"))
            .first()
        )

    def build(self, store_dir: str):
        """A cold ``run_pipeline`` into ``store_dir``; returns its latency
        and whether its outputs match the DuckDB rollup and the serial
        change-point counts."""
        out, sec = self.timed(
            lambda: pipeline.run_pipeline(self.spark, self.table, store_dir)
        )
        self.build_s.append(sec)
        self.figures = store_figures(store_dir, self.input_rows)
        ok = (
            out["rolled_rows"] == self.want_build[0]
            and self.tier1h_totals(SnapshotStore(store_dir)) == self.want_build
            and out["changepoints"] == self.want_cpts
            and out["freq_changepoints"] == self.kernel["changepoints"]
        )
        return sec, ok

    def start_cycle(self):
        pass

    def step(self):
        if not self.todo:
            self.todo = list(self.CYCLE)
            self.start_cycle()
        kind = self.todo.pop(0)
        sec, ok = getattr(self, "_" + kind)()
        self.sec[kind].append(sec)
        if not self.todo:
            self.cycle_s.append(sum(self.sec[k][-1] for k in self.CYCLE))
        return kind, sec, ok

    def mid_cycle(self) -> bool:
        return bool(self.todo)

    def detail(self) -> dict:
        """Workload-specific figures. ``cycle_s`` is the fastest whole
        cycle of the run: host stalls here are real and last seconds, so
        min-of-N keeps one stall from setting a run's figure."""
        return {
            "cycle_s": min(self.cycle_s),
            "build_rows_per_s": self.input_rows / statistics.median(self.build_s),
            **self.figures,
        }


class CrawlBuild(_Base):
    """One cycle: a cold ``run_pipeline`` of the base table into an empty
    store, then, on that store, the late-shard ``refresh_pipeline`` and the
    DML verbs (purge_url, merge_into, update_where, delete_keys, maintain).
    Each step is checked against DuckDB over the input parquet and the
    serial detector."""

    CYCLE = ("build", "refresh", "purge", "merge", "update", "delete_keys", "maintain")
    DML = CYCLE[2:]

    def __init__(self, *a):
        super().__init__(*a, built="base")
        tables = self.inp["tables"]
        self.pages = self.spark.read.parquet(*tables["pages"])
        self.late = self.spark.read.parquet(self.inp["paths"]["late"])
        everything = inputs.tier1h_oracle(tables["pages"])
        day = self.inp["late_day"]
        lo = calendar.timegm(time.strptime(day, "%Y-%m-%d"))
        self.want_day = {k: v for k, v in everything.items() if lo <= k[1] < lo + 86400}
        urls = sorted({u for u, _ in self.want_day})
        # Distinct urls for the purge, the update, the equality delete and
        # the merge block, so each verb's check sees only its own effect.
        self.victim, self.upd_url, self.del_url, *self.merge_urls = self.rng.sample(
            urls, 3 + 4
        )
        self.want_upd = sum(1 for u, _ in everything if u == self.upd_url)
        # tier1h once every verb has run: the victim gone, upd_url's
        # n_points doubled, every merged row's sum_v + 1.
        kept = {k: v for k, v in everything.items() if k[0] != self.victim}
        self.want_final = (
            len(kept),
            sum(n * (2 if u == self.upd_url else 1) for (u, _), (n, _) in kept.items()),
            sum(s + (u in self.merge_urls) for (u, _), (_, s) in kept.items()),
        )
        self.n = 0
        self.dml_bytes: list[int] = []

    def start_cycle(self):
        self.store_dir = os.path.join(self.work, f"store{self.n}")
        self.n += 1
        self.store = SnapshotStore(self.store_dir)

    def step(self):
        dml = self.todo and self.todo[0] in self.DML
        before = parquet_sizes(self.store_dir) if dml else None
        kind, sec, ok = super().step()
        if dml:
            after = parquet_sizes(self.store_dir)
            self.cycle_bytes += sum(s for p, s in after.items() if p not in before)
        if not self.todo:
            self.dml_bytes.append(self.cycle_bytes)
            shutil.rmtree(self.store_dir)
        return kind, sec, ok

    def _build(self):
        self.cycle_bytes = 0
        return self.build(self.store_dir)

    def _refresh(self):
        _, sec = self.timed(
            lambda: pipeline.refresh_pipeline(self.spark, self.late, self.store_dir)
        )
        got = {
            (r[0], int(r[1].timestamp())): (r[2], r[3])
            for r in self.store.read(self.spark, prefix="tier1h/")
            .where(F.to_date("bucket_start") == F.lit(self.inp["late_day"]))
            .select("url", "bucket_start", "n_points", "sum_v")
            .collect()
        }
        return sec, got == self.want_day

    def _purge(self):
        _, sec = self.timed(
            lambda: pipeline.purge_url(
                self.spark, self.store, self.victim, pages=self.pages
            )
        )
        read = lambda f: self.store.read(self.spark, prefix=f)  # noqa: E731
        left = functools.reduce(
            lambda x, y: x.unionByName(y),
            [read(f).where(F.col("url") == self.victim).select("url") for f in FAMILIES],
        ).count()
        return sec, left == 0

    def _merge(self):
        cur = self.store.read(self.spark, prefix="tier1h/").where(
            F.col("url").isin(self.merge_urls)
        )
        rows = cur.withColumn("sum_v", F.col("sum_v") + 1.0).collect()
        src = self.spark.createDataFrame(rows, cur.schema)
        want = sum(r["sum_v"] for r in rows)
        (_, rep), sec = self.timed(
            lambda: self.store.merge_into(
                self.spark, src, ["url", "bucket_start"], prefix="tier1h/",
                when_not_matched="error",
            )
        )
        got = (
            self.store.read(self.spark, prefix="tier1h/")
            .where(F.col("url").isin(self.merge_urls))
            .agg(F.sum("sum_v"))
            .first()[0]
        )
        return sec, rep["matched_rows"] == len(rows) and got == want

    def _update(self):
        (_, rep), sec = self.timed(
            lambda: self.store.update_where(
                self.spark,
                F.col("url") == self.upd_url,
                {"n_points": "n_points * 2"},
                prefix="tier1h/",
                ranges={"url": (self.upd_url, self.upd_url)},
            )
        )
        return sec, rep["updated_rows"] == self.want_upd > 0

    def _delete_keys(self):
        keys = self.spark.createDataFrame([(self.del_url,)], "url string")
        _, sec = self.timed(
            lambda: self.store.delete_keys(self.spark, keys, prefix="stats1h/")
        )
        got = (
            self.store.read(self.spark, prefix="stats1h/")
            .where(F.col("url") == self.del_url)
            .count()
        )
        return sec, got == 0

    def _maintain(self):
        _, sec = self.timed(lambda: self.store.maintain(self.spark, keep_last=1))
        return sec, self.tier1h_totals(self.store) == self.want_final

    def detail(self):
        out = super().detail()
        dml = [sum(self.sec[v][i] for v in self.DML) for i in range(len(self.cycle_s))]
        out.update({f"{k}_s": statistics.median(v) for k, v in self.sec.items()})
        out.update(dml_s=statistics.median(dml), dml_write_bytes=statistics.median(self.dml_bytes))
        return out


def _digest_cols(df):
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (DoubleType, FloatType)):
            # Ten significant digits: tolerant of last-bit summation order.
            c = F.format_string("%.10g", c)
        cols.append(c)
    return cols


class TierQueries(_Base):
    """Read-only tier queries against the store the set-up built from the
    whole pages table. One cycle is one pass over the query kinds, each run
    once, in a seed-shuffled order; every query is forced with a ``noop``
    write. Each result is checked against DuckDB or the serial detector
    where those give the answer exactly (row count and column sums), and
    always against the result digest the set-up recorded for the seed."""

    #: Query kind -> the layer that owns its forcing write in a traced run.
    KINDS = {
        "range_read": "snapshots",
        "rollup_30d": "rollup",
        "decompress": "gorilla",
        "pctl_1d": "qsketch",
        "kmv_hop24h": "kmv",
        "trend_1d": "statsagg",
        "state_7d": "stateagg",
        "mean_cpts": "detect",
        "freq_cpts": "detect",
        "churn_cpts": "detect",
    }

    def __init__(self, *a):
        super().__init__(*a, built="pages")
        self.store_dir = os.path.join(self.work, "store")
        _, self.built_ok = self.build(self.store_dir)
        self.store = SnapshotStore(self.store_dir)
        days = self.inp["days"]
        self.range_day = days[len(days) // 2]
        self.oracle = self._oracle()
        self.order = list(self.KINDS)
        self.rng.shuffle(self.order)
        self.lat: list[float] = []
        # Set-up runs every kind once: the JIT and worker warm-up, and the
        # digests every later run of that kind must reproduce.
        self.want = {k: self._run(k)[0] for k in self.KINDS}

    def _oracle(self) -> dict:
        """kind -> (row count, {column: sum}) of its exact answer, from the
        DuckDB rollup of the input and the serial change-point counts."""
        tier = self.tier
        _, points, total = self.want_build
        lo = calendar.timegm(time.strptime(self.range_day, "%Y-%m-%d"))
        day = [v for (_, b), v in tier.items() if lo <= b < lo + 86400]

        def buckets(seconds):
            return len({(u, b // seconds) for u, b in tier})

        return {
            "range_read": (
                len(day),
                {"n_points": sum(n for n, _ in day), "sum_v": sum(s for _, s in day)},
            ),
            "rollup_30d": (buckets(30 * 86400), {"n_points": points, "sum_v": total}),
            "decompress": (len(tier), {"sum_v": total}),
            "pctl_1d": (buckets(86400), {"n_points": points}),
            "trend_1d": (buckets(86400), {"n": points, "sum_y": total}),
            "mean_cpts": (self.want_cpts, {}),
            "freq_cpts": (self.kernel["changepoints"], {}),
        }

    def step(self):
        if not self.todo:
            self.todo = list(self.order)
        kind = self.todo.pop(0)
        digest, ok, sec = self._run(kind)
        self.lat.append(sec)
        self.sec.setdefault(kind, []).append(sec)
        if not self.todo:
            self.cycle_s.append(sum(self.lat[-len(self.order):]))
        return kind, sec, ok and digest == self.want[kind]

    def _query(self, kind: str):
        s, sp = self.store, self.spark
        read = lambda p: s.read(sp, prefix=p)  # noqa: E731
        if kind == "range_read":
            lo = self.range_day + "T00:00:00"
            hi = self.range_day + "T23:59:59"
            return s.read(
                sp, prefix="tier1h/", ranges={"bucket_start": (lo, hi)}
            ).where(F.to_date("bucket_start") == F.lit(self.range_day))
        if kind == "rollup_30d":
            return O.rollup_tier(O.rollup_tier(read("tier1h/"), ["url"], "1d"), ["url"], "30d")
        if kind == "decompress":
            return O.decompress_series(read("gorilla1h/"), ["url"], "bucket_start", "sum_v")
        if kind == "pctl_1d":
            return O.sketch_percentiles(O.sketch_rollup(read("qsketch1h/"), ["url"], "1d"), ["url"])
        if kind == "kmv_hop24h":
            return O.kmv_distinct(O.kmv_hopping(read("kmv1h/"), [], width="24 hours", slide="1 hour"))
        if kind == "trend_1d":
            return O.stats_eval(O.stats_rollup(read("stats1h/"), ["url"], "1d"))
        if kind == "state_7d":
            days = self.inp["days"]
            return pipeline.read_lang_state_tier(sp, s, days[0], days[min(6, len(days) - 1)])
        if kind in ("mean_cpts", "freq_cpts"):
            t1 = read("tier1h/")
            if kind == "mean_cpts":
                series = t1.select("url", "bucket_start", (F.col("sum_v") / F.col("n_points")).alias("v"))
            else:
                series = O.gapfill(
                    t1.select("url", "bucket_start", "n_points"), ["url"], "bucket_start",
                    "n_points", step_seconds=3600, method="null",
                ).select("url", "bucket_start", F.coalesce("n_points", F.lit(0)).cast("double").alias("v"))
            return O.window_segmentor_changepoints(
                series, pipeline.default_detector_factory, key_cols=["url"],
                ts_col="bucket_start", value_cols=["v"], standardize=True,
            )
        if kind == "churn_cpts":
            churn = O.change_scores_from_signatures(read("sig/"), "url", "warc_ts", num_hashes=pipeline.SIG_HASHES)
            return O.window_segmentor_changepoints(
                churn.where(F.col("change_score").isNotNull()), pipeline.default_detector_factory,
                key_cols=["url"], ts_col="warc_ts", value_cols=["change_score"], standardize=True,
            )
        raise ValueError(kind)

    def _force(self, kind: str):
        _, sums = self.oracle.get(kind, (None, {}))
        with self.tracer.span(self.KINDS[kind], "query:" + kind):
            df = self._query(kind)
            obs = Observation()
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*_digest_cols(df)).bitwiseAND(0xFFFFFFFF)).alias("h"),
                *[F.sum(c).alias("sum:" + c) for c in sums],
            ).write.format("noop").mode("overwrite").save()
        return obs

    def _run(self, kind: str):
        """Run one query; returns its digest, whether it matches the
        oracle (and the set-up build was correct), and its latency."""
        obs, sec = self.timed(lambda: self._force(kind))
        got = obs.get
        rows, sums = self.oracle.get(kind, (None, {}))
        ok = (
            self.built_ok
            and rows in (None, got["n"])
            and all(got["sum:" + c] == v for c, v in sums.items())
        )
        return (got["n"], got["h"]), ok, sec

    def detail(self):
        return {
            **super().detail(),
            "query_p50_s": pct(self.lat, 50),
            "query_p90_s": pct(self.lat, 90),
        }


WORKLOADS = {
    "crawl_build": CrawlBuild,
    "tier_queries": TierQueries,
}
