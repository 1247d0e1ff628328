"""Batched grouped-map execution for many-small-groups workloads.

``groupBy(keys).applyInPandas(fn)`` pays one JVM->Arrow->pandas crossing per
GROUP (~1-2 ms). A 100 TB pages table has tens of millions of per-URL series,
each tiny — that per-group toll dwarfs the kernel work. ``grouped_apply``
keeps the same contract (fn sees every row of one key, emits result rows) but
crosses Arrow once per PARTITION: explicit hash repartition by key, then
``mapInPandas`` with an in-worker ``pandas.groupby`` (~50 us per group).

The repartition count is pinned (REPARTITION_BY_NUM) so AQE's size-based
coalescing cannot fold a CPU-bound python stage onto one worker — per-key
kernel work is invisible to size heuristics. The partition of a row is
``pmod(xxhash64(keys), n)``, not Spark's hash partitioning on the keys: a
``repartition(n, *keys)`` after an aggregate on the same keys is dropped by
the planner as redundant, and AQE then coalesces that aggregate's small
shuffle, Python stage included, down to one task.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grouped_apply(
    df: DataFrame,
    key_cols: Sequence[str],
    run_one: Callable[[pd.DataFrame], pd.DataFrame],
    schema,
    num_partitions: int | None = None,
    returns: str = "frame",
    needed_cols: Sequence[str] | None = None,
    assume_partitioned: bool = False,
) -> DataFrame:
    """Equivalent of ``df.repartition(n, keys).groupBy(keys).applyInPandas``
    with per-partition (not per-group) Arrow crossings. ``run_one`` receives
    one key's full rows (all input columns) and returns rows of ``schema`` —
    as a DataFrame (``returns='frame'``, good for many-row outputs built from
    arrays) or as a list of dicts (``returns='rows'``, good for few rows per
    key: one frame is built per partition, not per key).

    Memory: one partition of input is materialized per worker at a time —
    bounded by the shuffle partition size, which the explicit partition count
    controls; raise ``num_partitions`` for larger-than-memory partitions."""
    key_cols = list(key_cols)
    if needed_cols is not None:
        # Project before the shuffle: unused columns would be shuffled,
        # Arrow-converted, and concat'd in every worker for nothing.
        df = df.select(*dict.fromkeys([*key_cols, *needed_cols]))
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    colnames = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        if pdf.empty:
            return
        groups = pdf.groupby(key_cols, sort=False, dropna=False)
        if returns == "rows":
            # run_one yields plain dicts; ONE DataFrame per partition.
            # (a per-key 1-row pd.DataFrame costs ~0.5 ms — 40k keys would
            # spend more time building frames than running kernels)
            rows: list[dict] = []
            for _, g in groups:
                rows.extend(run_one(g))
            if rows:
                yield pd.DataFrame(rows, columns=colnames)
            return
        outs = [run_one(g) for _, g in groups]
        outs = [o for o in outs if o is not None and len(o)]
        if outs:
            yield pd.concat(outs, ignore_index=True)

    if assume_partitioned:
        # Caller guarantees rows are already clustered by key (every key's
        # rows in one partition, under any hash); skip the exchange.
        # WARNING: this is an unchecked contract — if any key's rows
        # span two partitions, ``run_one`` fires once per fragment and the
        # output silently contains duplicate/partial results for that key.
        # Only pass True when the immediately preceding op was a
        # repartition on exactly ``key_cols``, or a
        # sources.read_bucketed(clustered=True) — a PLAIN bucketed read is
        # NOT enough: auto-bucketed-scan drops bucket-per-partition reads
        # for plans with no distribution requirement (mapInPandas has
        # none) and splits bucket files by size (tests/test_bucketed.py). NB: repartitioning
        # RAW data to feed aggregation + kernels shuffle-free measured SLOWER
        # than partial-agg-then-shuffle (the agg reduces rows before the
        # wire); use this only when the input is already key-clustered at
        # matching volume.
        return df.mapInPandas(run, schema)
    # Partition ids, not a hash repartition on this bucket expression: that
    # would re-hash n bucket values onto n partitions, and they collide.
    bucket = F.pmod(F.xxhash64(*key_cols), F.lit(n)).cast("int")
    return df.repartitionById(n, bucket).mapInPandas(run, schema)
