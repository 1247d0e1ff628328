"""The one per-key Python scan: run a NumPy function over each key's rows.

``groupBy(keys).applyInPandas(fn)`` pays one JVM->Arrow->pandas crossing per
GROUP (~1-2 ms). A 100 TB pages table has tens of millions of per-URL series,
each tiny — that per-group toll dwarfs the kernel work. ``grouped_apply``
crosses Arrow once per PARTITION instead, and keeps the per-key work in
NumPy: each partition is concatenated once, sorted once by
``(keys, cols)``, converted to one array per column, and sliced per key.
On one shuffled partition of 320 keys x 48 rows (Xeon, one core), a
per-key pandas ``groupby`` + ``sort_values`` took ~77 ms; the one sort and
its slices took ~6 ms.

Every grouped operator (detectors, figure tables, LTTB/ASAP, penalty
tuning, Gorilla compression, quantile sketches) runs on this scan, so
they share one ordering rule: rows of a key arrive sorted by ``cols`` in
order, ties included, whatever order the shuffle delivered them in.

The partition count is pinned so AQE's size-based coalescing cannot fold a
CPU-bound python stage onto one worker — per-key kernel work is invisible
to size heuristics. The partition of a row is ``pmod(xxhash64(keys), n)``,
not Spark's hash partitioning on the keys: a ``repartition(n, *keys)``
after an aggregate on the same keys is dropped by the planner as redundant,
and AQE then coalesces that aggregate's small shuffle, Python stage
included, down to one task.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._sql import idents


def _key_starts(keys: list[np.ndarray]) -> np.ndarray:
    """Start index of each run of equal keys in key-sorted arrays (nulls
    equal to nulls, as ``groupby(dropna=False)`` groups them)."""
    change = np.zeros(len(keys[0]), dtype=bool)
    change[0] = True
    for k in keys:
        a, b = k[1:], k[:-1]
        change[1:] |= (a != b) & ~(pd.isna(a) & pd.isna(b))
    return np.flatnonzero(change)


def grouped_apply(
    df: DataFrame,
    key_cols: Sequence[str],
    cols: Sequence[str],
    run_one: Callable[[tuple, dict], list | dict],
    schema,
    num_partitions: int | None = None,
    assume_partitioned: bool = False,
) -> DataFrame:
    """Equivalent of ``df.repartition(n, keys).groupBy(keys).applyInPandas``
    with per-partition (not per-group) Arrow crossings and one sort per
    partition.

    ``cols`` is both the projection and the order: only ``key_cols + cols``
    cross into Python, and each partition is stable-sorted by
    ``(*key_cols, *cols)`` once. ``run_one(key, arrays)`` is then called
    per key with the key tuple and ``{col: ndarray}`` — views into the
    partition's arrays, ordered by ``cols`` (ties on the first column break
    on the next). It returns the key's result rows without the key columns,
    either as a list of row dicts (few rows per key) or as a dict of
    equal-length columns (many rows built from arrays). The scan attaches
    the key values and builds ONE frame per partition in ``schema`` order;
    ``schema`` starts with one field per key column.

    Memory: one partition of input is materialized per worker at a time —
    bounded by the shuffle partition size, which the explicit partition count
    controls; raise ``num_partitions`` for larger-than-memory partitions."""
    key_cols, cols = list(key_cols), list(cols)
    # Project before the shuffle: unused columns would be shuffled,
    # Arrow-converted, and concat'd in every worker for nothing.
    needed = list(dict.fromkeys([*key_cols, *cols]))
    if df.columns != needed:
        df = df.selectExpr(*idents(needed))
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    colnames = [f.name for f in schema.fields]
    key_names, out_names = colnames[: len(key_cols)], colnames[len(key_cols):]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        if pdf.empty:
            return
        pdf = pdf.sort_values([*key_cols, *cols], kind="stable", ignore_index=True)
        keys = [pdf[c].to_numpy() for c in key_cols]
        arrays = {c: pdf[c].to_numpy() for c in cols}
        starts = _key_starts(keys)
        ends = [*starts[1:], len(pdf)]
        outs, counts = [], []
        for lo, hi in zip(starts, ends):
            out = run_one(
                tuple(k[lo] for k in keys), {c: a[lo:hi] for c, a in arrays.items()}
            )
            outs.append(out)
            counts.append(len(next(iter(out.values()))) if isinstance(out, dict) else len(out))
        if not sum(counts):
            return
        if isinstance(outs[0], dict):
            body = {
                c: np.concatenate([o[c] for o, m in zip(outs, counts) if m])
                for c in out_names
            }
        else:
            # One frame per partition, not per key: a 1-row pd.DataFrame
            # costs ~0.5 ms, more than most per-key kernels.
            body = pd.DataFrame([r for rows in outs for r in rows], columns=out_names)
        frame = {
            name: np.repeat(k[starts], counts) for name, k in zip(key_names, keys)
        }
        frame.update({c: body[c] for c in out_names})
        yield pd.DataFrame(frame, columns=colnames)

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
    keys = ", ".join(idents(key_cols))
    bucket = F.expr(f"CAST(pmod(xxhash64({keys}), {n}) AS INT)")
    return df.repartitionById(n, bucket).mapInPandas(run, schema)
