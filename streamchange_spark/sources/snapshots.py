"""Snapshot store: Iceberg-semantics table layout on plain Parquet + JSON.

No Iceberg runtime jar ships in this sandbox, so the engine provides a thin
store with the same *semantics* over a directory layout a real
``iceberg-spark-runtime`` catalog could replace verbatim on a cluster:

- atomic snapshot commits + time travel + resume (``commit_partitions``,
  ``read``, ``run_resumable``), with per-partition lineage, row counts, and
  metrics (``lineage``) and the ``.snapshots`` / ``.files`` metadata tables
  (``snapshots_table``, ``files_table``);
- scan planning: per-file [min, max] manifest column stats collected from
  parquet footers at commit time (``stat_cols=``), range-pruned
  file-skipping reads (``read(ranges=...)`` / ``files_for``), and
  range-clustered writes so KEY-range pruning bites (``cluster_by=``);
- maintenance: bin-pack compaction (``compact_partitions``), snapshot
  expiry (``expire_snapshots``), grace-period orphan sweep
  (``remove_orphan_files``), composed nightly by ``maintain()``;
- incremental consumption: changed-partitions-since-a-snapshot reads
  (``read_incremental`` — appends, refreshes, and row-level deletes count,
  byte compactions don't) and the polling change feed (``follow``);
- additive schema evolution on read (``read(merge_schema=True)``), and
  PARTITION-granularity evolution for free from key-opaque partitions:
  the store never parses partition keys, so a table can switch from daily
  to monthly keys (or any other scheme) mid-history — prefix reads span
  both generations, file-stats pruning prunes across mixed layouts
  without interpreting keys, and pre-evolution snapshots time-travel to
  the old layout (tests/test_pages_snapshots.py::
  test_partition_granularity_evolution);
- row-level DML: copy-on-write ``merge_into`` / ``delete_where`` /
  ``update_where`` (touched files only, stats-pruned probe),
  merge-on-read ``delete_where(mode="merge-on-read")`` — Iceberg-v2-style
  positional delete files applied at read via a broadcast anti-join on
  parquet ``_metadata`` and folded back into plain files by compaction —
  and probe-free equality tombstones ``delete_keys`` with sequence-epoch
  semantics (a key re-inserted after its tombstone is alive again).

    table_dir/
      data/<snapshot_id>/<partition>/...parquet   (immutable once committed)
      snapshots/<snapshot_id>.json                (manifest: files, lineage)
      HEAD                                        (atomic pointer, rename())

A snapshot manifest lists every data file of every partition visible at that
snapshot plus a watermark and per-partition metrics; a crashed job leaves at
most orphaned data files (never a corrupt manifest) because the manifest and
HEAD are written via atomic rename.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid
from collections import Counter
from contextlib import contextmanager
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _atomic_write(path: str, payload: str):
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(payload)
    os.replace(tmp, path)


@contextmanager
def _stats_friendly_writes(spark: SparkSession):
    """Spark's legacy INT96 parquet timestamps carry NO min/max footer
    statistics (and Iceberg forbids INT96 outright), which would make
    timestamp columns invisible to manifest-stats file skipping. Store
    writes therefore run under TIMESTAMP_MICROS — read-back values are
    identical; only the physical encoding (and its stats) change."""
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _json_safe_stat(v):
    """Parquet-footer min/max -> JSON-storable, ORDER-PRESERVING encoding.
    Timestamps become ISO-8601 strings (lexicographic order == time order);
    numbers and strings pass through; anything else is unusable for pruning."""
    import datetime

    if isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep="T")
    return None


#: Manifest-stat spec prefix: ``stat_cols=["url", "bloom:url"]`` records the
#: footer [min, max] AND a per-file bloom filter over ``url``.  Blooms live in
#: the same per-file stats dict under their spec name, so every path that
#: re-derives a rewrite's stat columns from the manifest (compaction,
#: MERGE INTO, DELETE) recomputes them automatically.
BLOOM_PREFIX = "bloom:"

_BLOOM_K = 6  # hash probes per value (double hashing)
_BLOOM_BITS_PER_VALUE = 10  # ~0.8% fpp at k=6
_BLOOM_MIN_BITS = 256
_BLOOM_MAX_BITS = 1 << 16  # 8 KiB of bits -> ~11 KiB base64 per file/col


def _bloom_canon(v) -> bytes | None:
    """Type-tagged canonical bytes for bloom hashing — identical for the
    value read from the parquet page and the value the query passes to
    ``files_for(eq=...)``. Unsupported types return None (the file is then
    never skipped on this column: sound)."""
    import datetime

    if isinstance(v, bool):
        return b"i:%d" % int(v)
    if isinstance(v, bytes):
        return b"b:" + v
    if isinstance(v, str):
        return b"s:" + v.encode("utf-8")
    if isinstance(v, int):
        return b"i:%d" % v
    if isinstance(v, float):
        return b"f:" + repr(float(v)).encode()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return b"t:" + v.isoformat(sep="T").encode()
    return None


def _bloom_positions(canon: bytes, m: int):
    """k bit positions via double hashing over one blake2b digest —
    deterministic across processes (no PYTHONHASHSEED dependence)."""
    import hashlib

    d = hashlib.blake2b(canon, digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def _bloom_build(values) -> dict | None:
    """{"m": bits, "b64": bitset} over the distinct values of one file's
    column. Sizing follows the file's own distinct count (clamped), so small
    files pay bytes proportional to their content; NULLs are not members."""
    import base64

    canons = []
    for v in values:
        if v is None:
            continue
        c = _bloom_canon(v)
        if c is None:
            return None  # unsupported value domain -> no bloom at all
        canons.append(c)
    target = len(canons) * _BLOOM_BITS_PER_VALUE
    m = 1 << max(target - 1, 1).bit_length()  # next power of two >= target
    m = min(max(m, _BLOOM_MIN_BITS), _BLOOM_MAX_BITS)
    bits = bytearray(m // 8)
    for c in canons:
        for pos in _bloom_positions(c, m):
            bits[pos // 8] |= 1 << (pos % 8)
    return {"m": m, "b64": base64.b64encode(bytes(bits)).decode("ascii")}


def _bloom_might_contain(bloom: dict, value) -> bool:
    """False ONLY when the bloom proves the file cannot hold the value."""
    import base64

    c = _bloom_canon(value)
    if c is None:
        return True
    m = bloom["m"]
    bits = base64.b64decode(bloom["b64"])
    return all(
        bits[pos // 8] & (1 << (pos % 8)) for pos in _bloom_positions(c, m)
    )


def _file_bloom_stats(path: str, bloom_cols) -> dict[str, dict]:
    """Per-file bloom filters over each requested column's distinct values.
    Unlike the footer [min, max] reads this scans the column's data pages —
    but only for the files THIS commit just wrote (cost proportional to the
    commit, never the table; on a real cluster Iceberg computes these inside
    the write tasks). One columnar pyarrow read per file."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    pf = pq.ParquetFile(path)
    present = set(pf.schema_arrow.names)
    want = [c for c in bloom_cols if c in present]
    if not want:
        return out
    tbl = pf.read(columns=want)
    for c in want:
        bloom = _bloom_build(tbl.column(c).to_pylist())
        if bloom is not None:
            out[BLOOM_PREFIX + c] = bloom
    return out


def _file_column_stats(path: str, stat_cols) -> dict[str, list]:
    """Per-file [min, max] for the requested columns, read from the parquet
    footer only (no data pages touched) — the manifest-stats source for
    file-skipping reads. Footer bounds are trusted as-is: parquet writers
    that truncate binary stats do so order-safely (min prefix rounds down,
    max increments the last byte), and Spark's writer stores string footer
    stats untruncated (verified to 289-char values), so [min, max] is
    always a sound enclosure."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    agg: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for i in range(row_group.num_columns):
            col = row_group.column(i)
            name = col.path_in_schema
            if name not in stat_cols:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                # A single stat-less row group poisons the whole file's
                # entry: pruning on partial stats would be unsound.
                agg[name] = None
                continue
            mn, mx = _json_safe_stat(st.min), _json_safe_stat(st.max)
            if mn is None or mx is None or agg.get(name, "missing") is None:
                agg[name] = None
                continue
            if name in agg:
                agg[name] = [min(agg[name][0], mn), max(agg[name][1], mx)]
            else:
                agg[name] = [mn, mx]
    return {k: v for k, v in agg.items() if v is not None}


def _map_files(fn: Callable, paths) -> dict:
    """``{path: fn(path)}`` for footer reads, thread-pooled past two paths:
    the reads are tiny I/O-bound metadata fetches, and a serial driver loop
    over thousands of committed files would add a visible driver stall per
    commit. (On a real cluster Iceberg collects these from the write tasks
    themselves; the pool is the honest single-process analogue.)"""
    paths = list(paths)
    if len(paths) <= 2:
        return {p: fn(p) for p in paths}
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(16, len(paths))) as pool:
        return dict(zip(paths, pool.map(fn, paths)))


def _collect_file_stats(paths, stat_cols) -> dict[str, dict]:
    """Per-file manifest stats (footer [min, max] and ``bloom:`` specs) for
    the files that yield any."""
    specs = list(stat_cols)
    plain = [c for c in specs if not c.startswith(BLOOM_PREFIX)]
    blooms = [c[len(BLOOM_PREFIX):] for c in specs if c.startswith(BLOOM_PREFIX)]

    def one(p: str) -> dict:
        s = _file_column_stats(p, plain) if plain else {}
        if blooms:
            s.update(_file_bloom_stats(p, blooms))
        return s

    return {p: s for p, s in _map_files(one, paths).items() if s}


def _rows_per_file(paths) -> dict[str, int]:
    """Exact row count per file from parquet footers (no data pages) —
    recorded per partition at commit time so row counts are a metadata
    lookup (`lineage`), never a scan."""
    import pyarrow.parquet as pq

    return _map_files(lambda p: pq.ParquetFile(p).metadata.num_rows, paths)


def _parquet_files(directory: str) -> list[str]:
    """The parquet data files one Spark write left in ``directory``, sorted."""
    return sorted(
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if f.endswith(".parquet")
    )


def _resolve_file_counts(m: dict, counts) -> dict[str, dict[str, int]]:
    """``{partition: {manifest path: rows}}`` (both levels sorted) for the
    ``(source-file URI, rows)`` pairs of a probe over ``m``'s data files.
    The URIs are absolute ``file:`` paths (``_metadata.file_path``);
    manifests may hold relative ones, so the lookup normalizes through
    ``abspath`` but hands back the manifest spelling. Raises on a URI that
    names no manifest file."""
    from urllib.parse import unquote, urlparse

    by_abs = {
        os.path.abspath(f): (f, p) for p, pf in m["files"].items() for f in pf
    }
    touched: dict[str, dict[str, int]] = {}
    for uri, n in counts:
        path = unquote(urlparse(uri).path) or uri
        hit = by_abs.get(os.path.abspath(path))
        if hit is None:
            raise RuntimeError(f"probe saw unmanifested file {path}")
        per_file = touched.setdefault(hit[1], {})
        per_file[hit[0]] = per_file.get(hit[0], 0) + n
    return {p: dict(sorted(touched[p].items())) for p in sorted(touched)}


def _new_snapshot_id() -> str:
    return time.strftime("%Y%m%d%H%M%S") + "-" + uuid.uuid4().hex[:8]


def _register_part_files(
    new_dir: str | None,
    carried: list,
    stat_cols,
    snapshot_id: str,
    t0: float,
    **extra,
) -> tuple[list[str], dict, dict]:
    """A partition's ``(files, metric, file_stats)`` after one write into
    ``new_dir`` (None: the write produced no rows for it) on top of the
    ``carried`` files it keeps. Empty task outputs are deleted and never
    committed (a wide cluster writing a small partition leaves one empty
    file per idle task): they bloat the manifest and schedule pointless scan
    tasks. One is kept only when the partition would otherwise have no file
    at all, so reads still infer a schema. Stats are read for the new files
    only; row counts come from footers. ``extra`` lands in the metric —
    callers pass the partition's cluster layout there, because dropping it
    would make the next compaction fall back to plain coalesce and silently
    de-cluster the partition (compact_partitions re-clusters on exactly the
    recorded keys)."""
    new_files = _parquet_files(new_dir) if new_dir else []
    rows_by_file = _rows_per_file(new_files)
    nonempty = [f for f in new_files if rows_by_file[f] > 0]
    kept_new = nonempty or ([] if carried else new_files[:1])
    for f in new_files:
        if f not in kept_new:
            os.remove(f)
    files = sorted(carried) + kept_new
    stats = _collect_file_stats(kept_new, stat_cols) if stat_cols else {}
    metric = {
        "n_files": len(files),
        "n_rows": sum(rows_by_file[f] for f in kept_new)
        + sum(_rows_per_file(carried).values()),
        "bytes": sum(os.path.getsize(f) for f in files),
        "write_seconds": round(time.time() - t0, 3),
        "snapshot_id": snapshot_id,
        **extra,
    }
    return files, metric, stats


def _cluster_layout(metric: dict) -> dict:
    """The cluster keys a partition metric records, to carry through a
    rewrite of that partition."""
    return {k: metric[k] for k in ("cluster_by", "cluster_mode") if k in metric}


#: Footer key under which Spark's parquet writer stores the row schema.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema a Spark writer recorded in ``path``'s footer, or
    None when the file was not written by Spark. This is the footer Spark's
    own (non-merging) parquet schema inference reads, so passing it as an
    explicit read schema plans the same DataFrame without the inference
    job. One footer read, no data pages."""
    import pyarrow.parquet as pq

    raw = (pq.read_metadata(path).metadata or {}).get(_SPARK_ROW_METADATA)
    return None if raw is None else StructType.fromJson(json.loads(raw))


def _write_concurrently(
    spark: SparkSession, write_one: Callable, items: list
) -> list:
    """``[write_one(item) for item in items]`` with the calls overlapped on
    a bounded thread pool (2 x ``defaultParallelism`` threads, at most one
    per item). At small partition sizes a store commit is per-job latency,
    not data work, so independent partition writes run best side by side.

    Every call is wrapped on its own by ``inheritable_thread_target``, so
    each pool thread runs with a private copy of the caller's job group and
    local properties (one shared copy would be mutated by every thread's SQL
    execution). The ``outputTimestampType`` toggle wraps the whole batch
    once: a per-write toggle would race once writes overlap. Results come
    back in input order after every call has finished; when any call
    raised, the first failure (in input order) is re-raised then, so a
    caller that commits only after this returns commits nothing."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def bind(item):
        call = functools.partial(write_one, item)
        # With PYSPARK_PIN_THREAD=false there are no per-thread JVM
        # properties to copy, and the session comes back unwrapped.
        wrap = inheritable_thread_target(spark)
        return wrap(call) if callable(wrap) else call

    with _stats_friendly_writes(spark):
        if len(items) <= 1:
            return [write_one(item) for item in items]
        workers = min(2 * spark.sparkContext.defaultParallelism, len(items))
        calls = [bind(item) for item in items]
        # leaving the block waits for every call
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = [pool.submit(call) for call in calls]
    return [f.result() for f in futures]


#: The column a frame handed to :meth:`SnapshotStore._write_parts` carries
#: each row's partition key in; it becomes the directory, not a data column.
_PART_COL = "__cowpart"


def _cluster(df: DataFrame, cols, mode: str | None, n: int | None) -> DataFrame:
    """``df`` range-clustered on ``cols`` (``mode="zorder"``: on their
    Morton interleave, :func:`zorder_column`) into ``n`` key-disjoint
    partitions (None: the session's shuffle parallelism, AQE-coalesced),
    each sorted on the clustering key — one file per partition on write."""
    keys = list(cols)
    if mode == "zorder":
        z, _ = zorder_column(df, keys)
        df, keys = df.withColumn("__z", z), ["__z"]
    df = df.repartitionByRange(n, *keys) if n else df.repartitionByRange(*keys)
    df = df.sortWithinPartitions(*keys)
    return df.drop("__z") if mode == "zorder" else df


def _write_empty_part(directory: str, df: DataFrame) -> str:
    """``directory`` holding one row-less parquet file of ``df``'s data
    schema, with the footer schema a Spark writer records: what a plain
    write of no rows leaves (a partitioned write leaves nothing), so the
    partition still reads. No Spark job."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType([f for f in df.schema.fields if f.name != _PART_COL])
    arrow = to_arrow_schema(schema).with_metadata({_SPARK_ROW_METADATA: schema.json()})
    os.makedirs(directory, exist_ok=True)
    pq.write_table(arrow.empty_table(), os.path.join(directory, "part-00000.parquet"))
    return directory


def zorder_column(df: DataFrame, cols, bits_per_col: int | None = None):
    """A Z-order (Morton) key over up to 4 columns, built entirely from JVM
    column expressions — the multi-dimensional clustering key behind
    ``commit_partitions(cluster_mode="zorder")`` (the Databricks ``OPTIMIZE
    ZORDER BY`` / Iceberg z-ordering analogue).

    Why: range clustering on ``(a, b)`` is lexicographic — files become
    disjoint in ``a`` but every file spans all of ``b``, so only
    leading-column predicates prune. Interleaving the bits of per-column
    ranks makes every file's [min, max] box TIGHT in every dimension, so a
    predicate on ANY z-ordered column skips most files.

    Per column a locality-preserving integer in [0, 2^bits) is derived
    from a single min/max agg job (no sort, no window):

    - numeric/timestamp: ``width_bucket`` over the observed [min, max]
      (uniform-width buckets — coarse under heavy skew, which costs
      pruning selectivity, never correctness);
    - string: the first 8 bytes big-endian (byte-wise order == string
      order prefix) bucketed the same way — for urls this is domain
      locality, exactly what a crawl table wants.

    Returns ``(zcol, n_buckets_per_col)``; NULLs map to bucket 0."""
    cols = list(cols)
    if not 1 <= len(cols) <= 4:
        raise ValueError("zorder_column takes 1-4 columns")
    # 16 bits/col (65,536 buckets) is plenty of locality for file-level
    # pruning and keeps the interleave expression tree shallow.
    bits = min(bits_per_col or 16, 63 // len(cols))
    n_buckets = 2**bits
    schema = dict(df.dtypes)

    def numeric_proxy(c: str):
        t = schema[c]
        if t == "string":
            # first-8-bytes big-endian integer: byte order == string order
            hx = F.rpad(F.substring(F.hex(F.encode(F.col(c), "UTF-8")), 1, 16),
                        16, "0")
            return F.conv(hx, 16, 10).cast("decimal(20,0)").cast("double")
        if t == "timestamp":
            return F.unix_micros(F.col(c)).cast("double")
        if t == "date":
            return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        return F.col(c).cast("double")

    proxies = {c: numeric_proxy(c) for c in cols}
    row = df.agg(
        *[F.min(p).alias(f"lo_{c}") for c, p in proxies.items()],
        *[F.max(p).alias(f"hi_{c}") for c, p in proxies.items()],
    ).collect()[0]
    parts = []
    for c, p in proxies.items():
        lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
        if lo is None or hi is None or hi <= lo:
            parts.append(F.lit(0).cast("long"))
            continue
        parts.append(
            (
                F.least(
                    F.lit(n_buckets - 1),
                    F.width_bucket(p, F.lit(lo), F.lit(hi), F.lit(n_buckets))
                    - 1,
                )
            ).cast("long")
        )
    parts = [F.coalesce(p, F.lit(0)) for p in parts]
    if len(cols) == 1:
        return parts[0], n_buckets
    # Interleave: bit i of column k lands at position i*len(cols)+k.
    z = F.lit(0).cast("long")
    for i in range(bits):
        for k, p in enumerate(parts):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(p, i).bitwiseAND(F.lit(1)),
                    i * len(cols) + k,
                )
            )
    return z, n_buckets


def _manifest_all_paths(m: dict) -> set[str]:
    """Every file a manifest pins as live: data files AND the positional /
    equality delete files attached to them — all must survive orphan sweeps
    and snapshot expiry while this manifest exists."""
    paths = {f for pf in m.get("files", {}).values() for f in pf}
    for dels in m.get("delete_files", {}).values():
        paths.update(dels)
    for e in m.get("eq_delete_files", []):
        paths.update(e.get("paths", []))
    return paths


class CommitConflictError(RuntimeError):
    """Another writer advanced HEAD while this commit was building: flipping
    HEAD now would silently orphan their snapshot. Re-read and retry (the
    Iceberg optimistic-concurrency contract). The loser's data files stay
    behind as orphans — exactly what ``remove_orphan_files`` reclaims."""


class SnapshotStore:
    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        os.makedirs(os.path.join(table_dir, "data"), exist_ok=True)
        os.makedirs(os.path.join(table_dir, "snapshots"), exist_ok=True)
        # (path -> ((mtime_ns, size), parsed)) — manifests are immutable
        # once written (the two same-id rewrites, expire's root re-parent
        # and publish's staged-flag drop, change the file and therefore the
        # key), so parse each at most once per process. At 10^12-doc scale
        # a manifest is MBs of JSON and every read/plan call consults it —
        # re-parsing per call would dominate driver-side planning.
        self._manifest_cache: dict[str, tuple[tuple, dict]] = {}
        # path -> Spark schema from the file's footer (None: not written
        # by Spark). Committed files are immutable, so it never goes stale.
        self._schema_cache: dict[str, StructType | None] = {}

    def _parquet(
        self, spark: SparkSession, paths, merge_schema: bool = False
    ) -> DataFrame:
        """``spark.read.parquet(*paths)`` without Spark's one-task
        schema-inference job: the schema comes from the footer of the file
        that inference would read (the first path in sorted order),
        memoized per path. Files not written by Spark fall back to
        inference; ``merge_schema`` keeps Spark's merging inference."""
        if merge_schema:
            return spark.read.option("mergeSchema", "true").parquet(*paths)
        first = min(paths)
        if first not in self._schema_cache:
            self._schema_cache[first] = _footer_schema(first)
        schema = self._schema_cache[first]
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*paths)

    # -- manifest plumbing ---------------------------------------------------
    def _manifest_path(self, snapshot_id: str) -> str:
        return os.path.join(self.table_dir, "snapshots", f"{snapshot_id}.json")

    def _commit_manifest(self, manifest: dict) -> None:
        """Optimistic-concurrency commit: refuse to flip HEAD when another
        writer advanced it past this snapshot's parent (flipping anyway
        would silently orphan their commit). The check runs BEFORE the
        manifest file lands — an orphaned manifest would wrongly pin its
        data files as live against the orphan sweep. A check-then-rename
        race window remains (single-writer-per-table is still the deploy
        recommendation); the guard turns the common lost-update mistake
        into a loud, retryable :class:`CommitConflictError`."""
        current = self.head()
        if current != manifest["parent"]:
            raise CommitConflictError(
                f"HEAD moved from {manifest['parent']!r} to {current!r} while "
                f"building snapshot {manifest['snapshot_id']!r}; re-read and retry"
            )
        self._finalize_manifest(manifest)
        _atomic_write(
            self._manifest_path(manifest["snapshot_id"]),
            json.dumps(manifest, indent=1),
        )
        _atomic_write(os.path.join(self.table_dir, "HEAD"), manifest["snapshot_id"])

    def _finalize_manifest(self, manifest: dict) -> None:
        """Stamp the cross-commit invariants every manifest must carry —
        positional-delete carry-forward, sequence numbers, equality
        tombstone retention. Called by :meth:`_commit_manifest` AND by the
        staged-commit path (``commit_partitions(stage=True)`` writes the
        manifest directly so HEAD doesn't move until :meth:`publish`):
        skipping it there would strip outstanding deletes from the staged
        snapshot and resurrect purged rows at publish time."""
        parent_m = (
            self.manifest(manifest["parent"]) if manifest["parent"] else None
        )
        if "delete_files" not in manifest:
            # Merge-on-read positional deletes follow the data files they
            # cover: carried files keep their entries, rewritten/dropped
            # files shed them (every internal rewrite reads through
            # _scan_live, so the survivors were written post-delete and the
            # rewrite itself purges the entries). Centralized here so every
            # writer — append, compact, merge, CoW delete, recluster —
            # inherits the contract without repeating it.
            carried = self._live_delete_files(parent_m, manifest["files"])
            if carried:
                manifest["delete_files"] = carried
        elif not manifest["delete_files"]:
            del manifest["delete_files"]
        # Sequence numbers (the Iceberg data-sequence-number analogue):
        # every commit increments the table sequence, every data file is
        # stamped with the sequence it was born in, and equality deletes
        # apply only to rows from files STRICTLY OLDER than the delete —
        # a key re-inserted after its tombstone is alive again (the CDC
        # upsert contract). Centralized so every writer inherits it.
        seq = (parent_m or {}).get("seq", 0) + 1
        manifest["seq"] = seq
        prev_seq = (parent_m or {}).get("file_seq", {})
        manifest["file_seq"] = {
            f: prev_seq.get(f, seq)
            for pf in manifest["files"].values()
            for f in pf
        }
        if "eq_delete_files" not in manifest:
            kept = self._live_eq_deletes(
                (parent_m or {}).get("eq_delete_files", []),
                manifest["files"],
                manifest["file_seq"],
            )
            if kept:
                manifest["eq_delete_files"] = kept
        elif not manifest["eq_delete_files"]:
            del manifest["eq_delete_files"]

    def head(self) -> str | None:
        head_path = os.path.join(self.table_dir, "HEAD")
        if not os.path.exists(head_path):
            return None
        with open(head_path) as fh:
            return fh.read().strip() or None

    def manifest(self, snapshot_id: str | None = None) -> dict | None:
        """Load a snapshot manifest (cached per (mtime, size) — treat the
        returned dict as immutable; writers copy the containers they
        change before mutating)."""
        snapshot_id = self._resolve_ref(snapshot_id) if snapshot_id else self.head()
        if snapshot_id is None:
            return None
        path = self._manifest_path(snapshot_id)
        st = os.stat(path)
        key = (st.st_mtime_ns, st.st_size)
        hit = self._manifest_cache.get(path)
        if hit is not None and hit[0] == key:
            return hit[1]
        with open(path) as fh:
            m = json.load(fh)
        self._manifest_cache[path] = (key, m)
        while len(self._manifest_cache) > 16:  # bound driver memory
            self._manifest_cache.pop(next(iter(self._manifest_cache)))
        return m

    def _head_manifest(self) -> dict:
        """The HEAD manifest a writer builds on; raises on an empty table."""
        m = self.manifest()
        if m is None:
            raise FileNotFoundError(f"no snapshot in {self.table_dir}")
        return m

    @staticmethod
    def _new_manifest(
        snapshot_id: str,
        m: dict | None,
        files: dict,
        metrics: dict,
        file_stats: dict,
        properties: dict,
        **extra,
    ) -> dict:
        """The manifest of snapshot ``snapshot_id`` on top of parent manifest
        ``m`` (None: the first snapshot) — what every writer commits. It
        inherits the parent's watermark unless ``extra`` overrides it, and
        keeps the ``file_stats`` of live files only. ``extra`` adds the
        optional keys (``delete_files``, ``eq_delete_files``)."""
        live = {f for pf in files.values() for f in pf}
        return {
            "snapshot_id": snapshot_id,
            "parent": m["snapshot_id"] if m else None,
            "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "watermark": (m or {}).get("watermark"),
            "properties": properties,
            "files": files,
            "metrics": metrics,
            "file_stats": {f: s for f, s in file_stats.items() if f in live},
            **extra,
        }

    @staticmethod
    def _bump_partitions(m: dict, parts, snapshot_id: str) -> dict:
        """``m``'s metrics with ``parts`` marked as written by
        ``snapshot_id``. Incremental consumers detect change via
        ``metrics.snapshot_id``; a metadata-only delete changes a
        partition's LOGICAL rows without rewriting its files, so it bumps
        the write snapshot (and drops any compaction-carried
        ``data_snapshot_id`` override) or changed_partitions()/follow()
        would silently skip the delete."""
        metrics = dict(m.get("metrics", {}))
        for p in parts:
            bumped = {**metrics.get(p, {}), "snapshot_id": snapshot_id}
            bumped.pop("data_snapshot_id", None)
            metrics[p] = bumped
        return metrics

    # -- refs: tags + timestamp travel -----------------------------------------
    def _resolve_ref(self, ref: str) -> str:
        """A snapshot argument anywhere in the API may be a snapshot id OR a
        tag name — tags resolve here, ids pass through."""
        tag_path = os.path.join(self.table_dir, "tags", ref)
        if not os.path.exists(self._manifest_path(ref)) and os.path.exists(
            tag_path
        ):
            with open(tag_path) as fh:
                return fh.read().strip()
        return ref

    def tag(self, name: str, snapshot_id: str | None = None) -> str:
        """Pin a named, immutable-by-convention ref to a snapshot (the
        Iceberg tag analogue): ``store.read(spark, snapshot_id="prod")``.
        Tags survive :meth:`rollback` (they point at manifests, not HEAD)
        but NOT :meth:`expire_snapshots` of their target — pin retention
        accordingly. Re-tagging an existing name moves it (atomic)."""
        snapshot_id = snapshot_id or self.head()
        if snapshot_id is None or not os.path.exists(
            self._manifest_path(snapshot_id)
        ):
            raise FileNotFoundError(f"no snapshot {snapshot_id!r} to tag")
        if "/" in name or name == "":
            raise ValueError(f"bad tag name {name!r}")
        os.makedirs(os.path.join(self.table_dir, "tags"), exist_ok=True)
        _atomic_write(os.path.join(self.table_dir, "tags", name), snapshot_id)
        return snapshot_id

    def tags(self) -> dict[str, str]:
        tag_dir = os.path.join(self.table_dir, "tags")
        if not os.path.isdir(tag_dir):
            return {}
        out = {}
        for name in sorted(os.listdir(tag_dir)):
            with open(os.path.join(tag_dir, name)) as fh:
                out[name] = fh.read().strip()
        return out

    def snapshot_as_of(self, timestamp: str) -> str:
        """The newest snapshot on the HEAD chain whose ``created_at`` is
        <= ``timestamp`` (ISO-8601 UTC, e.g. '2026-08-20T12:00:00Z') — the
        Iceberg ``FOR TIMESTAMP AS OF`` analogue:
        ``store.read(spark, snapshot_id=store.snapshot_as_of(ts))``.
        Raises when the whole chain is newer than the timestamp."""
        for m in self.history():  # newest first
            if m.get("created_at", "") <= timestamp:
                return m["snapshot_id"]
        raise FileNotFoundError(
            f"no snapshot at or before {timestamp!r} on the HEAD chain"
        )

    def history(self) -> list[dict]:
        chain = []
        snapshot_id = self.head()
        while snapshot_id:
            m = self.manifest(snapshot_id)
            chain.append(m)
            snapshot_id = m.get("parent")
        return chain

    # -- writes ----------------------------------------------------------------
    def commit_partitions(
        self,
        partitions: dict[str, DataFrame],
        watermark: str | None = None,
        properties: dict | None = None,
        stat_cols: Iterable[str] | None = None,
        cluster_by: Iterable[str] | None = None,
        cluster_files: int | None = None,
        cluster_mode: str = "range",
        stage: bool = False,
    ) -> str:
        """Write the given {partition_key: DataFrame} set as ONE new snapshot:
        data files land first, the manifest + HEAD flip last (atomic).
        Partitions already present in the parent snapshot are carried over
        unchanged (file reuse — no rewrite), so incremental jobs commit only
        the partitions they produced.

        Each frame is tagged with its key and goes through the store's one
        partitioned writer (:meth:`_write_parts`, the same write every
        copy-on-write verb uses), so each partition is one Spark job; the
        jobs run concurrently from a bounded driver thread pool (2 x the
        session's default parallelism), each under the caller's job group.
        A task writes no empty file; a partition with no row at all commits
        one empty file, so it still reads. Footer row counts and stats are
        read once every write has finished, and fold into the manifest in
        the order of ``partitions``; if any write fails, its error is raised
        then and nothing is committed (the written files are orphans for
        :meth:`remove_orphan_files`). A caller that builds many partitions
        from one frame (the pipeline's tier families) commits them in one
        job through :meth:`_commit_frames`.

        ``stat_cols``: record per-FILE [min, max] manifest statistics for
        these columns (read from the parquet footers only — the Iceberg
        manifest column-stats analogue). :meth:`read` with ``ranges=``
        then skips every file whose stats don't overlap the query range,
        so a time- or key-range query over a month of hourly commits opens
        only the overlapping files instead of the whole partition family.
        Parent partitions keep whatever stats they were committed with.
        A ``"bloom:col"`` spec additionally records a per-file bloom filter
        over ``col``'s distinct values for :meth:`files_for` ``eq=`` point
        lookups (costs one columnar read of each NEW file at commit time);
        rewrites (compaction, MERGE, DELETE) recompute whatever specs the
        replaced files carried.

        ``cluster_by``: range-cluster each partition's rows on these columns
        before writing (the Iceberg ``write.distribution-mode=range``
        analogue) so data files become key-DISJOINT and key-range stats
        pruning actually bites — without it, every file of a time-partition
        holds the full key space and a key-range read must open them all.
        Costs one range shuffle per committed partition; ``cluster_files``
        caps the file count (default: the session's shuffle parallelism,
        AQE-coalesced for small partitions).

        ``cluster_mode="zorder"``: cluster on the Morton interleave of the
        ``cluster_by`` columns instead of their lexicographic order (see
        :func:`zorder_column`). Range mode makes files disjoint in the
        LEADING column only; z-order makes every file a tight box in EVERY
        listed column, so ``read(ranges=...)`` prunes on any of them — the
        right layout when a crawl table serves both url-scoped and
        time-scoped reads. Costs one extra min/max agg job per partition.

        ``stage=True``: write-audit-publish — the snapshot (data files AND
        manifest) lands fully formed but HEAD does not move, so readers
        keep seeing the parent while audit queries validate the staged
        snapshot via ``read(snapshot_id=...)``; then :meth:`publish` flips
        HEAD (with the optimistic-concurrency check) or :meth:`abandon`
        deletes the staged manifest and lets the orphan sweep reclaim its
        unique files. The gate a crawl pipeline wants before a bad dump
        becomes visible."""
        cluster_by = list(cluster_by) if cluster_by else None
        if cluster_by and cluster_mode not in ("range", "zorder"):
            raise ValueError(f"cluster_mode={cluster_mode!r}")
        tagged = {}
        for part_key, df in partitions.items():
            if cluster_by:
                df = _cluster(df, cluster_by, cluster_mode, cluster_files)
            tagged[part_key] = df.withColumn(_PART_COL, F.lit(part_key))
        return self._commit_frames(
            tagged, watermark, properties, stat_cols, stage,
            # Recorded so maintenance rewrites preserve the layout the
            # file-skipping reads depend on (see compact_partitions).
            **({"cluster_by": cluster_by, "cluster_mode": cluster_mode}
               if cluster_by else {}),
        )

    def _commit_frames(
        self,
        parts: dict[str, DataFrame],
        watermark: str | None = None,
        properties: dict | None = None,
        stat_cols: Iterable[str] | None = None,
        stage: bool = False,
        **layout,
    ) -> str:
        """:meth:`commit_partitions` of frames whose rows carry their
        partition key in ``__cowpart``: ``parts`` maps each partition key to
        the frame holding its rows (see :meth:`_write_parts`; one frame may
        hold many keys). ``layout`` lands in every partition's metric."""
        m = self.manifest()
        snapshot_id = _new_snapshot_id()
        stat_cols = set(stat_cols) if stat_cols else None
        files = dict((m or {}).get("files", {}))
        metrics = dict((m or {}).get("metrics", {}))
        file_stats = dict((m or {}).get("file_stats", {}))
        if parts:
            t0 = time.time()
            spark = next(iter(parts.values())).sparkSession
            subs = self._write_parts(spark, snapshot_id, parts, True)
            for part_key, sub in subs.items():
                files[part_key], metrics[part_key], stats = _register_part_files(
                    sub, [], stat_cols, snapshot_id, t0, **layout
                )
                file_stats.update(stats)

        properties = dict(properties or {})
        if stage:
            properties["staged"] = True
        manifest = self._new_manifest(
            snapshot_id, m, files, metrics, file_stats, properties,
            watermark=watermark,
        )
        if stage:
            # Same invariants as a direct commit (delete carry, sequence
            # stamps): a staged manifest missing them would resurrect
            # purged rows the moment it publishes.
            self._finalize_manifest(manifest)
            _atomic_write(
                self._manifest_path(snapshot_id), json.dumps(manifest, indent=1)
            )
        else:
            self._commit_manifest(manifest)
        return snapshot_id

    def _write_parts(
        self,
        spark: SparkSession,
        snapshot_id: str,
        parts: dict[str, DataFrame],
        keep_empty: bool = False,
    ) -> dict[str, str]:
        """The store's one data writer. ``parts`` maps each partition key to
        the frame holding its rows, each row carrying its key in
        ``__cowpart``; one frame may hold many keys (a tier family built
        over every crawl day at once). Each distinct frame lands in ONE
        Spark job that writes a directory per key (``partitionBy``), so the
        job count does not grow with the number of partitions; the frames'
        writes run side by side (:func:`_write_concurrently`), one schema
        each. Rows under a key ``parts`` does not list are not written.
        Every task writes one file per key it holds rows for and no empty
        file; each key's files then move to ``data/<snapshot_id>/<key>/``,
        the store's layout. Returns ``{key: directory of its new files}`` in
        ``parts`` order for every key that got a row, or for every key with
        ``keep_empty`` (a key without rows then gets one empty file of its
        frame's schema, so it still reads)."""
        from urllib.parse import unquote

        snap_dir = os.path.join(self.table_dir, "data", snapshot_id)
        keys_of: dict[int, tuple[DataFrame, list]] = {}
        for part_key, df in parts.items():
            keys_of.setdefault(id(df), (df, []))[1].append(part_key)

        def write_one(item):
            i, (df, keys) = item
            out = os.path.join(snap_dir, f"__write{i}__")
            writer = df.where(F.col(_PART_COL).isin(keys)).write.partitionBy(_PART_COL)
            writer.mode("overwrite").parquet(out)
            written = []
            for d in os.listdir(out):
                if d.startswith(f"{_PART_COL}="):
                    written.append(unquote(d.split("=", 1)[1]))
                    src, dest = os.path.join(out, d), os.path.join(snap_dir, written[-1])
                    # exist_ok: a concurrent write of a nested key ("a/b"
                    # under "a") may have made the directory already
                    os.makedirs(dest, exist_ok=True)
                    for f in os.listdir(src):
                        os.rename(os.path.join(src, f), os.path.join(dest, f))
            shutil.rmtree(out)
            return written

        items = list(enumerate(keys_of.values()))
        written = set().union(*_write_concurrently(spark, write_one, items))
        subs = {}
        for part_key, df in parts.items():
            sub = os.path.join(snap_dir, part_key)
            if part_key in written:
                subs[part_key] = sub
            elif keep_empty:
                subs[part_key] = _write_empty_part(sub, df)
        return subs

    def publish(self, snapshot_id: str) -> str:
        """Flip HEAD to a snapshot staged with ``commit_partitions(...,
        stage=True)`` after the audit queries passed. Runs the same
        optimistic-concurrency check as a direct commit: if another writer
        advanced HEAD past the staged snapshot's parent, the staged work is
        based on a stale table and publishing would silently drop theirs —
        :class:`CommitConflictError` instead (re-stage against the new HEAD
        or :meth:`abandon`)."""
        m = self.manifest(snapshot_id)
        snapshot_id = self._resolve_ref(snapshot_id)
        current = self.head()
        if current != m["parent"]:
            raise CommitConflictError(
                f"HEAD moved from {m['parent']!r} to {current!r} since "
                f"{snapshot_id!r} was staged; re-stage or abandon"
            )
        if m["properties"].get("staged"):
            # copy before mutating: manifest() returns the shared cached
            # dict — popping in place would diverge cache from disk if the
            # rewrite below failed
            m = {**m, "properties": dict(m["properties"])}
            m["properties"].pop("staged")
            _atomic_write(
                self._manifest_path(snapshot_id), json.dumps(m, indent=1)
            )
        _atomic_write(os.path.join(self.table_dir, "HEAD"), snapshot_id)
        return snapshot_id

    def abandon(self, snapshot_id: str) -> None:
        """Drop a staged (or otherwise off-chain) snapshot: deletes its
        manifest so its unique data files stop being pinned and age into
        :meth:`remove_orphan_files`' sweep. Refuses to touch HEAD or any
        ancestor of HEAD (use :meth:`rollback` / :meth:`expire_snapshots`
        for on-chain history)."""
        snapshot_id = self._resolve_ref(snapshot_id)
        on_chain = {m["snapshot_id"] for m in self.history()}
        if snapshot_id in on_chain:
            raise ValueError(
                f"{snapshot_id!r} is on the HEAD chain; abandon() is only "
                "for staged/off-chain snapshots"
            )
        os.remove(self._manifest_path(snapshot_id))

    def expire_partitions(
        self,
        predicate,
        properties: dict | None = None,
    ) -> tuple[str, list[str]]:
        """Retention: commit a new snapshot whose manifest DROPS every
        partition for which ``predicate(partition_key)`` is true — a pure
        metadata operation (no data files touched), so time travel to older
        snapshots still sees the expired partitions until
        :meth:`expire_snapshots` reclaims them. Returns
        (snapshot_id, dropped_keys)."""
        m = self._head_manifest()
        dropped = sorted(k for k in m["files"] if predicate(k))
        files = {k: v for k, v in m["files"].items() if k not in dropped}
        metrics = {
            k: v for k, v in m.get("metrics", {}).items() if k not in dropped
        }
        snapshot_id = _new_snapshot_id()
        self._commit_manifest(
            self._new_manifest(
                snapshot_id, m, files, metrics, m.get("file_stats", {}),
                {**(properties or {}), "expired_partitions": dropped},
            )
        )
        return snapshot_id, dropped

    def compact_partitions(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_files: int = 2,
        predicate=None,
        properties: dict | None = None,
    ) -> tuple[str | None, dict[str, dict]]:
        """Bin-pack small files (the Iceberg ``rewrite_data_files``
        binpack-strategy analogue): for every HEAD partition with at least
        ``min_files`` data files, rewrite its files into
        ``ceil(bytes / target_file_bytes)`` files when that shrinks the file
        count, and commit ONE new snapshot pointing at the compacted files.

        Why it matters at 100 TB: every incremental tier commit writes a
        partition with one file per task (32 cores -> 32 files), so after a
        month of hourly commits a day-partition scan opens thousands of
        KB-sized files and the scheduler pays per-file open/footer costs
        that dwarf the actual read. Compaction is a pure rewrite — row set
        unchanged (asserted in tests), old snapshots still time-travel to
        the pre-compaction files until :meth:`expire_snapshots` reclaims
        them, and a crash mid-compaction leaves only orphaned new files
        (HEAD flips last, same contract as :meth:`commit_partitions`).

        Plan shape: each partition is read from exactly its own files and
        ``coalesce``-d (no shuffle) down to the target file count. The
        per-partition rewrites are independent jobs and run concurrently,
        each building its scan in its own thread: results fold into the
        manifest in partition order once every rewrite has finished, and a
        failed rewrite commits nothing. ``predicate``
        restricts compaction to a partition family (e.g. only ``tier1h/``).
        Returns ``(snapshot_id | None, {partition: {files_before,
        files_after, bytes}})`` — snapshot_id is None when nothing needed
        compaction.
        """
        m = self._head_manifest()
        # Partitions carrying merge-on-read positional deletes or covered
        # by equality tombstones are always rewritten (even when already
        # bin-packed): compaction is the purge step that folds outstanding
        # deletes back into plain data files so the read-side anti-joins
        # stay bounded.
        dmap = m.get("delete_files", {})
        eq_entries = m.get("eq_delete_files", [])
        fseq = m.get("file_seq", {})
        parts_with_deletes = {
            p
            for p, pf in m["files"].items()
            if any(f in dmap for f in pf)
            or self._live_eq_deletes(eq_entries, {p: pf}, fseq)
        }
        todo: dict[str, int] = {}
        for part_key, part_files in m["files"].items():
            if predicate is not None and not predicate(part_key):
                continue
            has_deletes = part_key in parts_with_deletes
            if len(part_files) < min_files and not has_deletes:
                continue
            part_bytes = sum(os.path.getsize(f) for f in part_files)
            n_out = max(1, -(-part_bytes // target_file_bytes))
            if n_out < len(part_files) or has_deletes:
                todo[part_key] = min(n_out, len(part_files))
        if not todo:
            return None, {}

        snapshot_id = _new_snapshot_id()
        files = dict(m["files"])
        metrics = dict(m.get("metrics", {}))
        file_stats = dict(m.get("file_stats", {}))

        def rewrite_one(part_key):
            old_files, prev = files[part_key], metrics.get(part_key, {})
            part_dir = os.path.join(self.table_dir, "data", snapshot_id, part_key)
            t0 = time.time()
            # Live scan: outstanding positional deletes are applied here and
            # their entries shed at commit, restoring plain-file reads.
            src = self._scan_live(spark, old_files, m)
            # A clustered partition must stay clustered through compaction:
            # a plain coalesce merges arbitrary scan partitions, undoing
            # the file disjointness every stats-pruned read depends on —
            # the nightly maintain() would silently de-optimize the table.
            # Re-cluster on the recorded keys instead (range shuffle).
            ckeys, n_out = prev.get("cluster_by"), todo[part_key]
            if ckeys:
                src = _cluster(src, ckeys, prev.get("cluster_mode"), n_out)
            else:
                src = src.coalesce(n_out)
            src.write.mode("overwrite").parquet(part_dir)
            # The compacted files inherit manifest stats on the union of the
            # columns the replaced files carried stats for. Compaction
            # rewrites bytes, not data: incremental consumers key off the
            # last DATA write, carried through every rewrite.
            return _register_part_files(
                part_dir, [], {c for f in old_files for c in file_stats.get(f, {})},
                snapshot_id, t0, compacted_from=len(old_files),
                data_snapshot_id=prev.get("data_snapshot_id", prev.get("snapshot_id")),
                **_cluster_layout(prev),
            )

        parts = list(todo)
        report: dict[str, dict] = {}
        for part_key, (new_files, metric, stats) in zip(
            parts, _write_concurrently(spark, rewrite_one, parts)
        ):
            report[part_key] = {
                "files_before": len(files[part_key]),
                "files_after": len(new_files),
                "bytes": metric["bytes"],
            }
            files[part_key], metrics[part_key] = new_files, metric
            file_stats.update(stats)

        self._commit_manifest(
            self._new_manifest(
                snapshot_id, m, files, metrics, file_stats,
                {**(properties or {}), "compacted_partitions": sorted(todo)},
            )
        )
        return snapshot_id, report

    def _candidates(
        self, m: dict, prefix: str | None, ranges: dict | None, count_key: str
    ) -> tuple[list[str], dict]:
        """A row-level verb's stats-pruned candidate files under ``prefix``
        and its report, with ``count_key`` and ``touched_files`` at zero."""
        all_files = self.files_for(m["snapshot_id"], prefix)
        cand = self.files_for(m["snapshot_id"], prefix, ranges)
        return cand, {
            count_key: 0,
            "touched_files": 0,
            "candidate_files": len(cand),
            "pruned_files": len(all_files) - len(cand),
        }

    @staticmethod
    def _probe_touched(
        probe: DataFrame, m: dict
    ) -> tuple[dict[str, dict[str, int]], int]:
        """Resolve a probe scan carrying each row's source-file URI in
        ``__file`` to ``({partition: {manifest path: matched rows}}, matched
        rows)`` (see :func:`_resolve_file_counts`). One Spark job."""
        touched = _resolve_file_counts(
            m, ((r["__file"], r["count"]) for r in probe.groupBy("__file").count().collect())
        )
        return touched, sum(n for fc in touched.values() for n in fc.values())

    def _rewrite_touched(
        self,
        spark: SparkSession,
        m: dict,
        snapshot_id: str,
        writes: list[dict[str, dict[str, int]]],
        row_fn: Callable[[DataFrame], DataFrame],
        metric_key: str,
    ) -> tuple[dict, dict, dict, list[str]]:
        """The copy-on-write step every row-level verb shares: ``m``'s
        ``(files, metrics, file_stats)`` with each touched file replaced by
        ``row_fn`` applied to a live scan of the partition's touched files,
        plus the partitions dropped because no row survived anywhere in them.
        ``writes`` holds one ``{partition: {touched file: matched rows}}``
        map (as :meth:`_probe_touched` gives it) per parquet write: a write
        has one schema, so a verb that spans several partition families
        passes one map per family.

        Live (not raw) scans keep earlier merge-on-read deletes deleted: a
        raw rewrite would resurrect those rows because the new file sheds
        the parent's positional-delete entries. Every partition of a map is
        written in ONE Spark job by the store's one writer
        (:meth:`_write_parts`), so on a cluster the rewrites parallelize
        across executors instead of paying one sequential job per
        partition; the maps' writes run side by side.
        Untouched files are carried by reference. A partition whose touched
        files lost every row keeps its untouched files, or is dropped when
        it has none (the expire_partitions shape, not a husk). Rewritten
        files get stats on the columns the replaced files carried stats
        for, and each rewritten partition keeps its cluster layout; its
        metric records ``{metric_key: number of files replaced}``."""
        files = dict(m["files"])
        metrics = dict(m.get("metrics", {}))
        file_stats = dict(m.get("file_stats", {}))
        writes = [w for w in writes if w]
        if not writes:
            return files, metrics, file_stats, []
        parts = {}
        for touched in writes:
            frame = functools.reduce(DataFrame.unionByName, [
                row_fn(self._scan_live(spark, paths, m)).withColumn(
                    _PART_COL, F.lit(part_key)
                )
                for part_key, paths in touched.items()
            ]).coalesce(max(1, sum(len(paths) for paths in touched.values())))
            parts.update(dict.fromkeys(touched, frame))
        t0 = time.time()
        sub_by_part = self._write_parts(spark, snapshot_id, parts)
        dropped = []
        for part_key, paths in (kv for touched in writes for kv in touched.items()):
            replaced = frozenset(paths)
            carried = [f for f in files[part_key] if f not in replaced]
            sub = sub_by_part.get(part_key)
            if sub is None and not carried:
                files.pop(part_key)
                metrics.pop(part_key, None)
                dropped.append(part_key)
                continue
            stat_cols = {c for f in paths for c in file_stats.get(f, {})}
            files[part_key], metrics[part_key], stats = _register_part_files(
                sub, carried, stat_cols, snapshot_id, t0,
                **_cluster_layout(metrics.get(part_key, {})),
                **{metric_key: len(paths)},
            )
            file_stats.update(stats)
        return files, metrics, file_stats, dropped

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: Iterable[str],
        prefix: str | None = None,
        when_not_matched: str = "insert",
        insert_partition: str | None = None,
        properties: dict | None = None,
    ) -> tuple[str | None, dict]:
        """Row-level upsert with copy-on-write rewrite — the Iceberg
        ``MERGE INTO t USING s ON keys WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *`` analogue, the verb a crawl table
        needs when a URL is re-fetched. Every target row whose key appears
        in ``source`` is replaced by the source row (all columns, including
        explicit NULLs); source rows matching no target row are appended to
        ``insert_partition`` (``when_not_matched``: ``"insert"`` |
        ``"ignore"`` | ``"error"``).

        Scale shape (what Iceberg's COW MERGE does, re-expressed):

        1. *Prune*: candidate files = manifest-stats file skipping of the
           ``prefix`` family against the source's global per-key-column
           [min, max] — a 100-TB table with range-clustered keys prunes to
           the files whose key range overlaps the increment at planning
           time, no scan.
        2. *Probe*: ONE column-pruned scan of the candidate files (key
           columns only) semi-joined against the broadcast source keys
           finds the files that actually contain a matching key. Only
           those are rewritten.
        3. *Rewrite*: each touched file set is re-read once, left-joined
           against the broadcast source with a match marker (exact
           NULL-update semantics — no ``coalesce`` trap), and written as
           new files in the one write of :meth:`_rewrite_touched`;
           untouched files are carried over by reference.
        4. *Append*: unmatched source rows land as NEW files appended to
           ``insert_partition``'s file list — O(increment), no rewrite.

        The source must be unique on ``key_cols`` (checked; the SQL MERGE
        cardinality rule) and its schema must cover the target's columns.
        Inserts are PROJECTED to the table's schema (the insert partition's
        own files, else any partition under ``prefix``): source-only
        columns — a CDC version/op column — never leak into the store as a
        divergent file schema. The flip side: MERGE does not perform
        additive schema evolution; to add a column, commit the widened
        partitions via :meth:`commit_partitions` and read with
        ``merge_schema=True``, then MERGE.
        A key present in several partitions is updated in each (standard
        MERGE updates every matching target row). Rewritten/inserted files
        inherit manifest stats for the union of the stat columns the
        partition's replaced files carried. Commits ONE snapshot under the
        optimistic-concurrency check; a crash leaves only orphaned files.
        Returns ``(snapshot_id | None, report)`` — ``None`` when the merge
        was a provable no-op (empty source, or no matches and nothing to
        insert)."""
        key_cols = list(key_cols)
        if when_not_matched not in ("insert", "ignore", "error"):
            raise ValueError(f"when_not_matched={when_not_matched!r}")
        if when_not_matched == "insert" and insert_partition is None:
            raise ValueError("when_not_matched='insert' needs insert_partition")
        m = self._head_manifest()

        # One pass over the (small) source: per-key-column bounds for stats
        # pruning + the MERGE cardinality check, a single tiny agg job.
        src_keys = source.select(*key_cols)
        agg_cols = [F.count(F.lit(1)).alias("__n")] + [
            F.count_distinct(*[F.col(c) for c in key_cols]).alias("__d")
        ]
        for c in key_cols:
            agg_cols += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
        stats_row = source.agg(*agg_cols).collect()[0]
        if stats_row["__n"] == 0:
            return None, {"matched_rows": 0, "inserted_rows": 0, "touched_files": 0}
        if stats_row["__d"] != stats_row["__n"]:
            raise ValueError(
                f"source is not unique on {key_cols}: {stats_row['__n']} rows, "
                f"{stats_row['__d']} distinct keys (SQL MERGE cardinality rule)"
            )
        ranges = {}
        for c in key_cols:
            lo = _json_safe_stat(stats_row[f"__lo_{c}"])
            hi = _json_safe_stat(stats_row[f"__hi_{c}"])
            if lo is not None and hi is not None:
                ranges[c] = (lo, hi)

        cand, report = self._candidates(m, prefix, ranges or None, "matched_rows")
        report["inserted_rows"] = 0
        touched: dict[str, dict[str, int]] = {}
        hits = None
        try:
            if cand:
                # Probe scan: key columns only, semi-joined against the
                # broadcast source keys; persisted once, it yields both the
                # touched files and the matched keys.
                hits = (
                    self._scan_live(spark, cand, m, file_col="__file")
                    .select("__file", *key_cols)
                    .join(F.broadcast(src_keys), key_cols, "leftsemi")
                    .persist()
                )
                touched, report["matched_rows"] = self._probe_touched(hits, m)
            # Split the source: matched keys update in place, the rest insert.
            if touched:
                matched_keys = hits.select(*key_cols).distinct()
                unmatched = source.join(
                    F.broadcast(matched_keys), key_cols, "left_anti"
                )
            else:
                unmatched = source
            if when_not_matched == "error":
                stray = unmatched.count()
                if stray:
                    raise ValueError(
                        f"{stray} source rows match no target row "
                        "(when_not_matched='error')"
                    )
            if not touched and when_not_matched != "insert":
                return None, report

            def merged_rows(old: DataFrame) -> DataFrame:
                missing = set(old.columns) - set(source.columns)
                if missing:
                    raise ValueError(
                        f"source lacks target columns {sorted(missing)} "
                        "(MERGE is UPDATE SET * — schemas must align)"
                    )
                data_cols = [c for c in old.columns if c not in key_cols]
                src_marked = F.broadcast(
                    source.select(
                        *key_cols,
                        *[F.col(c).alias(f"__src_{c}") for c in data_cols],
                        F.lit(True).alias("__matched"),
                    )
                )
                # Exact NULL-update semantics: a marker column, not
                # coalesce — a source row that sets a value to NULL must win.
                return (
                    old.join(src_marked, key_cols, "left")
                    .select(
                        *key_cols,
                        *[
                            F.when(F.col("__matched"), F.col(f"__src_{c}"))
                            .otherwise(F.col(c))
                            .alias(c)
                            for c in data_cols
                        ],
                    )
                    .select(*old.columns)
                )

            snapshot_id = _new_snapshot_id()
            files, metrics, file_stats, _ = self._rewrite_touched(
                spark, m, snapshot_id, [touched], merged_rows, "merged_files"
            )
            if when_not_matched == "insert":
                existing = files.get(insert_partition, [])
                # Align inserts to the table's schema: the insert partition's
                # own files if it exists, else any file under the MERGE
                # prefix (one table, one schema — source-only columns like a
                # CDC version/op column must not leak into the store), else
                # (truly empty table) the source verbatim.
                schema_file = existing[0] if existing else next(
                    (
                        pf[0]
                        for part, pf in sorted(files.items())
                        if pf and (prefix is None or part.startswith(prefix))
                    ),
                    None,
                )
                if schema_file is not None:
                    tgt_cols = self._parquet(spark, [schema_file]).columns
                    missing = set(tgt_cols) - set(source.columns)
                    if missing:
                        raise ValueError(
                            f"source lacks {sorted(missing)} of insert "
                            f"partition {insert_partition!r}"
                        )
                    unmatched = unmatched.select(*tgt_cols)
                # A subdir of its own: the rewrite may have written the
                # partition's directory of this snapshot already.
                append = f"{insert_partition}/__append__"
                t0 = time.time()
                (part_dir,) = self._write_parts(spark, snapshot_id, {
                    append: unmatched.withColumn(_PART_COL, F.lit(append))
                }, True).values()
                before = metrics.get(insert_partition, {}).get("n_rows", 0)
                files[insert_partition], metrics[insert_partition], stats = (
                    _register_part_files(
                        part_dir, existing,
                        {c for f in existing for c in file_stats.get(f, {})},
                        snapshot_id, t0,
                        **_cluster_layout(metrics.get(insert_partition, {})),
                    )
                )
                file_stats.update(stats)
                report["inserted_rows"] = (
                    metrics[insert_partition]["n_rows"] - before
                )
        finally:
            if hits is not None:
                hits.unpersist()
        if not touched and not report["inserted_rows"]:
            # Inserts resolved to zero rows and nothing matched: drop the
            # would-be snapshot rather than committing a no-op.
            return None, report
        report["touched_files"] = sum(len(p) for p in touched.values())
        report["rewritten_partitions"] = {
            p: {"files_rewritten": len(paths)} for p, paths in touched.items()
        }
        self._commit_manifest(
            self._new_manifest(
                snapshot_id, m, files, metrics, file_stats,
                {
                    **(properties or {}),
                    "merge_keys": key_cols,
                    "merged_partitions": sorted(touched),
                    "merge_inserted_into": (
                        insert_partition if report["inserted_rows"] else None
                    ),
                },
            )
        )
        return snapshot_id, report

    def delete_where(
        self,
        spark: SparkSession,
        condition,
        prefix: str | None = None,
        ranges: dict[str, tuple] | None = None,
        properties: dict | None = None,
        mode: str = "copy-on-write",
    ) -> tuple[str | None, dict]:
        """Row-level DELETE — the Iceberg ``DELETE FROM t WHERE ...``
        analogue, and the right-to-be-forgotten path for a crawl table
        (drop every row of a url without rewriting the world).
        ``condition`` is a SQL string or Column selecting the rows to
        DELETE.

        ``mode="copy-on-write"`` (default) rewrites every touched file's
        survivors — reads stay plain scans, the delete pays the write.
        ``mode="merge-on-read"`` (the Iceberg v2 positional-delete shape)
        writes only a tiny delete file of (file, row_index) pairs in ONE
        probe job and commits in O(deleted rows): the right verb when a
        delete touches a few rows in many files (rewriting TBs to drop
        KBs). Reads apply outstanding deletes via a broadcast anti-join on
        (``_metadata.file_path``, ``_metadata.row_index``);
        :meth:`compact_partitions` (and the nightly :meth:`maintain`)
        purges them back into plain files.

        Scale shape: ``ranges`` (same domain as :meth:`files_for`) prunes
        candidate files from the manifest stats at planning time — pass the
        key bounds implied by the predicate, e.g. ``{"url": (u, u)}`` for a
        single-url purge over a url-range-clustered table. One probe scan
        of the candidates (predicate columns only, via the filter's own
        column pruning) counts matching rows per file; only files with a
        hit are rewritten (``.where(~condition)``, the shared copy-on-write
        step :meth:`_rewrite_touched`), everything else is carried by
        reference. A partition whose every row dies is dropped from the
        manifest (the retention verb for dropping WHOLE partitions is
        :meth:`expire_partitions`, a pure metadata operation — prefer it
        when the predicate is the partition key). Commits ONE snapshot under the optimistic-concurrency check;
        time travel to the pre-delete snapshot still sees the deleted rows
        until :meth:`expire_snapshots` reclaims them (document retention
        obligations accordingly). This is the one-family case of
        :meth:`_delete_rows`. Returns ``(snapshot_id | None, report)``
        — ``None`` when no row matched."""
        snapshot_id, reports = self._delete_rows(
            spark, condition, [prefix], ranges, properties, mode
        )
        return snapshot_id, reports[prefix]

    def _delete_rows(
        self,
        spark: SparkSession,
        condition,
        prefixes: list,
        ranges: dict[str, tuple] | None,
        properties: dict | None,
        mode: str,
    ) -> tuple[str | None, dict]:
        """:meth:`delete_where` over several partition families at once, as
        ONE snapshot: returns ``(snapshot_id | None, {prefix: report})``,
        each family with its own stats-pruned candidate list and report
        (``deleted_rows``, ``touched_files``, ``pruned_files``, ...).

        A family is one schema (the unit a ``read(prefix=...)`` scans), so
        each family gets one live probe scan of its candidates; the scans
        are unioned into the one probe. Copy-on-write then rewrites each
        family's touched files in a write of its own (one schema per
        parquet write); merge-on-read writes one positional-delete file for
        all of them. Either way the delete lands in one commit, so a crash
        leaves every family as it was (a purge cannot stop half done)."""
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(
                f"mode must be 'copy-on-write' or 'merge-on-read', got {mode!r}"
            )
        cond = F.expr(condition) if isinstance(condition, str) else condition
        m = self._head_manifest()
        mor = mode == "merge-on-read"
        reports, family_of, probes = {}, {}, []
        for prefix in prefixes:
            cand, reports[prefix] = self._candidates(m, prefix, ranges, "deleted_rows")
            if cand:
                family_of.update(dict.fromkeys(cand, prefix))
                probes.append(
                    self._scan_live(
                        spark, cand, m, file_col="__file",
                        pos_col="__pos" if mor else None,
                    )
                    .where(cond)
                    .selectExpr(*(["__file AS file", "__pos AS pos"] if mor else ["__file"]))
                )
        if not probes:
            return None, reports
        probe = functools.reduce(DataFrame.union, probes)
        properties = {**(properties or {}), "delete_condition": str(condition)}
        if mor:
            snapshot_id, touched, written = self._delete_merge_on_read(
                probe, m, properties
            )
        else:
            snapshot_id, written = None, {}
            touched, _ = self._probe_touched(probe, m)
            if touched:
                snapshot_id = _new_snapshot_id()
                # NULL predicate rows are NOT deleted (SQL DELETE semantics),
                # so they must survive: plain ~cond would drop them too.
                keep = ~F.coalesce(cond, F.lit(False))
                by_family: dict = {}
                for part, per_file in touched.items():
                    family = family_of[next(iter(per_file))]
                    by_family.setdefault(family, {})[part] = per_file
                files, metrics, file_stats, dropped = self._rewrite_touched(
                    spark, m, snapshot_id, list(by_family.values()),
                    lambda live: live.where(keep), "deleted_from_files",
                )
                self._commit_manifest(
                    self._new_manifest(
                        snapshot_id, m, files, metrics, file_stats,
                        {
                            **properties,
                            "deleted_partitions": sorted(touched),
                            "dropped_partitions": dropped,
                        },
                    )
                )
        for per_file in touched.values():
            for f, n in per_file.items():
                report = reports[family_of[f]]
                report["deleted_rows"] += n
                report["touched_files"] += 1
                report.update(written)
        return snapshot_id, reports

    def update_where(
        self,
        spark: SparkSession,
        condition,
        set: dict,
        prefix: str | None = None,
        ranges: dict[str, tuple] | None = None,
        properties: dict | None = None,
    ) -> tuple[str | None, dict]:
        """Row-level ``UPDATE t SET col = expr, ... WHERE ...`` with
        copy-on-write rewrite — the third DML verb next to
        :meth:`merge_into` and :meth:`delete_where`, for in-place fixes
        that have no natural source table (backfilling a parsed field,
        correcting a mislabeled language, clamping a bad sensor range).
        ``set`` maps column name → Column or SQL expression string; every
        assignment is evaluated against the OLD row (standard SQL UPDATE:
        ``SET a = b, b = a`` swaps), cast back to the column's existing
        type so the table schema never drifts, and applied only where
        ``condition`` is TRUE (NULL-predicate rows keep their values).

        Scale shape is :meth:`_rewrite_touched`'s, shared with
        :meth:`delete_where` and :meth:`merge_into`: ``ranges`` prunes
        candidate files from the manifest stats, one live probe scan finds
        the files with a hit, only those are rewritten (ONE
        dynamic-partition Spark job), everything else is carried by reference and keeps its
        positional-delete entries. Updating a cluster-key column leaves the
        rewritten files' NEW stats correct but no longer key-disjoint with
        their neighbors — re-cluster via :meth:`compact_partitions` if
        range pruning on that key matters. Returns
        ``(snapshot_id | None, report)`` — ``None`` when no row matched."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        m = self._head_manifest()
        if not set:
            raise ValueError("update_where needs at least one SET assignment")
        assignments = {
            c: (F.expr(v) if isinstance(v, str) else v) for c, v in set.items()
        }
        cand, report = self._candidates(m, prefix, ranges, "updated_rows")
        if not cand:
            return None, report
        touched, report["updated_rows"] = self._probe_touched(
            self._scan_live(spark, cand, m, file_col="__file").where(cond), m
        )
        report["touched_files"] = sum(len(p) for p in touched.values())
        if not touched:
            return None, report
        matched = F.coalesce(cond, F.lit(False))

        def updated_rows(cur: DataFrame) -> DataFrame:
            types = dict(cur.dtypes)
            unknown = [c for c in assignments if c not in types]
            if unknown:
                raise ValueError(f"SET references unknown columns {sorted(unknown)}")
            return cur.select(
                *[
                    (
                        F.when(matched, assignments[c].cast(types[c]))
                        .otherwise(F.col(c))
                        .alias(c)
                        if c in assignments
                        else F.col(c)
                    )
                    for c in cur.columns
                ]
            )

        snapshot_id = _new_snapshot_id()
        files, metrics, file_stats, _ = self._rewrite_touched(
            spark, m, snapshot_id, [touched], updated_rows, "updated_from_files"
        )
        self._commit_manifest(
            self._new_manifest(
                snapshot_id, m, files, metrics, file_stats,
                {
                    **(properties or {}),
                    "update_condition": str(condition),
                    "update_set": {c: str(v) for c, v in set.items()},
                    "updated_partitions": sorted(touched),
                },
            )
        )
        return snapshot_id, report

    def rollback(self, snapshot_id: str, purge_abandoned: bool = False) -> list[str]:
        """Point HEAD back at an ancestor snapshot (the Iceberg
        ``rollback_to_snapshot`` analogue) — an O(1) metadata flip that
        undoes bad commits without touching data files; time travel to the
        abandoned snapshots keeps working through their manifests. With
        ``purge_abandoned`` the manifests newer than the target (reachable
        from the old HEAD but not the new one) are deleted so their unique
        data files age into :meth:`remove_orphan_files`' sweep — otherwise
        an abandoned branch pins its files forever. Returns the abandoned
        snapshot ids (newest first)."""
        snapshot_id = self._resolve_ref(snapshot_id)
        if not os.path.exists(self._manifest_path(snapshot_id)):
            raise FileNotFoundError(f"no snapshot {snapshot_id!r}")
        abandoned = []
        cur = self.head()
        while cur and cur != snapshot_id:
            mm = self.manifest(cur)
            abandoned.append(cur)
            cur = mm.get("parent")
        if cur != snapshot_id:
            raise ValueError(
                f"{snapshot_id!r} is not an ancestor of HEAD; refusing to "
                "roll back across branches"
            )
        _atomic_write(os.path.join(self.table_dir, "HEAD"), snapshot_id)
        if purge_abandoned:
            for sid in abandoned:
                os.remove(self._manifest_path(sid))
        return abandoned

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Physically reclaim history (the Iceberg ``expire_snapshots``
        analogue): keep the newest ``keep_last`` snapshots, delete the
        older manifests, and delete every data file referenced ONLY by the
        expired snapshots. The kept chain's oldest manifest becomes the new
        root (parent = null). Returns the deleted data files."""
        assert keep_last >= 1
        chain = self.history()  # newest first
        keep, drop = chain[:keep_last], chain[keep_last:]
        if not drop:
            return []
        live_files = {f for m in keep for f in _manifest_all_paths(m)}
        deleted = []
        for m in drop:
            for f in sorted(_manifest_all_paths(m)):
                if f not in live_files and os.path.exists(f):
                    os.remove(f)
                    deleted.append(f)
            os.remove(self._manifest_path(m["snapshot_id"]))
        root = dict(keep[-1])
        root["parent"] = None
        _atomic_write(
            self._manifest_path(root["snapshot_id"]), json.dumps(root, indent=1)
        )
        # prune now-empty data dirs
        data_dir = os.path.join(self.table_dir, "data")
        for dirpath, dirnames, filenames in os.walk(data_dir, topdown=False):
            if not dirnames and not filenames:
                os.rmdir(dirpath)
        return deleted

    def maintain(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        keep_last: int = 3,
        orphan_grace_seconds: float = 3 * 86400,
        predicate=None,
    ) -> dict:
        """The nightly maintenance job, in the only safe order: bin-pack
        compaction first (commits a new snapshot), snapshot expiry second
        (reclaims the files compaction replaced, beyond ``keep_last`` of
        time travel), orphan sweep last (crash residue older than the grace
        period). One call per table per night keeps file counts, history
        size, and orphan storage bounded forever."""
        snap, report = self.compact_partitions(
            spark, target_file_bytes=target_file_bytes, predicate=predicate
        )
        expired = self.expire_snapshots(keep_last=keep_last)
        orphans = self.remove_orphan_files(older_than_seconds=orphan_grace_seconds)
        return {
            "compaction_snapshot": snap,
            "compacted_partitions": len(report),
            "expired_files": len(expired),
            "orphan_files_removed": len(orphans),
        }

    def remove_orphan_files(self, older_than_seconds: float = 3 * 86400) -> list[str]:
        """Delete data files no manifest references (the Iceberg
        ``remove_orphan_files`` analogue). The crash contract of
        :meth:`commit_partitions` / :meth:`compact_partitions` is "at most
        orphaned data files, never a corrupt manifest" — so orphans are
        exactly what a crashed writer leaves behind, and at 100 TB with
        hourly jobs they accumulate into real storage cost.

        Safety: only files under ``data/`` that (a) appear in NO manifest in
        ``snapshots/`` — including manifests not on the current HEAD chain —
        and (b) are older than ``older_than_seconds`` (grace period so an
        in-flight writer's files, whose manifest has not landed yet, are
        never swept) are removed. Returns the deleted paths."""
        live: set[str] = set()
        snap_dir = os.path.join(self.table_dir, "snapshots")
        for name in os.listdir(snap_dir):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(snap_dir, name)) as fh:
                m = json.load(fh)
            live.update(_manifest_all_paths(m))
        cutoff = time.time() - older_than_seconds
        deleted = []
        data_dir = os.path.join(self.table_dir, "data")
        for dirpath, _dirnames, filenames in os.walk(data_dir):
            for name in filenames:
                # Manifests list only data files; leave Spark's _SUCCESS /
                # .crc markers alone so a live partition dir stays intact.
                if not name.endswith(".parquet"):
                    continue
                path = os.path.join(dirpath, name)
                if path in live:
                    continue
                if os.path.getmtime(path) > cutoff:
                    continue
                os.remove(path)
                deleted.append(path)
        for dirpath, dirnames, filenames in os.walk(data_dir, topdown=False):
            if not dirnames and not filenames:
                os.rmdir(dirpath)
        return deleted

    # -- merge-on-read delete plumbing ------------------------------------------
    def _delete_merge_on_read(
        self, hits: DataFrame, m: dict, properties: dict
    ) -> tuple[str | None, dict, dict]:
        """The ``mode="merge-on-read"`` body of :meth:`_delete_rows`: ONE
        probe job writes ``hits``, the unioned per-family probe, as a
        positional-delete parquet of ``(file: _metadata.file_path URI, pos:
        _metadata.row_index)`` for every matching live row, and the commit
        is pure metadata — data files, metrics, and file stats are carried
        verbatim, only the ``delete_files`` map (manifest data path →
        covering delete files) grows. The touched files and their
        deleted-row counts come from the written file's ``file`` column,
        read on the driver (it is O(deleted rows)), not from a second Spark
        job. O(deleted rows) I/O instead of O(touched-file bytes): the
        right verb when a delete touches a few rows in many files.

        The probe scans LIVE (earlier deletes applied), so stacked MoR
        deletes never double-count a row, and the delete file is shared
        across all data files it covers — the read-side anti-join keys on
        (file, pos), so entries for since-rewritten files are inert.
        Manifest ``metrics.n_rows`` / file stats intentionally keep their
        pre-delete values (the Iceberg v2 convention): stats-based file
        skipping only ever skips files that cannot match, and
        :meth:`compact_partitions` restores exact counts when it purges.
        Returns ``(snapshot_id | None, touched, write figures)``, touched
        as :meth:`_probe_touched` gives it."""
        import pyarrow.parquet as pq

        snapshot_id = _new_snapshot_id()
        # NOT "__deletes__": Spark's file index silently filters
        # underscore-prefixed path segments, so a reserved-looking name
        # would make the read-back warn "All paths were ignored".
        del_dir = os.path.join(self.table_dir, "data", snapshot_id, "deletes")
        t0 = time.time()
        hits.coalesce(1).write.mode("overwrite").parquet(del_dir)
        delete_paths = _parquet_files(del_dir)
        # one row per deleted row: counted per data file on the driver
        files = Counter(
            f for p in delete_paths
            for f in pq.read_table(p, columns=["file"]).column("file").to_pylist()
        )
        touched = _resolve_file_counts(m, files.items())
        if not touched:
            shutil.rmtree(os.path.dirname(del_dir), ignore_errors=True)
            return None, touched, {}
        dmap = self._live_delete_files(m, m["files"])
        for f in (f for paths in touched.values() for f in paths):
            dmap[f] = sorted(set(dmap.get(f, [])) | set(delete_paths))
        written = {
            "delete_files_written": len(delete_paths),
            "delete_bytes": sum(os.path.getsize(p) for p in delete_paths),
            "write_seconds": round(time.time() - t0, 3),
        }
        self._commit_manifest(
            self._new_manifest(
                snapshot_id, m, m["files"],
                self._bump_partitions(m, touched, snapshot_id),
                m.get("file_stats", {}),
                {
                    **properties,
                    "delete_mode": "merge-on-read",
                    "deleted_partitions": sorted(touched),
                },
                delete_files=dmap,
            )
        )
        return snapshot_id, touched, written

    def delete_keys(
        self,
        spark: SparkSession,
        keys: DataFrame,
        prefix: str | None = None,
        properties: dict | None = None,
    ) -> tuple[str | None, dict]:
        """Equality DELETE (the Iceberg v2 equality-delete-file shape): drop
        every row whose key columns match a row of ``keys`` — WITHOUT any
        probe scan of the table. The commit writes only the deduplicated
        key set as a tombstone parquet and is O(keys): the right verb for
        CDC tombstones and purge lists arriving faster than a probe could
        run (a positional delete must first FIND the rows; an equality
        delete just declares the keys dead). ``keys``' column names select
        the key columns; NULL key values match NULL row values (null-safe
        equality, the Iceberg convention).

        Sequence semantics: the tombstone applies only to rows from data
        files with a strictly older sequence number, so a key re-inserted
        by a LATER commit is alive again — exactly the delete+insert
        ordering a CDC upsert stream needs. Reads anti-join the broadcast
        key set per sequence epoch (:meth:`_scan_live`);
        :meth:`compact_partitions` folds tombstones into plain files and
        sheds the entry once no older file survives. ``prefix`` scopes the
        tombstone to a partition family (and marks those partitions
        changed for incremental consumers — an equality delete cannot know
        which partitions actually held matches without the probe it
        exists to avoid, so consumers conservatively reprocess the
        family). Returns ``(snapshot_id | None, report)``."""
        m = self._head_manifest()
        key_cols = list(keys.columns)
        if not key_cols:
            raise ValueError("delete_keys needs at least one key column")
        # Validate the key columns against every covered partition NOW
        # (one footer read per partition, no Spark job): a tombstone whose
        # columns a covered file lacks would poison every subsequent read,
        # probe, and compaction of the family with AnalysisException — the
        # purge remedy itself included.
        import pyarrow.parquet as _pq

        for part, pf in sorted(m["files"].items()):
            if prefix is not None and not part.startswith(prefix):
                continue
            if not pf:
                continue
            cols = set(_pq.read_schema(pf[0]).names)
            missing = [c for c in key_cols if c not in cols]
            if missing:
                raise ValueError(
                    f"tombstone key columns {missing} absent from partition "
                    f"{part!r} — scope the delete with prefix= to the "
                    "families that carry them"
                )
        snapshot_id = _new_snapshot_id()
        eq_dir = os.path.join(self.table_dir, "data", snapshot_id, "eq_deletes")
        t0 = time.time()
        keys.dropDuplicates().coalesce(1).write.mode("overwrite").parquet(eq_dir)
        paths = _parquet_files(eq_dir)
        n_keys = sum(_rows_per_file(paths).values()) if paths else 0
        report = {
            "n_keys": n_keys,
            "eq_delete_bytes": sum(os.path.getsize(p) for p in paths),
            "write_seconds": round(time.time() - t0, 3),
        }
        if n_keys == 0:
            shutil.rmtree(os.path.dirname(eq_dir), ignore_errors=True)
            return None, report
        seq = m.get("seq", 0) + 1  # matches _commit_manifest's assignment
        entry = {"paths": paths, "cols": key_cols, "seq": seq, "prefix": prefix}
        kept = self._live_eq_deletes(
            m.get("eq_delete_files", []), m["files"], m.get("file_seq", {})
        )
        marked = [
            p for p in m["files"] if prefix is None or p.startswith(prefix)
        ]
        report["partitions_marked"] = len(marked)
        self._commit_manifest(
            self._new_manifest(
                snapshot_id, m, m["files"],
                self._bump_partitions(m, marked, snapshot_id),
                m.get("file_stats", {}),
                {
                    **(properties or {}),
                    "delete_mode": "equality",
                    "delete_key_cols": key_cols,
                    "delete_prefix": prefix,
                },
                eq_delete_files=kept + [entry],
            )
        )
        return snapshot_id, report

    @staticmethod
    def _live_delete_files(m: dict | None, files: dict) -> dict:
        """The parent's positional-delete map restricted to data files still
        live in the child manifest — a rewritten or dropped data file takes
        its delete entries with it (the survivors were written WITHOUT the
        deleted rows, so carrying stale positions would delete wrong rows)."""
        live = {f for pf in files.values() for f in pf}
        return {
            f: d
            for f, d in (m or {}).get("delete_files", {}).items()
            if f in live and d
        }

    def _apply_delete_files(
        self, spark: SparkSession, df: DataFrame, paths, m: dict
    ) -> DataFrame:
        """Apply positional delete files covering ``paths`` to a scan of
        exactly those paths — the Iceberg v2 merge-on-read contract. Rows
        are identified by (``_metadata.file_path``, ``_metadata.row_index``),
        the same values the delete commit recorded, so no path
        normalization is involved. The delete set rides a broadcast
        LEFT ANTI join: tiny against the data scan (deletes that grow large
        are exactly what :meth:`compact_partitions` purges)."""
        dmap = m.get("delete_files", {})
        rel = sorted({d for p in paths for d in dmap.get(p, [])})
        if not rel:
            return df
        dels = (
            self._parquet(spark, rel)
            .select(
                F.col("file").alias("__del_file"), F.col("pos").alias("__del_pos")
            )
            .dropDuplicates(["__del_file", "__del_pos"])
        )
        keyed = df.withColumn("__row_file", F.col("_metadata.file_path")).withColumn(
            "__row_pos", F.col("_metadata.row_index")
        )
        survivors = keyed.join(
            F.broadcast(dels),
            (keyed["__row_file"] == dels["__del_file"])
            & (keyed["__row_pos"] == dels["__del_pos"]),
            "left_anti",
        )
        return survivors.drop("__row_file", "__row_pos")

    @staticmethod
    def _live_eq_deletes(entries: list, files: dict, file_seq: dict) -> list:
        """Parent equality-delete entries still needed by the child
        manifest: an entry can be dropped once every live file it could
        apply to (strictly older sequence, under the entry's partition
        prefix) has been rewritten or removed — the rewrites scanned live,
        so the tombstoned rows are physically gone."""
        kept = []
        for e in entries:
            pfx = e.get("prefix")
            for part, pf in files.items():
                if pfx is not None and not part.startswith(pfx):
                    continue
                if any(file_seq.get(f, 0) < e["seq"] for f in pf):
                    kept.append(e)
                    break
        return kept

    def _apply_eq_deletes(
        self, spark: SparkSession, df: DataFrame, entry: dict
    ) -> DataFrame:
        """Anti-join one equality-delete entry's key set against a scan.
        Null-safe equality per key column (the Iceberg equality-delete
        convention: NULL is a value, so a NULL-keyed tombstone kills
        NULL-keyed rows). The key set rides a broadcast — equality deletes
        are tombstone-sized by construction (a CDC batch, a purge list),
        and compaction folds them into plain files before they grow."""
        keys = self._parquet(spark, entry["paths"]).dropDuplicates()
        cond = functools.reduce(
            lambda a, b: a & b,
            [df[c].eqNullSafe(keys[c]) for c in entry["cols"]],
        )
        return df.join(F.broadcast(keys), cond, "left_anti")

    def _scan_live(
        self,
        spark: SparkSession,
        paths,
        m: dict,
        file_col: str | None = None,
        pos_col: str | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Scan manifest data files with every outstanding delete applied —
        positional (merge-on-read DELETE) and equality (tombstones) — what
        every reader, internal or external, must use instead of a raw
        ``spark.read.parquet`` so row-level deletes are invisible
        everywhere. Select the needed columns AFTER (Catalyst prunes them
        through the anti-joins; projecting first would drop the virtual
        ``_metadata`` column the positional join keys on). ``file_col`` /
        ``pos_col`` materialize each row's source-file URI and row index —
        the probe scans' replacement for ``input_file_name()``, which does
        not survive the anti-join.

        Equality deletes respect sequence epochs: the scanned paths are
        grouped by WHICH tombstone entries postdate their birth sequence
        (at most #entries+1 groups, each one scan + broadcast anti-joins,
        unioned) so a key re-inserted after its tombstone survives. No
        per-row file-path lookup table is ever built — epoch membership is
        decided at plan time from the manifest."""
        paths = list(paths)

        def build(group_paths):
            df = self._parquet(spark, group_paths, merge_schema)
            if file_col is not None:
                df = df.withColumn(file_col, F.col("_metadata.file_path"))
            if pos_col is not None:
                df = df.withColumn(pos_col, F.col("_metadata.row_index"))
            return self._apply_delete_files(spark, df, group_paths, m)

        entries = m.get("eq_delete_files", [])
        if not entries:
            return build(paths)
        part_of = {
            f: part for part, pf in m.get("files", {}).items() for f in pf
        }
        fseq = m.get("file_seq", {})
        groups: dict[tuple, list] = {}
        for p in paths:
            s = fseq.get(p, 0)
            part = part_of.get(p, "")
            applicable = tuple(
                i
                for i, e in enumerate(entries)
                if s < e["seq"]
                and (e.get("prefix") is None or part.startswith(e["prefix"]))
            )
            groups.setdefault(applicable, []).append(p)
        out = None
        for applicable in sorted(groups):
            df = build(groups[applicable])
            for i in applicable:
                df = self._apply_eq_deletes(spark, df, entries[i])
            out = (
                df
                if out is None
                # an epoch group may lack columns newer files added
                else out.unionByName(df, allowMissingColumns=merge_schema)
            )
        return out

    # -- reads -----------------------------------------------------------------
    def files_for(
        self,
        snapshot_id: str | None = None,
        prefix: str | None = None,
        ranges: dict[str, tuple] | None = None,
        eq: dict | None = None,
    ) -> list[str]:
        """The data files a scan must open: partition-family selection by
        ``prefix``, then manifest-stats file skipping by ``ranges`` —
        ``{column: (lo, hi)}``, inclusive. A file is skipped only when it
        CARRIES stats for the column and its [min, max] provably misses the
        query range; files without stats are always read (sound, never
        drops rows). Range endpoints must live in the stats' stored domain:
        numbers for numeric columns, the string itself for strings,
        ISO-8601 ``T``-separated strings for timestamps; ``None`` for an
        open endpoint.

        ``eq`` — ``{column: value}`` point lookups: a file is skipped when
        its [min, max] misses the value OR its bloom filter (committed via
        ``stat_cols=["bloom:col"]``) proves absence. Blooms are what make
        point lookups on a high-cardinality key selective inside a time
        partition whose files all span the key space (unclustered layouts,
        where [min, max] keeps every file); Iceberg reads parquet
        bloom/dictionary pages at planning time for the same reason."""
        m = self.manifest(snapshot_id)
        if m is None:
            raise FileNotFoundError(f"no snapshot in {self.table_dir}")
        parts = sorted(
            p for p in m["files"] if prefix is None or p.startswith(prefix)
        )
        all_files = [f for part in parts for f in m["files"][part]]
        if not ranges and not eq:
            return all_files
        stats = m.get("file_stats", {})
        kept = []
        for f in all_files:
            fs = stats.get(f, {})
            if not self._file_may_match(fs, ranges, eq):
                continue
            kept.append(f)
        return kept

    @staticmethod
    def _file_may_match(fs: dict, ranges: dict | None, eq: dict | None) -> bool:
        """True unless the file's manifest stats PROVE no row can match."""
        for col, (lo, hi) in (ranges or {}).items():
            if col not in fs:
                continue
            mn, mx = fs[col]
            if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                return False  # provably disjoint -> skip the file
        for col, v in (eq or {}).items():
            if col in fs:
                mn, mx = fs[col]
                sv = _json_safe_stat(v)
                try:
                    if sv is not None and (sv < mn or sv > mx):
                        return False
                except TypeError:
                    pass  # value outside the stats' domain: never skip on it
            bloom = fs.get(BLOOM_PREFIX + col)
            if bloom is not None and not _bloom_might_contain(bloom, v):
                return False
        return True

    def read(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        prefix: str | None = None,
        ranges: dict[str, tuple] | None = None,
        eq: dict | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Read the table as of a snapshot (time travel); HEAD by default.
        ``prefix`` selects a partition family (e.g. 'tier1h/') — required when
        a store holds heterogeneous partition schemas. ``ranges`` prunes
        files via manifest column stats (see :meth:`files_for`) — the
        Iceberg scan-planning analogue: a narrow time/key range over a
        100-TB table opens only the overlapping files; ``eq`` point lookups
        additionally consult per-file bloom filters (see :meth:`files_for`).
        The read still returns ALL rows of the kept files; apply the same
        predicate with ``.where`` for row-level filtering (parquet
        row-group skipping handles the rest). Raises ``FileNotFoundError`` when every file is
        pruned (the caller knows the result is empty without a scan).

        ``merge_schema``: additive schema evolution — when newer partitions
        carry columns older ones lack (a crawl gains a metadata field), the
        merged read fills the old rows with NULLs instead of failing or
        silently taking one file's schema. Costs a footer read per file at
        planning time; leave False when the family's schema is fixed."""
        kept = self.files_for(snapshot_id, prefix, ranges, eq)
        if not kept:
            raise FileNotFoundError(
                f"every data file pruned for prefix={prefix!r} "
                f"ranges={ranges!r} eq={eq!r}"
            )
        return self._scan_live(
            spark,
            kept,
            self.manifest(snapshot_id) or {},
            merge_schema=merge_schema,
        )

    def changed_partitions(
        self,
        since_snapshot: str,
        snapshot_id: str | None = None,
        prefix: str | None = None,
    ) -> list[str]:
        """Partitions written or rewritten strictly AFTER ``since_snapshot``
        and still visible at ``snapshot_id`` (HEAD by default) — the Iceberg
        incremental-append-scan planning step. Detection is by each
        partition's ``metrics.snapshot_id`` (the snapshot that last wrote
        it), so a late-data refresh that rewrites an old day shows up again
        — exactly what an incremental consumer must reprocess. Raises if
        ``since_snapshot`` is not on the target's parent chain (history may
        have been expired; the consumer must fall back to a full read)."""
        m = self.manifest(snapshot_id)
        if m is None:
            raise FileNotFoundError(f"no snapshot in {self.table_dir}")
        newer: set[str] = set()
        cur = m
        while True:
            if cur["snapshot_id"] == since_snapshot:
                break
            newer.add(cur["snapshot_id"])
            parent = cur.get("parent")
            if parent is None:
                raise ValueError(
                    f"snapshot {since_snapshot!r} not on the chain of "
                    f"{m['snapshot_id']!r} (history expired?) — fall back "
                    "to a full read"
                )
            cur = self.manifest(parent)
        metrics = m.get("metrics", {})

        def last_data_write(part: str) -> str | None:
            s = metrics.get(part, {})
            # Compaction rewrites bytes, not data; its metrics carry the
            # last DATA write forward so consumers don't reprocess it.
            return s.get("data_snapshot_id", s.get("snapshot_id"))

        return sorted(
            part
            for part in m["files"]
            if (prefix is None or part.startswith(prefix))
            and last_data_write(part) in newer
        )

    def read_incremental(
        self,
        spark: SparkSession,
        since_snapshot: str,
        snapshot_id: str | None = None,
        prefix: str | None = None,
    ) -> tuple[DataFrame | None, list[str]]:
        """Rows of every partition (re)written after ``since_snapshot`` —
        what a downstream incremental consumer (coarser tier, export job,
        index refresh) processes instead of re-reading the table. Returns
        ``(df | None, changed_partition_keys)``; ``df`` is None when
        nothing changed. At 100 TB this is the difference between a daily
        consumer scanning one day's partitions and scanning the archive."""
        m = self.manifest(snapshot_id)
        changed = self.changed_partitions(since_snapshot, snapshot_id, prefix)
        if not changed:
            return None, []
        files = [f for part in changed for f in m["files"][part]]
        return self._scan_live(spark, files, m), changed

    def follow(
        self,
        spark: SparkSession,
        since_snapshot: str | None = None,
        prefix: str | None = None,
        poll_seconds: float = 5.0,
        idle_limit: int | None = None,
    ):
        """Change feed: a generator yielding ``(snapshot_id, df, changed)``
        every time HEAD advances — the store-as-a-stream consumption loop
        (Delta's streaming-source analogue) for consumers that want to
        process each commit's increment without running Structured
        Streaming. ``df`` contains only the partitions (re)written since
        the previously yielded snapshot (see :meth:`read_incremental`;
        None when a commit touched nothing under ``prefix``); the very
        first yield after an empty start is the full table. Polls HEAD
        every ``poll_seconds``; stops after ``idle_limit`` consecutive
        empty polls (None = follow forever). Single-writer semantics: each
        commit is yielded exactly once, in chain order. The starting point
        is captured EAGERLY at call time (not at the first ``next()``), so
        "follow from now on" means from the moment of the call."""
        last = since_snapshot if since_snapshot is not None else self.head()

        def feed():
            nonlocal last
            idle = 0
            while idle_limit is None or idle < idle_limit:
                head = self.head()
                if head is not None and head != last:
                    if last is None:
                        df = self.read(spark, snapshot_id=head, prefix=prefix)
                        changed = sorted(
                            p
                            for p in self.manifest(head)["files"]
                            if prefix is None or p.startswith(prefix)
                        )
                    else:
                        df, changed = self.read_incremental(
                            spark, since_snapshot=last,
                            snapshot_id=head, prefix=prefix,
                        )
                    yield head, df, changed
                    last = head
                    idle = 0
                else:
                    idle += 1
                    time.sleep(poll_seconds)

        return feed()

    def completed_partitions(self, snapshot_id: str | None = None) -> set[str]:
        m = self.manifest(snapshot_id)
        return set(m["files"]) if m else set()

    def snapshots_table(self, spark: SparkSession) -> DataFrame:
        """The snapshot history as a DataFrame (the Iceberg ``.snapshots``
        metadata table analogue): one row per snapshot on the HEAD chain,
        newest first — commit time, watermark, stage properties, and size."""
        rows = []
        for m in self.history():
            rows.append(
                {
                    "snapshot_id": m["snapshot_id"],
                    "parent": m.get("parent"),
                    "created_at": m["created_at"],
                    "watermark": m.get("watermark"),
                    "stage": (m.get("properties") or {}).get("stage"),
                    "n_partitions": len(m["files"]),
                    "n_files": sum(len(v) for v in m["files"].values()),
                    "seq": m.get("seq"),
                    "n_pos_delete_files": len(
                        {d for v in m.get("delete_files", {}).values() for d in v}
                    ),
                    "n_eq_tombstones": len(m.get("eq_delete_files", [])),
                }
            )
        return spark.createDataFrame(
            rows or [],
            "snapshot_id string, parent string, created_at string, "
            "watermark string, stage string, n_partitions long, n_files long, "
            "seq long, n_pos_delete_files long, n_eq_tombstones long",
        )

    def files_table(self, spark: SparkSession, snapshot_id: str | None = None) -> DataFrame:
        """Per-file metadata as a DataFrame (the Iceberg ``.files`` metadata
        table analogue): partition, path, size, and the manifest column
        stats as a ``{col: [min, max]}`` JSON string — what an operator
        inspects to see whether stats pruning can work before running the
        query."""
        m = self.manifest(snapshot_id)
        if m is None:
            raise FileNotFoundError(f"no snapshot in {self.table_dir}")
        stats = m.get("file_stats", {})
        rows = []
        for part, part_files in m["files"].items():
            for f in part_files:
                rows.append(
                    {
                        "partition": part,
                        "path": f,
                        "bytes": os.path.getsize(f) if os.path.exists(f) else None,
                        # blooms render as their bit size only — the
                        # bitset payload is planning state, not metadata
                        "column_stats": json.dumps(
                            {
                                k: ({"m": v["m"]} if k.startswith(BLOOM_PREFIX) else v)
                                for k, v in stats[f].items()
                            }
                        )
                        if f in stats
                        else None,
                    }
                )
        return spark.createDataFrame(
            rows or [],
            "partition string, path string, bytes long, column_stats string",
        )

    def lineage(self, spark: SparkSession) -> DataFrame:
        """Per-partition lineage/metrics across the whole snapshot chain as a
        DataFrame (partition, snapshot_id, n_files, n_rows, bytes,
        write_seconds). Row counts come from commit-time footer metadata
        (None for partitions committed before counts were recorded), so
        auditing table sizes is a metadata lookup, never a scan."""
        rows = []
        for m in self.history():
            for part, stats in m.get("metrics", {}).items():
                if stats.get("snapshot_id") == m["snapshot_id"]:
                    rows.append(
                        {
                            "partition": part,
                            "snapshot_id": m["snapshot_id"],
                            "n_files": stats["n_files"],
                            "n_rows": stats.get("n_rows"),
                            "bytes": stats["bytes"],
                            "write_seconds": stats["write_seconds"],
                        }
                    )
        return spark.createDataFrame(
            rows or [],
            "partition string, snapshot_id string, n_files long, n_rows long, "
            "bytes long, write_seconds double",
        )


def run_resumable(
    store: SnapshotStore,
    partition_keys: Iterable[str],
    build_partition,
    watermark: str | None = None,
) -> tuple[str | None, list[str]]:
    """Resume-aware driver loop: build only partitions missing from HEAD,
    commit them as one snapshot. Returns (snapshot_id, built_partitions);
    snapshot_id is None when everything was already committed."""
    done = store.completed_partitions()
    todo = [k for k in partition_keys if k not in done]
    if not todo:
        return None, []
    built = {k: build_partition(k) for k in todo}
    snapshot_id = store.commit_partitions(built, watermark=watermark)
    return snapshot_id, todo
