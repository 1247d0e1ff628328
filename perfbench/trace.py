"""Per-layer tracing for the traced benchmark run.

The engine source is not touched: :meth:`Tracer.install` wraps, at runtime,
the public entry points of each layer module (``pipeline``'s
``run_pipeline``/``refresh_pipeline``/``purge_url``/``read_lang_state_tier``,
the ``SnapshotStore`` verbs, and every operator function the operators
package exports from a layer module). Each call inside a measured operation
becomes a *span* that sets its own Spark job group, so every Spark job is
owned by exactly one span.

Attribution rules:

- lazy operators run inside whichever span forces them; a DataFrame an
  operator returns is forced *as that operator* when the caller acts on it
  directly (``window_segmentor_changepoints(...).count()`` is ``detect``);
- a commit write job belongs to its partition family's layer
  (``tier1h/`` -> rollup, ``sig/`` -> changescore, ...), not to snapshots;
- jobs an operation runs outside any span count as unattributed.

After the session stops, :meth:`Tracer.finish` parses Spark's event log
into per-stage records, joins them to the spans by job group, and returns
the per-layer metrics. The records are written as JSON beside the results.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import glob
import inspect
import json
import os
import re
import statistics
import time

from streamchange_spark.operators.rollup import interval_seconds

#: Operator and store layers, in report order.
LAYERS = (
    "pipeline", "snapshots", "rollup", "gapfill", "gorilla", "qsketch", "kmv",
    "statsagg", "stateagg", "changescore", "detect",
)
#: operators/<module>.py -> layer.
MODULE_LAYER = {
    "rollup": "rollup", "gapfill": "gapfill", "gorilla": "gorilla",
    "qsketch": "qsketch", "kmv": "kmv", "statsagg": "statsagg",
    "stateagg": "stateagg", "changescore": "changescore",
    "detect": "detect", "_grouped": "detect",
}
#: Committed partition family -> the layer whose operator produced it.
FAMILY_LAYER = {
    "tier1h": "rollup", "gorilla1h": "gorilla", "qsketch1h": "qsketch",
    "kmv1h": "kmv", "stats1h": "statsagg", "staterun": "stateagg",
    "sig": "changescore",
}
PIPELINE_FNS = ("run_pipeline", "refresh_pipeline", "purge_url", "read_lang_state_tier")
STORE_VERBS = (
    "commit_partitions", "read", "merge_into", "delete_where", "update_where",
    "delete_keys", "maintain", "expire_snapshots",
)
DML_VERBS = ("merge_into", "delete_where", "update_where", "delete_keys", "maintain")
WRITE_VERBS = ("commit_partitions", "expire_snapshots") + DML_VERBS
#: DataFrame actions that force an operator's returned DataFrame.
ACTIONS = ("count", "collect", "first", "take", "head", "toPandas")
_FAMILY_PATH = re.compile(r"/data/[^/]+/(" + "|".join(FAMILY_LAYER) + r")/")

_LAYER_GENERIC = (
    ("self_s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("tasks", "count", "lower"),
    ("task_max_s", "s", "lower"),
    ("task_p50_s", "s", "lower"),
    ("shuffle_bytes", "B", "lower"),
)
_LAYER_SPECIFIC = (
    ("detect.python_tasks", "count", "higher"),
    ("detect.python_rows_in", "rows", "lower"),
    ("detect.python_bytes_in", "B", "lower"),
    ("gapfill.rows_in", "rows", "lower"),
    ("gapfill.rows_out", "rows", "lower"),
    ("gorilla.bytes_per_point", "B/point", "lower"),
    ("kmv.window_rows", "rows", "lower"),
    ("snapshots.commit_jobs", "count", "lower"),
    ("snapshots.files_written", "count", "lower"),
    ("snapshots.bytes_written", "B", "lower"),
    ("snapshots.files_opened", "count", "lower"),
    ("snapshots.files_skipped", "count", "higher"),
    ("snapshots.dml_touched_files", "count", "lower"),
    ("snapshots.dml_rewritten_bytes", "B", "lower"),
    ("kernels.points_per_s", "points/s", "higher"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("host.calibration_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.unattributed_s", "s", "lower"),
)
#: Workload-level figures the traced run also reports (0 on a workload
#: that does not run the operation).
_WORKLOAD = (
    ("workload.build_rows_per_s", "rows/s", "higher"),
    ("workload.refresh_s", "s", "lower"),
    ("workload.dml_s", "s", "lower"),
    ("workload.dml_write_bytes", "B", "lower"),
    ("workload.query_p50_s", "s", "lower"),
    ("workload.query_p90_s", "s", "lower"),
)
#: Every per-layer metric: (name, unit, better).
PER_LAYER = tuple(
    (f"{layer}.{m}", u, b) for layer in LAYERS for m, u, b in _LAYER_GENERIC
) + _LAYER_SPECIFIC + _WORKLOAD


class NullTracer:
    """The untraced run: every hook is a no-op."""

    def span(self, layer, name):
        return contextlib.nullcontext()

    def op(self):
        return contextlib.nullcontext()

    def install(self):
        pass

    def uninstall(self):
        pass


class _Span:
    __slots__ = ("id", "parent", "layer", "name", "t0", "t1", "child_s")

    def __init__(self, sid, parent, layer, name):
        self.id, self.parent, self.layer, self.name = sid, parent, layer, name
        self.t0 = self.t1 = None
        self.child_s = 0.0


def _merge(ivs):
    out = []
    for a, b in sorted(ivs):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _subtract(ivs, cuts):
    """Intervals ``ivs`` minus the merged, sorted intervals ``cuts``."""
    starts = [c[0] for c in cuts]
    out = []
    for a, b in ivs:
        cur = a
        i = max(0, bisect.bisect_right(starts, a) - 1)
        while i < len(cuts) and cuts[i][0] < b:
            c, d = cuts[i]
            if d > cur:
                if c > cur:
                    out.append((cur, min(c, b)))
                cur = max(cur, d)
            i += 1
        if cur < b:
            out.append((cur, b))
    return out


def parquet_sizes(path: str) -> dict[str, int]:
    """Path -> size of every parquet file under ``path``."""
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


class Tracer:
    """Spans around layer entry points, one Spark job group per span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[_Span] = []
        self.ops: list[tuple[float, float, float]] = []  # (t0, t1, top-span s)
        self._stack: list[_Span] = []
        self._active = False
        self._saved: list[tuple[object, str, object]] = []
        self._pending: list[tuple] = []
        self.overhead_s = 0.0
        self.count = dict.fromkeys(
            ("gapfill.rows_in", "gapfill.rows_out", "kmv.window_rows",
             "snapshots.files_written", "snapshots.bytes_written",
             "snapshots.files_opened", "snapshots.files_skipped",
             "snapshots.dml_touched_files", "snapshots.dml_rewritten_bytes"),
            0,
        )

    # -- installation --------------------------------------------------------
    def _patch(self, owner, name, layer):
        fn = getattr(owner, name)
        self._saved.append((owner, name, fn))
        setattr(owner, name, self._wrap(fn, layer, name))

    def install(self):
        from pyspark.sql.readwriter import DataFrameWriter

        from streamchange_spark import operators, pipeline
        from streamchange_spark.sources.snapshots import SnapshotStore

        for name in PIPELINE_FNS:
            self._patch(pipeline, name, "pipeline")
        for name in sorted(vars(operators)):
            fn = getattr(operators, name)
            mod = getattr(fn, "__module__", "") or ""
            if not inspect.isfunction(fn) or not mod.startswith("streamchange_spark.operators."):
                continue
            layer = MODULE_LAYER.get(mod.rsplit(".", 1)[1])
            if layer is None:
                continue
            self._patch(operators, name, layer)
            if getattr(pipeline, name, None) is fn:
                self._patch(pipeline, name, layer)
        for name in STORE_VERBS:
            self._patch(SnapshotStore, name, "snapshots")
        files_for = SnapshotStore.files_for
        self._saved.append((SnapshotStore, "files_for", files_for))
        SnapshotStore.files_for = self._wrap_files_for(files_for)
        parquet = DataFrameWriter.parquet
        self._saved.append((DataFrameWriter, "parquet", parquet))
        DataFrameWriter.parquet = self._wrap_family_write(parquet)

    def uninstall(self):
        for owner, name, fn in reversed(self._saved):
            setattr(owner, name, fn)
        self._saved.clear()

    # -- spans ---------------------------------------------------------------
    def _set_group(self, group: str, desc: str):
        self.sc.setJobGroup(group, desc, False)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self._active:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = _Span(len(self.spans), parent.id if parent else None, layer, name)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(f"pb{sp.id}", f"{layer}:{name}")
        sp.t0 = time.time()
        inner = time.perf_counter()
        try:
            yield sp
        finally:
            inner = time.perf_counter() - inner
            sp.t1 = time.time()
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.t1 - sp.t0
                self._set_group(f"pb{parent.id}", f"{parent.layer}:{parent.name}")
            else:
                self._set_group(self._op_group, "op")
            self.overhead_s += time.perf_counter() - t_in - inner

    def _in(self, names) -> bool:
        """True when a span named in ``names`` is open."""
        return any(s.name in names for s in self._stack)

    def _wrap(self, fn, layer, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer._active:
                return fn(*a, **kw)
            t_in = time.perf_counter()
            store_dir = None
            if name in WRITE_VERBS and not tracer._in(WRITE_VERBS):
                store_dir = os.path.join(a[0].table_dir, "data")
                before = parquet_sizes(store_dir)
            top_dml = name in DML_VERBS and not tracer._in(DML_VERBS)
            tracer.overhead_s += time.perf_counter() - t_in
            with tracer.span(layer, name):
                out = fn(*a, **kw)
            t_out = time.perf_counter()
            if store_dir is not None:
                new = {
                    p: s for p, s in parquet_sizes(store_dir).items() if p not in before
                }
                tracer.count["snapshots.files_written"] += len(new)
                tracer.count["snapshots.bytes_written"] += sum(new.values())
                if name in DML_VERBS:
                    tracer.count["snapshots.dml_rewritten_bytes"] += sum(new.values())
            if top_dml and isinstance(out, tuple) and isinstance(out[-1], dict):
                tracer.count["snapshots.dml_touched_files"] += int(
                    out[-1].get("touched_files", 0)
                )
            if name == "gapfill":
                tracer._pending.append(("gapfill", a[0], out, 1))
            elif name == "kmv_hopping":
                call = inspect.signature(fn).bind(*a, **kw)
                call.apply_defaults()
                hop = call.arguments
                windows = interval_seconds(hop["width"]) // interval_seconds(hop["slide"])
                tracer._pending.append(("kmv", a[0], None, int(windows)))
            tracer._hook_actions(out, layer, name)
            tracer.overhead_s += time.perf_counter() - t_out
            return out

        return wrapper

    def _hook_actions(self, out, layer, name):
        """Make a direct action on an operator's returned DataFrame run as
        that operator's span."""
        from pyspark.sql import DataFrame

        if not isinstance(out, DataFrame):
            return
        tracer = self

        def hook(act):
            method = getattr(out, act)

            @functools.wraps(method)
            def forced(*a, **kw):
                with tracer.span(layer, f"{name}.{act}"):
                    return method(*a, **kw)

            return forced

        for act in ACTIONS:
            setattr(out, act, hook(act))

    def _wrap_files_for(self, fn):
        tracer = self

        @functools.wraps(fn)
        def files_for(store, snapshot_id=None, prefix=None, ranges=None, eq=None):
            kept = fn(store, snapshot_id, prefix, ranges, eq)
            if tracer._active:
                t_in = time.perf_counter()
                tracer.count["snapshots.files_opened"] += len(kept)
                if ranges or eq:
                    every = fn(store, snapshot_id, prefix)
                    tracer.count["snapshots.files_skipped"] += len(every) - len(kept)
                tracer.overhead_s += time.perf_counter() - t_in
            return kept

        return files_for

    def _wrap_family_write(self, fn):
        tracer = self

        @functools.wraps(fn)
        def parquet(writer, path, *a, **kw):
            m = _FAMILY_PATH.search(path) if tracer._active else None
            if m is None or not tracer._in(("commit_partitions",)):
                return fn(writer, path, *a, **kw)
            with tracer.span(FAMILY_LAYER[m.group(1)], "write:" + m.group(1)):
                return fn(writer, path, *a, **kw)

        return parquet

    @contextlib.contextmanager
    def op(self):
        """One measured operation: spans are recorded only inside it,
        and only once the wrappers are installed (set-up is not traced)."""
        if not self._saved:
            yield
            return
        self._op_group = f"pbop{len(self.ops)}"
        self._set_group(self._op_group, "op")
        first_span = len(self.spans)
        self._active = True
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._active = False
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            top = sum(
                s.t1 - s.t0 for s in self.spans[first_span:] if s.parent is None
            )
            self.ops.append((t0, t1, top))
            self._count_pending()

    def _count_pending(self):
        """Row counts of gapfill and hopping inputs/outputs the operation
        built, run after it so they stay out of its timing and job groups."""
        for kind, df_in, df_out, factor in self._pending:
            if kind == "gapfill":
                self.count["gapfill.rows_in"] += df_in.count()
                self.count["gapfill.rows_out"] += df_out.count()
            else:
                self.count["kmv.window_rows"] += df_in.count() * factor
        self._pending.clear()

    # -- results -------------------------------------------------------------
    def finish(self, events_dir: str, records_path: str, extra: dict) -> dict:
        """Parse the event log, write the records JSON, return the
        per-layer metrics as ``{name: (value, unit)}``."""
        stages, tasks = parse_event_log(events_dir)
        by_group = {f"pb{s.id}": s for s in self.spans}

        def layer_of(group):
            sp = by_group.get(group)
            return sp.layer if sp else None

        def in_commit(group):
            sp = by_group.get(group)
            while sp is not None:
                if sp.name == "commit_partitions":
                    return True
                sp = self.spans[sp.parent] if sp.parent is not None else None
            return False

        ours = {sid: st for sid, st in stages.items() if (st["group"] or "").startswith("pb")}
        for st in ours.values():
            st["layer"] = layer_of(st["group"])
        ours_tasks = [t for t in tasks if t["stage"] in ours]
        busy = _merge([(t["launch"], t["finish"]) for t in ours_tasks])

        kids: dict[int, list] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.t0, s.t1))
        m: dict[str, float] = {}
        for layer in LAYERS:
            spans = [s for s in self.spans if s.layer == layer]
            m[f"{layer}.self_s"] = sum(s.t1 - s.t0 - s.child_s for s in spans)
            driver = 0.0
            for s in spans:
                own = _subtract([(s.t0, s.t1)], _merge(kids.get(s.id, [])))
                driver += sum(b - a for a, b in _subtract(own, busy))
            m[f"{layer}.driver_s"] = driver
            lt = [t for t in ours_tasks if ours[t["stage"]]["layer"] == layer]
            durs = [t["finish"] - t["launch"] for t in lt]
            m[f"{layer}.tasks"] = len(lt)
            m[f"{layer}.task_max_s"] = max(durs, default=0.0)
            m[f"{layer}.task_p50_s"] = statistics.median(durs) if durs else 0.0
            m[f"{layer}.shuffle_bytes"] = sum(t["shuffle_write"] for t in lt)

        py = [st for st in ours.values() if st["layer"] == "detect" and st["python"]]
        m["detect.python_tasks"] = min((st["tasks"] for st in py), default=0)
        m["detect.python_rows_in"] = sum(st["rows_in"] for st in py)
        m["detect.python_bytes_in"] = sum(st["python_bytes_in"] for st in py)
        m.update(self.count)
        m["snapshots.commit_jobs"] = len(
            {st["job"] for st in ours.values() if in_commit(st["group"])}
        )
        m["spark.jobs"] = len({st["job"] for st in ours.values()})
        m["spark.tasks"] = len(ours_tasks)
        m["spark.spill_bytes"] = sum(t["spill"] for t in ours_tasks)
        m["spark.gc_s"] = sum(t["gc_s"] for t in ours_tasks)
        m["trace.overhead_s"] = self.overhead_s
        m["trace.unattributed_s"] = sum(t1 - t0 - top for t0, t1, top in self.ops)
        m.update(extra)

        with open(records_path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {
                            "id": s.id, "parent": s.parent, "layer": s.layer,
                            "name": s.name, "t0": s.t0, "t1": s.t1,
                            "self_s": s.t1 - s.t0 - s.child_s,
                        }
                        for s in self.spans
                    ],
                    "stages": sorted(ours.values(), key=lambda st: st["stage"]),
                    "metrics": m,
                },
                f,
                indent=1,
            )
        return {name: (m.get(name, 0), unit) for name, unit, _ in PER_LAYER}


def parse_event_log(events_dir: str) -> tuple[dict, list]:
    """Per-stage records (job group, task count, Python-node figures,
    rows read) and per-task records (interval, shuffle, spill, GC) from
    the uncompressed event log Spark wrote into ``events_dir``."""
    (path,) = glob.glob(os.path.join(events_dir, "*"))
    stage_job, job_group = {}, {}
    stages, tasks = {}, []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                job_group[e["Job ID"]] = e.get("Properties", {}).get("spark.jobGroup.id")
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                sid = info["Stage ID"]
                job = stage_job.get(sid)
                stages[sid] = {
                    "stage": sid,
                    "job": job,
                    "group": job_group.get(job),
                    "name": info.get("Stage Name", ""),
                    "tasks": info["Number of Tasks"],
                    "python": "data sent to Python workers" in acc,
                    "python_bytes_in": int(acc.get("data sent to Python workers") or 0),
                    "rows_in": 0,
                }
            elif ev == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                rows = (tm.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0) + (
                    tm.get("Input Metrics") or {}
                ).get("Records Read", 0)
                tasks.append({
                    "stage": e["Stage ID"],
                    "launch": ti["Launch Time"] / 1000.0,
                    "finish": ti["Finish Time"] / 1000.0,
                    "rows_in": rows,
                    "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                })
    for t in tasks:
        if t["stage"] in stages:
            stages[t["stage"]]["rows_in"] += t["rows_in"]
    return stages, tasks
