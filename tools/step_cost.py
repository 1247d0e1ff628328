"""Per-step cost of the perfbench crawl_build cycle, cold and warm.

Sets up perfbench's ``crawl_build`` workload on the session perfbench
itself starts (``local[4]``, the same JVM flags) with Spark's event log on,
then runs two whole cycles: cycle 0 is the cold one a 15 s perfbench window
measures, cycle 1 the same steps on a warm JVM. Each step runs in its own
job group.

Prints one JSON line per (cycle, step), then one ``"step": "cycle"`` line
per cycle summing its steps:

- ``s``: the step's latency as the workload times it;
- ``sql``: SQL executions that ran a Spark job in the step, and ``jobs``:
  its Spark jobs (both from the event log, by job group);
- ``snapshots``: snapshots the step committed to the store;
- ``jvm_jit_s``, ``jvm_task_s``, ``jvm_other_s``: JVM CPU seconds (user +
  system) of the JIT compiler threads, of the executor task threads, and
  of every other thread (driver, GC, shuffle, listeners), read from
  ``/proc/<jvm>/task/*/stat`` every 0.1 s so threads that end still
  count;
- ``py_s``: CPU seconds of the PySpark Python workers (the JVM's Python
  descendants, with the CPU of the workers they reaped).

Usage: python tools/step_cost.py [--seed 1]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import threading
import time

_ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, _ROOT)
# workers inherit PYTHONPATH, and must import the engine to unpickle stages
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_ROOT, os.environ.get("PYTHONPATH", "")) if p
)
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ["TZ"] = "UTC"
time.tzset()

from perfbench import trace, workloads  # noqa: E402
from perfbench.run import _start_spark, _stop_spark  # noqa: E402
from streamchange_spark.sources.snapshots import SnapshotStore  # noqa: E402

_TICK = os.sysconf("SC_CLK_TCK")
#: Native thread-name prefixes (Linux keeps 15 characters) of the JIT
#: compiler threads and of Spark's executor task threads.
_JIT = ("C1 CompilerThre", "C2 CompilerThre")
_TASK = "Executor task l"


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a ``/proc/.../stat`` file."""
    with open(path) as f:
        raw = f.read()
    head, rest = raw.rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def _cpu(fields: list[str], children: bool = False) -> float:
    """utime + stime (+ cutime + cstime) in seconds."""
    n = 4 if children else 2
    return sum(int(v) for v in fields[11:11 + n]) / _TICK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids.setdefault(int(_stat(f"/proc/{d}/stat")[1][1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return kids


def find_jvm(root: int) -> int:
    """The pid of the first ``java`` process at or below ``root``."""
    kids, frontier = _children(), [root]
    while frontier:
        pid = frontier.pop(0)
        try:
            if _stat(f"/proc/{pid}/stat")[0] == "java":
                return pid
        except OSError:
            pass
        frontier += kids.get(pid, [])
    raise RuntimeError("no JVM below this process")


class CpuSampler:
    """Cumulative CPU seconds of the JVM, split by thread kind, and of the
    JVM's Python descendants. HotSpot starts and stops compiler threads as
    the compile queue grows and drains, and a thread's CPU leaves
    ``/proc/<jvm>/task`` with it, so a background thread samples every
    thread every ``period_s`` and keeps the last value seen per thread:
    a thread that ends loses at most one period of CPU."""

    def __init__(self, jvm: int, period_s: float = 0.1):
        self.jvm = jvm
        self.period_s = period_s
        self.threads: dict[tuple[str, str], tuple[str | None, float]] = {}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self.period_s):
            self._scan()

    def _scan(self):
        for path in glob.glob(f"/proc/{self.jvm}/task/*/stat"):
            try:
                comm, fields = _stat(path)
            except OSError:
                continue  # the thread ended
            kind = (
                "jvm_jit_s" if comm.startswith(_JIT)
                else "jvm_task_s" if comm.startswith(_TASK)
                else None
            )
            # (tid, start time): a tid can be reused by a later thread
            with self._lock:
                self.threads[(path, fields[19])] = (kind, _cpu(fields))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def sample(self) -> dict[str, float]:
        self._scan()
        out = dict.fromkeys(("jvm_jit_s", "jvm_task_s", "jvm_other_s", "py_s"), 0.0)
        with self._lock:
            for kind, cpu in self.threads.values():
                if kind:
                    out[kind] += cpu
        total = _cpu(_stat(f"/proc/{self.jvm}/stat")[1])
        out["jvm_other_s"] = total - out["jvm_jit_s"] - out["jvm_task_s"]
        kids = _children()
        frontier = list(kids.get(self.jvm, []))
        while frontier:
            pid = frontier.pop()
            try:
                comm, fields = _stat(f"/proc/{pid}/stat")
            except OSError:
                continue
            if comm.startswith("python"):
                out["py_s"] += _cpu(fields, children=True)
            frontier += kids.get(pid, [])
        return out


def sql_and_jobs(events_dir: str) -> dict[str, tuple[int, int]]:
    """Job group -> (SQL executions that ran a job, jobs), from the event
    log."""
    (path,) = glob.glob(os.path.join(events_dir, "*"))
    execs: dict[str, set] = {}
    jobs: dict[str, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            if e["Event"] != "SparkListenerJobStart":
                continue
            props = e.get("Properties", {})
            group = props.get("spark.jobGroup.id")
            jobs[group] = jobs.get(group, 0) + 1
            execs.setdefault(group, set()).add(props.get("spark.sql.execution.id"))
    return {g: (len(execs[g] - {None}), n) for g, n in jobs.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="step_cost-")
    events = os.path.join(work, "events")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(TMPDIR=os.path.join(work, "tmp"),
                      SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    commits = [0]
    commit = SnapshotStore._commit_manifest

    def counted(store, manifest):
        commit(store, manifest)
        commits[0] += 1

    SnapshotStore._commit_manifest = counted
    spark = _start_spark(work, 4, events)
    rows = []
    try:
        wl = workloads.CrawlBuild(spark, work, args.seed, 4, trace.NullTracer())
        sc = spark.sparkContext
        with CpuSampler(find_jvm(sc._gateway.proc.pid)) as cpu:
            for cycle in (0, 1):
                for step in wl.CYCLE:
                    sc.setJobGroup(f"{cycle}:{step}", step)
                    before, n0 = cpu.sample(), commits[0]
                    kind, sec, ok = wl.step()
                    after = cpu.sample()
                    assert kind == step
                    rows.append({
                        "cycle": cycle, "step": step, "ok": ok, "s": sec,
                        "snapshots": commits[0] - n0,
                        **{k: after[k] - before[k] for k in after},
                    })
        sc.setJobGroup("", "")
    finally:
        SnapshotStore._commit_manifest = commit
        _stop_spark(spark)
    counts = sql_and_jobs(events)
    shutil.rmtree(work, ignore_errors=True)

    keys = ("s", "sql", "jobs", "snapshots", "jvm_jit_s", "jvm_task_s",
            "jvm_other_s", "py_s")
    for cycle in (0, 1):
        total = dict.fromkeys(keys, 0)
        for row in (r for r in rows if r["cycle"] == cycle):
            row["sql"], row["jobs"] = counts.get(f"{cycle}:{row['step']}", (0, 0))
            for k in keys:
                total[k] += row[k]
            print(json.dumps({k: round(v, 2) if isinstance(v, float) else v
                              for k, v in row.items()}))
        print(json.dumps({"cycle": cycle, "step": "cycle",
                          **{k: round(v, 2) for k, v in total.items()}}))


if __name__ == "__main__":
    main()
