"""Python-worker overhead per task, independent of data size.

Runs a trivial ``mapInPandas`` stage (4 one-row tasks) ``--stages`` times on
``get_spark(master="local[4]")``. The stage function references an engine
module, so unpickling it imports ``streamchange_spark`` in the worker, the
way every engine UDF does. One warm-up stage starts the daemon and workers
before anything is measured.

Prints one JSON line:

- ``worker_core_s_per_task``: CPU seconds (utime + stime + cutime + cstime
  from ``/proc/<pid>/stat``) of the JVM's live descendant processes, i.e.
  the pyspark daemon and its workers, over the measured stages, divided by
  their task count;
- ``zip_reads_per_call``: inside one worker, the number of
  ``zipimport._read_directory`` calls made by a repeated
  ``importlib.invalidate_caches()`` (the call pyspark makes at the start of
  every task); ``zipimporters`` is how many the worker holds;
- ``worker_python`` and ``pyspark_from_zip``: the worker's ``sys.version``
  and whether it imported pyspark from a zip archive.

Usage: python tools/py_task_cost.py [--stages 20]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, _ROOT)
# workers inherit PYTHONPATH, and must import the engine to unpickle stages
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_ROOT, os.environ.get("PYTHONPATH", "")) if p
)

import pandas as pd  # noqa: E402

import streamchange_spark  # noqa: E402
from streamchange_spark.session import get_spark  # noqa: E402

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime + stime + cutime + cstime in clock ticks)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state (field 3); ppid is field 4, times 14-17
        out[int(name)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    return out


def _descendants_cpu_s(root: int) -> float:
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, list(children.get(root, []))
    while stack:
        pid = stack.pop()
        total += table[pid][1]
        stack.extend(children.get(pid, []))
    return total / _TICK


def _jvm_pid() -> int:
    me = os.getpid()
    for pid, (ppid, _) in _proc_table().items():
        if ppid == me:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
    raise RuntimeError("no java child of this process")


def _trivial(batches):
    version = streamchange_spark.__version__  # an engine global: imports it
    for pdf in batches:
        yield pdf.assign(v=len(version))


def _zip_probe(batches):
    import importlib
    import zipimport

    assert streamchange_spark.__version__
    importlib.invalidate_caches()
    reads = [0]
    original = zipimport._read_directory

    def counting(archive):
        reads[0] += 1
        return original(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = original
    import pyspark

    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    ]
    for _ in batches:
        pass
    yield pd.DataFrame({
        "reads": [reads[0]],
        "zipimporters": [len(importers)],
        "version": [sys.version],
        "from_zip": [".zip" in pyspark.__file__],
    })


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stages", type=int, default=20)
    args = ap.parse_args()

    spark = get_spark(master="local[4]")
    jvm = _jvm_pid()
    df = spark.range(0, 4, numPartitions=4)
    stage = df.mapInPandas(_trivial, "id long, v long")
    stage.collect()  # warm-up: starts the daemon and the workers
    before = _descendants_cpu_s(jvm)
    for _ in range(args.stages):
        stage.collect()
    cpu_s = _descendants_cpu_s(jvm) - before
    tasks = args.stages * df.rdd.getNumPartitions()

    probe = spark.range(0, 1, numPartitions=1).mapInPandas(
        _zip_probe,
        "reads long, zipimporters long, version string, "
        "from_zip boolean",
    ).collect()[0]
    print(json.dumps({
        "stages": args.stages,
        "tasks": tasks,
        "worker_core_s_per_task": round(cpu_s / tasks, 4),
        "zip_reads_per_call": int(probe["reads"]),
        "zipimporters": int(probe["zipimporters"]),
        "worker_python": probe["version"],
        "pyspark_from_zip": bool(probe["from_zip"]),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
