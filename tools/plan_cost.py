"""Driver-side plan cost of each perfbench tier_queries kind.

Sets up perfbench's ``tier_queries`` workload (seeded pages, one cold
``run_pipeline`` into a temporary store, every kind run once to warm up) on
``get_spark(master="local[4]")`` with Spark's event log on, then runs
``--passes`` passes over the ten kinds. Each query is forced the way the
workload forces it (an ``Observation`` digest and a ``noop`` write), in its
own job group.

Prints one JSON line per kind, then one ``"kind": "pass"`` line summing
the kinds, with medians over the passes of:

- ``build_ms``: wall time of building the query's DataFrame (the
  workload's ``_query``; no Spark job runs in it);
- ``rt``: the build's Py4J round trips, counted on every
  ``ClientServerConnection.send_command`` and split into ``calls`` (method
  and constructor calls), ``lookups`` (``r`` class/member lookups),
  ``deletes`` (``m d`` deletes of Python-freed JVM objects, sent by py4j's
  finalizer thread and counted until its queue drains after the build)
  and ``other``;
- ``plan_ms``: from the event log, the time from the end of the build to
  the submission of the forcing write's first Spark job (analysis,
  optimisation and physical planning);
- ``gap_ms``: the summed idle time between one job's completion and the
  next job's submission (AQE re-planning between stages);
- ``jobs``: Spark jobs of the forcing write.

Usage: python tools/plan_cost.py [--seed 1] [--passes 3]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
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

from py4j.clientserver import ClientServerConnection  # noqa: E402

from perfbench import trace, workloads  # noqa: E402
from streamchange_spark.session import get_spark  # noqa: E402


class RoundTrips:
    """Counts Py4J commands by kind while ``active``, on every thread."""

    def __init__(self):
        self.active = False
        self.counts = dict.fromkeys(("calls", "lookups", "deletes", "other"), 0)
        self._send = ClientServerConnection.send_command
        counter = self

        def send_command(conn, command):
            if counter.active:
                head = command[:4]
                kind = (
                    "calls" if head[:2] in ("c\n", "i\n")
                    else "lookups" if head[:2] == "r\n"
                    else "deletes" if head == "m\nd\n"
                    else "other"
                )
                counter.counts[kind] += 1
            return counter._send(conn, command)

        ClientServerConnection.send_command = send_command

    def restore(self):
        ClientServerConnection.send_command = self._send

    @staticmethod
    def drain(spark):
        """Wait until py4j's finalizer thread has sent every queued delete."""
        queue = spark.sparkContext._gateway._gateway_client.finalizer_deque
        deadline = time.time() + 2.0
        while queue and time.time() < deadline:
            time.sleep(0.005)
        time.sleep(0.02)  # the last popped delete is in flight

    def start(self, spark):
        """Count from here; deletes of earlier objects are sent first."""
        self.drain(spark)
        for k in self.counts:
            self.counts[k] = 0
        self.active = True

    def stop(self, spark) -> dict:
        self.drain(spark)
        self.active = False
        return dict(self.counts, rt=sum(self.counts.values()))


def job_times(events_dir: str) -> dict[str, list[tuple[float, float]]]:
    """Job group -> [(submission, completion)] in ms, from the event log."""
    (path,) = glob.glob(os.path.join(events_dir, "*"))
    group, submit, done = {}, {}, {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            if e["Event"] == "SparkListenerJobStart":
                group[e["Job ID"]] = e.get("Properties", {}).get("spark.jobGroup.id")
                submit[e["Job ID"]] = e["Submission Time"]
            elif e["Event"] == "SparkListenerJobEnd":
                done[e["Job ID"]] = e["Completion Time"]
    out: dict[str, list] = {}
    for job in sorted(submit):
        out.setdefault(group[job], []).append((submit[job], done.get(job, submit[job])))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="plan_cost-")
    events = os.path.join(work, "events")
    os.makedirs(events)
    spark = get_spark(
        app_name="plan_cost",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    rt = RoundTrips()
    rows: dict[str, list[dict]] = {}  # kind -> one row per pass
    try:
        wl = workloads.TierQueries(spark, work, args.seed, 4, trace.NullTracer())
        build = wl._query

        def timed_build(kind):
            rt.start(spark)
            t0 = time.perf_counter()
            df = build(kind)
            ms = (time.perf_counter() - t0) * 1e3
            row = rt.stop(spark)
            row.update(build_ms=ms, end_ms=time.time() * 1e3)
            rows.setdefault(kind, []).append(row)
            return df

        wl._query = timed_build
        for p in range(args.passes):
            for kind in wl.order:
                spark.sparkContext.setJobGroup(f"{p}:{kind}", kind)
                wl._force(kind)
        spark.sparkContext.setJobGroup("", "")
    finally:
        rt.restore()
        spark.stop()
    jobs = job_times(events)
    shutil.rmtree(work, ignore_errors=True)

    def med(kind, key):
        return statistics.median(r[key] for r in rows[kind])

    keys = ("build_ms", "rt", "calls", "lookups", "deletes", "other")
    total = dict.fromkeys(keys + ("plan_ms", "gap_ms", "jobs"), 0)
    for kind in wl.order:
        out = {"kind": kind, **{k: med(kind, k) for k in keys}}
        plans, gaps, njobs = [], [], []
        for p in range(args.passes):
            js = jobs.get(f"{p}:{kind}", [])
            njobs.append(len(js))
            plans.append(js[0][0] - rows[kind][p]["end_ms"] if js else 0.0)
            gaps.append(sum(max(0, b[0] - a[1]) for a, b in zip(js, js[1:])))
        out.update(
            plan_ms=statistics.median(plans),
            gap_ms=statistics.median(gaps),
            jobs=statistics.median(njobs),
        )
        for k in total:
            total[k] += out[k]
        print(json.dumps({k: round(v, 1) if isinstance(v, float) else v
                          for k, v in out.items()}))
    print(json.dumps({"kind": "pass", **{k: round(v, 1) for k, v in total.items()}}))


if __name__ == "__main__":
    main()
