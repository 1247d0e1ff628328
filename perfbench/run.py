"""Benchmark entry point: one workload, one seed, one measured window.

Run from the repository root:

    python3 perfbench/run.py --workload tier_queries --seed 1 --seconds 15 --trace 0

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run, and
the span/stage/task records are also written as JSON beside the results
(``--records``). Exits non-zero, printing no result line, when the engine
package is missing. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

PERFBENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERFBENCH)

#: Core count of the local Spark master, capped so runs on bigger hosts
#: measure the same shape.
MAX_CPUS = 4


def _descendants(root_pid: int) -> dict[int, str]:
    """pid -> cmdline of every live descendant of ``root_pid``."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = {}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in out:
                try:
                    with open(f"/proc/{c}/cmdline", "rb") as f:
                        out[c] = f.read().replace(b"\0", b" ").decode(errors="replace")
                except OSError:
                    continue
                frontier.append(c)
    return out


class RssSampler:
    """Peak summed resident memory of this process's PySpark Python
    workers, sampled from /proc while the measured window runs."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        total = 0
        for pid, cmd in _descendants(os.getpid()).items():
            if "pyspark" in cmd and ("daemon" in cmd or "worker" in cmd):
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except OSError:
                    continue
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._sample())


def _start_spark(work: str, cpus: int, event_log: str | None):
    from streamchange_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": (
            "-Xms1g -XX:+AlwaysPreTouch -XX:+UseParallelGC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # The gateway JVM exits when its stdin closes.
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def calibrate(spark) -> float:
    """A fixed CPU-only Spark query; its time tracks how fast the host runs
    right now, independent of the engine."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 30_000_000, 1, spark.sparkContext.defaultParallelism).select(
        F.sum(F.xxhash64("id") % 1000)
    ).collect()
    return time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--records", default=None,
                    help="traced runs: write span/stage records JSON here "
                         "(default: perfbench-trace-<workload>-<seed>.json)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "streamchange_spark")):
        print("perfbench: streamchange_spark/ not found beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        TZ="UTC",
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    )
    time.tzset()

    spark = None
    try:
        t_setup = time.perf_counter()
        spark = _start_spark(
            work, cpus, os.path.join(work, "events") if args.trace else None
        )
        tracer = trace.Tracer(spark) if args.trace else trace.NullTracer()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, cpus, tracer)
        setup_s = time.perf_counter() - t_setup
        calibration_s = calibrate(spark)

        lat, failed = [], 0
        tracer.install()
        with RssSampler() as rss:
            t0 = time.perf_counter()
            while (
                not lat
                or time.perf_counter() - t0 < args.seconds
                or wl.mid_cycle()
            ):
                _, sec, ok = wl.step()
                lat.append(sec)
                failed += not ok
            window_s = time.perf_counter() - t0
        tracer.uninstall()

        detail = wl.detail()
        print(json.dumps({"detail": {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus,
            "input_rows": wl.input_rows,
            "ops": len(lat),
            "window_s": window_s,
            "error_rate": failed / len(lat),
            "host.calibration_s": calibration_s,
            "kernels.points_per_s": wl.kernel["points_per_s"],
            **detail,
        }}), flush=True)
        metrics = {
            "setup_s": (setup_s, "s"),
            "cycle_s": (detail["cycle_s"], "s"),
            "op_p50_s": (workloads.pct(lat, 50), "s"),
            "store_bytes_per_row": (detail["store_bytes_per_row"], "B/row"),
            "py_peak_rss_mb": (rss.peak / 2**20, "MB"),
        }
        extra = {
            "kernels.points_per_s": wl.kernel["points_per_s"],
            "host.calibration_s": calibration_s,
            "gorilla.bytes_per_point": detail["gorilla.bytes_per_point"],
            **{
                "workload." + k: detail[k]
                for k in ("build_rows_per_s", "refresh_s", "dml_s",
                          "dml_write_bytes", "query_p50_s", "query_p90_s")
                if k in detail
            },
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        if not args.trace:
            shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        # The event log is complete only once the session has stopped.
        try:
            metrics = tracer.finish(
                os.path.join(work, "events"),
                args.records or os.path.join(
                    ROOT, f"perfbench-trace-{args.workload}-{args.seed}.json"
                ),
                extra,
            )
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(lat),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
