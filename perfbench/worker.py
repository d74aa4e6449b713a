"""One measured run of one workload, inside the scrubbed environment that
``run.py`` prepares. Prints the result object as its last stdout line.

Run order:

1. set-up: one ``get_spark`` (which launches the JVM), one small
   codegen job, then one warm-up pass of the workload (outside
   ``wall_s``), which pays the cold costs (Python-worker imports,
   codegen, first JIT). ``setup_s`` runs from process start to the end
   of the warm-up pass, so it holds the cold start the program pays;
2. measurement: passes until ``--seconds`` have elapsed (the query mix
   stops at the first query boundary after two full sweeps);
3. output checks (outside the measured region);
4. traced runs only: noop-sink prefix costs per stage (with a row count
   after every stage), one untraced pass for the tracing overhead, then
   the event log is parsed after the session stops.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
from ledger import Tracer, read_event_log  # noqa: E402
from workloads import WORKLOADS, noop  # noqa: E402


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers it forks)."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        kids: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self._done.is_set():
            self.peak = max(self.peak, self.sample())
            self._done.wait(self.interval)

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak


def _stop_jvm() -> None:
    """Stop the gateway JVM and wait for it: closing its stdin ends it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    trace = bool(args.trace)
    load_1m = os.getloadavg()[0]

    from pyspark.sql import functions as F

    from adam_spark.session import get_spark

    wl = WORKLOADS[args.workload](args.work)
    wl.prepare(args.seed)

    # -- set-up ---------------------------------------------------------------
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000).select(F.sum("id")).collect()
    t0 = time.perf_counter()
    wl.run_pass(spark, Tracer())
    warm_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_START

    # -- measurement --------------------------------------------------------------
    tracer = Tracer(spark.sparkContext, enabled=trace)
    attempted = failed = 0
    rss = RssSampler()
    rss.start()
    t_meas = time.perf_counter()
    prefixes = []
    while time.perf_counter() - t_meas < args.seconds:
        tracer.run += 1
        with tracer.span("pass"):
            prefixes = wl.run_pass(spark, tracer, deadline=t_meas + args.seconds)
    measured_s = time.perf_counter() - t_meas
    peak_rss = rss.stop()
    passes = [s for s in tracer.spans if s["name"] == "pass"]
    attempted += sum(1 for s in tracer.spans if s["parent"] is not None and "." in s["name"]
                     and not s["name"].startswith("driver."))

    # -- checks ---------------------------------------------------------------
    checks = wl.check(spark, args.seed)

    # -- traced extras ------------------------------------------------------
    layer = {}
    if trace:
        prefix_s, counts_ok = [], True
        for name, df in prefixes:
            t0 = time.perf_counter()
            n = noop(df)
            prefix_s.append((name, time.perf_counter() - t0))
            counts_ok &= wl.stage_count_ok(name, n)
        checks.append(("stage_counts", counts_ok, "row count after every stage"))
        # tracing overhead: the traced measured pass against one more,
        # untraced, warm pass
        t0 = time.perf_counter()
        wl.run_pass(spark, Tracer(), deadline=t0)
        untraced_s = time.perf_counter() - t0
        app_id = spark.sparkContext.applicationId
        spark.stop()
        jobs = read_event_log(os.environ["PERFBENCH_EVENTLOG"], app_id)
        layer = metrics.layer_metrics(
            wl, tracer.spans, jobs, prefix_s,
            get_spark_s=get_spark_s, peak_rss=peak_rss,
            overhead_s=statistics.median(p["end"] - p["start"] for p in passes) - untraced_s,
        )
        tracer.dump(os.path.join(args.work, f"spans-{args.workload}-{os.getpid()}.jsonl"))
    else:
        spark.stop()
    _stop_jvm()

    attempted += len(checks)
    failed += sum(1 for _, ok, _ in checks if not ok)
    for name, ok, detail in checks:
        if not ok:
            print(f"check failed: {args.workload}.{name}: {detail}", file=sys.stderr)

    if trace:
        out = layer
    else:
        out = metrics.end_to_end(wl, tracer.spans, passes, setup_s=setup_s)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": out,
              "env": {"cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                      "loadavg_1m": load_1m,
                      "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
                      "adam_spark_or_bench_vars": sorted(
                          k for k in os.environ if k.startswith(("ADAM_SPARK_", "BENCH_"))),
                      "measured_s": measured_s,
                      "passes_s": [p["end"] - p["start"] for p in passes],
                      "get_spark_s": get_spark_s, "warm_s": warm_s}}
    # the contract's result object is the last line; the environment
    # record goes on the line before it
    print(json.dumps({"env": result.pop("env")}))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
