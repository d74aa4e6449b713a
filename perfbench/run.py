"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the seeded inputs (cached per
seed under ``.bench_build/perfbench``), then runs one measured process
(``worker.py``) in a scrubbed environment:

- ``SPARK_GRAFT_CPUS`` = the usable core count;
- every ``ADAM_SPARK_*`` and ``BENCH_*`` variable unset;
- a private ``SPARK_LOCAL_DIRS`` and temporary directory;
- with ``--trace 1``, Spark's uncompressed event log enabled through the
  submit arguments (the session builder ignores confs set later).

The last stdout line is the result object; the line before it records
the environment. Exits non-zero, without a result, when the program is
missing or the run fails, and non-zero after the result when an output
check fails.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

TIMEOUT_S = 170


def _scrubbed_env(work: str, trace: bool) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if not k.startswith(("ADAM_SPARK_", "BENCH_"))}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, f"local-{os.getpid()}")
    # temporary files stay in the checkout too: Python's, the JVM's, and
    # no hsperfdata file (-XX:-UsePerfData)
    env["TMPDIR"] = os.path.join(work, f"tmp-{os.getpid()}")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    # the same str-hash order (set iteration) in every run
    env["PYTHONHASHSEED"] = "0"
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--conf", shlex.quote(f"spark.driver.extraJavaOptions=-XX:-UsePerfData "
                                    f"-Djava.io.tmpdir={env['TMPDIR']}")]
    if trace:
        evdir = os.path.join(work, f"eventlog-{os.getpid()}")
        os.makedirs(evdir, exist_ok=True)
        env["PERFBENCH_EVENTLOG"] = evdir
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{evdir}",
                   "--conf", "spark.eventLog.compress=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return env


def _reap_group(pgid: int) -> None:
    """Kill whatever is left in the worker's process group and wait
    until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while time.time() < deadline:
        alive = False
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    alive |= os.getpgid(int(entry)) == pgid
                except OSError:
                    pass
        if not alive:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("adam_spark/__init__.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in this checkout (missing {missing})",
              file=sys.stderr)
        return 2

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    WORKLOADS[args.workload](work).prepare(args.seed)

    env = _scrubbed_env(work, bool(args.trace))
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        out, code = "", 1
    finally:
        _reap_group(proc.pid)
        proc.wait()
        for key in ("SPARK_LOCAL_DIRS", "TMPDIR", "PERFBENCH_EVENTLOG"):
            if key in env:
                shutil.rmtree(env[key], ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        print("perfbench: the run printed no result", file=sys.stderr)
        return code or 1
    print("\n".join(lines[-2:]))
    return code


if __name__ == "__main__":
    sys.exit(main())
