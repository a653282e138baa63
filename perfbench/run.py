"""Entry point of the lake benchmark.

    python3 perfbench/run.py --workload {lake_sql,lake_curation,object_ingest} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The launcher makes the run hermetic and
then runs ``perfbench.bench`` in a child process:

* the repository root goes on ``PYTHONPATH``, so Spark's Python workers
  can import the engine whatever the working directory;
* ``SPARK_GRAFT_CPUS`` is the number of CPUs this process may use;
* ``TMPDIR`` and Spark's local directories point into a fresh directory
  under ``perfbench/.runs/``, removed when the run ends, so scratch files
  and streaming checkpoints never pile up across runs, and no JVM writes
  its perf-data file to ``/tmp``;
* the child gets its own session; every process left in it (the JVM and
  Python workers) is stopped and waited for before the launcher exits.

Traced runs (``--trace 1``) keep their spans in ``perfbench/.traces/``.
The exit code is the child's: non-zero when any op failed or its output
did not match. The last stdout line is the result object.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 170


def session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":  # fields[3] = session id
            pids.append(int(entry))
    return pids


def stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the child's session and
    wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.05)


def hermetic_env(run_dir: str) -> dict[str, str]:
    """The environment of one run; creates ``run_dir/tmp``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        # every JVM would otherwise drop its perf-data file in /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one lake benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "hadoop_fs_ceph_spark")):
        print(f"perfbench: engine package hadoop_fs_ceph_spark not found under {ROOT}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    env = hermetic_env(run_dir)
    cmd = [sys.executable, "-m", "perfbench.bench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--trace-dir", os.path.join(HERE, ".traces")]
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        code = 124
    finally:
        stop_session(child.pid)
        child.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
