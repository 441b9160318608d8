"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run gets its own scratch
directory (``TMPDIR``, ``SPARK_LOCAL_DIRS``, working directory) under
``.bench_build/perfbench/``; the workload runs in a child process
(``child.py``) with ``PYTHONPATH`` set to the checkout so Spark's Python
workers can import the package. After the child ends, whatever the
program left in that scratch space is measured, printed (and, in a
traced run, reported as ``scratch_mb_left``) and deleted. A fixed-work CPU probe is printed before and after the
run (not gated) so a run on a contended box can be told apart.

The last line of standard output is the JSON result. Exit code 0 only
when the run completed and printed it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHILD_TIMEOUT_S = 170.0  # a run must end within 180 s


def probe_s() -> float:
    """Fixed work: ~0.1 s of pure-Python arithmetic on an idle core."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(d, n)).st_size
            except OSError:
                pass
    return total


def pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def group_pids(pgid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            if os.getpgid(int(p)) == pgid:
                out.append(int(p))
        except (ProcessLookupError, PermissionError):
            pass
    return out


def reap_group(pgid: int) -> None:
    """Kill what is left of the child's process group (Spark JVM,
    Python workers) and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if not group_pids(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "dataflowex_spark")):
        print("run from the root of a checkout holding dataflowex_spark/",
              file=sys.stderr)
        return 2
    cache = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(cache, exist_ok=True)
    # a run killed earlier may have left its scratch directory
    for n in os.listdir(cache):
        if n.startswith("run-") and not pid_alive(int(n[4:])):
            shutil.rmtree(os.path.join(cache, n), ignore_errors=True)
    run_dir = os.path.join(cache, f"run-{os.getpid()}")
    scratch = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "work")}
    for d in scratch.values():
        os.makedirs(d)

    print(f"probe before: {probe_s():.4f} s", flush=True)
    env = dict(os.environ)
    env.update({
        "TMPDIR": scratch["tmp"],
        "SPARK_LOCAL_DIRS": scratch["local"],
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in [env.get("PYTHONPATH")] if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    })
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cache", cache, "--run-dir", run_dir,
    ]
    err_path = os.path.join(run_dir, "child.stderr")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(
            cmd, cwd=scratch["work"], env=env, stdout=subprocess.PIPE,
            stderr=err, text=True, start_new_session=True,
        )
    # the whole group dies at the deadline, which also ends the read loop
    watchdog = threading.Timer(CHILD_TIMEOUT_S, reap_group, (proc.pid,))
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        reap_group(proc.pid)
        proc.wait()
        proc.stdout.close()
    if proc.returncode != 0 or last is None:
        with open(err_path) as f:
            tail = [ln for ln in f.read().splitlines() if ln.strip()][-25:]
        print("\n".join(tail), file=sys.stderr)
    os.remove(err_path)

    left = sum(tree_bytes(d) for d in scratch.values()) / 1e6
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"probe after: {probe_s():.4f} s", flush=True)
    if proc.returncode != 0 or last is None:
        print(f"run failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    result = json.loads(last)
    print(f"scratch left behind: {left:.3f} MB (deleted)", flush=True)
    if a.trace:
        result["metrics"]["scratch_mb_left"] = {"value": left, "unit": "MB"}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
