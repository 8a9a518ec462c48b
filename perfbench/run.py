"""Conflation benchmark entry point.

    python3 perfbench/run.py --workload trace_heavy --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The measuring process (``measure.py``) runs
in a session of its own, so that on exit, or on a time-out, every process it
started (the JVM and its Python workers) is killed and waited for. The last
line of the output is the result object; README.md describes it.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import POOL_MARKER, WORKLOADS  # noqa: E402

# one run must end within 180 s; building the input pool on the first run
# of a checkout may take longer
RUN_TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 880
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields: state, ppid, pgrp, ...; a zombie has already ended
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Kill every process left in the measuring session and wait for them."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # accepted as the interface asks; each workload times a fixed number of
    # jobs (workloads.py)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "conflation_spark", "plans", "pipeline.py")):
        print("perfbench: run from the root of a conflation_spark checkout", file=sys.stderr)
        return 2
    state = os.path.join(root, ".perfbench")
    os.makedirs(state, exist_ok=True)
    # one run at a time per checkout: a second one waits here, since runs
    # share the input cache and the runs directory
    lock = open(os.path.join(state, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    runs = os.path.join(state, "runs")
    # the previous run's directory stays for inspection until the next run
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{'trace' if args.trace else 'timed'}")
    os.makedirs(run_dir)
    pool_ready = os.path.exists(os.path.join(state, "cache", "pool", POOL_MARKER))

    cmd = [
        sys.executable, os.path.join(HERE, "measure.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(args.trace), "--run-dir", run_dir,
    ]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def on_signal(signum, _frame):
        _stop_group(proc.pid)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S if pool_ready else FIRST_RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        return 3
    finally:
        _stop_group(proc.pid)
        proc.wait()
    lines = out.splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = None
    if proc.returncode != 0 or not isinstance(result, dict) or set(result) != RESULT_KEYS:
        print(f"perfbench: measuring process failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    for line in lines[:-1]:
        print(line)
    for name, m in result["metrics"].items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(f"# output check: {'pass' if result['correct'] else 'FAIL'} "
          f"({result['failed']} of {result['attempted']} jobs failed)")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
