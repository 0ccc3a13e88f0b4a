"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run gets its own directory under
`.perfbench/` (inputs, TMPDIR, SPARK_LOCAL_DIRS, warehouse, ledgers,
event log), removed afterwards; the full record of every run is kept in
`.perfbench/records/`. The run itself happens in a child process group
that is stopped and waited for before this exits. The last line printed
is the result JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("orchestrator_catalog", "frequency_method", "operator_mix")
RUN_TIMEOUT_S = 150


def driver_memory() -> str:
    """1 GiB, or a quarter of the host's RAM where that is less."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(f.readline().split()[1])
    except (OSError, ValueError, IndexError):
        return "1g"
    return f"{min(1024, total_kb // 4096)}m"


def _group_alive(pgid: int) -> bool:
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int) -> None:
    """TERM, then KILL, the child's process group, and wait until it is gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, "dig_aggregator_core_spark"))
        and os.path.isfile(os.path.join(root, "tests", "oracle.py"))
    ):
        print("perfbench: run from the root of a checkout of the repository",
              file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    result = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=driver_memory(),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, "-m", "perfbench.harness",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--records", os.path.join(base, "records"),
        "--result", result,
    ]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        code = -1
    finally:
        stop_group(proc.pid)
        proc.wait()
    line = None
    if code == 0 and os.path.isfile(result):
        with open(result) as f:
            line = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if line is None:
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return 1
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
