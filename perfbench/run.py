"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload llm_build --seed 1 --seconds 15 --trace 0

Builds the workload's tables once per checkout (``datagen.py``, kept under
``perfbench/.work/data``), then starts the measured driver process
(``loop.py``) with the launch environment set and waits for it. Its last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Exits non-zero when a row count is wrong, a query fails, or
the engine is not next to the benchmark.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

from datagen import build
from workloads import DATA_DIR, DATA_SEED, HERE, RUN_DIR, SF, WORKLOADS

ROOT = os.path.dirname(HERE)
#: every run must end within this many seconds, child included
DEADLINE_S = 170


def driver_mem() -> str:
    """Driver heap that fits the host: a third of its memory, at most 2g."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1, min(2, total_kb // (3 * 1024 * 1024)))}g"


def reap_group(proc: subprocess.Popen) -> None:
    """Kill whatever the driver left in its process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    # the rest of the group was orphaned to init, which reaps it
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes of group {proc.pid} did not exit")


def main() -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "cta_train_tracker_analytics_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    build(DATA_DIR, SF, DATA_SEED)

    shutil.rmtree(RUN_DIR, ignore_errors=True)
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        SPARK_LOCAL_DIRS=os.path.join(RUN_DIR, "local"),
        TMPDIR=tmp,
        # every JVM (launcher and driver): temp files here, no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # bound glibc's per-thread malloc arenas: RocksDB state stores
        # allocate native memory from many threads, and how many arenas
        # that touched varied the JVM's peak RSS between identical runs
        MALLOC_ARENA_MAX="2",
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "loop.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        print(f"driver exceeded {DEADLINE_S}s; killed", file=sys.stderr)
        code = 124
    finally:
        reap_group(proc)
    return code


if __name__ == "__main__":
    sys.exit(main())
