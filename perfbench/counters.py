"""Outside-in layer counters for the benchmark's traced runs.

Everything here observes the engine from the benchmark's side of its
public surface: a wrapper around the py4j gateway client, a Spark event
log parsed after the session stops, a ``StreamingQueryListener``, and
``/proc`` readers for host steal and peak resident memory.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

#: py4j's proxy-GC message (``MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME``)
#: is sent whenever Python happens to collect a JavaObject, so its count
#: depends on GC timing, not on the plan being built.
_PY4J_GC_DELETE = "m\nd\n"


def counts_as_call(command: str) -> bool:
    """True for a py4j command that is part of the program's work."""
    return not command.startswith(_PY4J_GC_DELETE)


class Py4jCounter:
    """Counts the py4j commands the installing thread sends to the JVM.

    Commands from other threads (the streaming listener's callbacks) and
    proxy-GC deletes are left out, so the count depends on the plan only."""

    def __init__(self, client) -> None:
        self.n = 0
        self._client = client
        self._orig = client.send_command
        self._thread = threading.get_ident()
        client.send_command = self._send

    def _send(self, command, *args, **kwargs):
        if threading.get_ident() == self._thread and counts_as_call(command):
            self.n += 1
        return self._orig(command, *args, **kwargs)

    def close(self) -> None:
        self._client.send_command = self._orig


def group_id(pass_no: int, query: str, phase: str) -> str:
    """One Spark job group per (pass, query, phase), never reused."""
    return f"p{pass_no}|{query}|{phase}"


def parse_event_log(lines, run_groups: dict[str, str]) -> dict:
    """Sum task metrics per Spark job group from event-log JSON lines.

    Stages are attributed by the ``spark.jobGroup.id`` property of the job
    that submitted them. Micro-batch jobs run under their stream's run id
    as the group; ``run_groups`` maps such a run id to the benchmark group
    of the query that started the stream. Returns
    ``{group: {"jobs", "stages", "tasks", "executor_run_s", ...}}``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def group_of(props) -> str | None:
        g = (props or {}).get("spark.jobGroup.id")
        return run_groups.get(g, g)

    mb = 1 / (1024 * 1024)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = group_of(ev.get("Properties"))
            if g is not None:
                out[g]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            g = group_of(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(ev["Stage Info"]["Stage ID"])
            if g is not None:
                out[g]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            acc = out[g]
            acc["tasks"] += 1
            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
            acc["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1000
            sr = m.get("Shuffle Read Metrics", {})
            acc["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) * mb
            acc["shuffle_write_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) * mb
            )
            acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) * mb
            acc["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) * mb
    return {g: dict(v) for g, v in out.items()}


def read_event_log(log_dir: str, run_groups: dict[str, str]) -> dict:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(os.path.join(log_dir, files[0])) as f:
        return parse_event_log(f, run_groups)


STREAM_FIELDS = (
    "batches", "input_rows", "trigger_ms", "add_batch_ms", "commit_ms",
    "state_commit_ms", "state_rows", "state_mem_mb",
)


class StreamAggregate:
    """Per-query sums of micro-batch progress.

    Progress events arrive on the listener thread, keyed by the stream's
    run id; ``begin`` names the benchmark group whose call starts the next
    streams, so each run id is charged to the query that started it."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._current: str | None = None
        self.run_groups: dict[str, str] = {}
        self.by_group: dict[str, dict[str, float]] = {}

    def begin(self, group: str | None) -> None:
        with self._lock:
            self._current = group

    def started(self, run_id: str) -> None:
        with self._lock:
            if self._current is not None:
                self.run_groups[run_id] = self._current

    def progress(self, run_id: str, p: dict) -> None:
        d = p.get("durationMs") or {}
        ops = p.get("stateOperators") or []
        with self._lock:
            g = self.run_groups.get(run_id)
            if g is None:
                return
            acc = self.by_group.setdefault(g, dict.fromkeys(STREAM_FIELDS, 0.0))
            acc["batches"] += 1
            acc["input_rows"] += p.get("numInputRows") or 0
            acc["trigger_ms"] += d.get("triggerExecution", 0)
            acc["add_batch_ms"] += d.get("addBatch", 0)
            acc["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            acc["state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
            # state size is a level, not a flow: keep the largest seen
            acc["state_rows"] = max(acc["state_rows"], sum(o.get("numRowsTotal", 0) for o in ops))
            acc["state_mem_mb"] = max(
                acc["state_mem_mb"],
                sum(o.get("memoryUsedBytes", 0) for o in ops) / (1024 * 1024),
            )


class StreamListener(StreamingQueryListener):
    """Feeds a :class:`StreamAggregate` from Spark's streaming events."""

    def __init__(self, agg: StreamAggregate) -> None:
        self.agg = agg

    def onQueryStarted(self, event) -> None:
        self.agg.started(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.agg.progress(
            str(p.runId),
            {
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
                "stateOperators": [dict(o) for o in p.stateOperators],
            },
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted inside user/nice
    return fields[7], sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def host_loop_ms(repeats: int = 3) -> float:
    """Median time of a fixed pure-Python loop, in ms: how fast the host
    runs one thread right now. On a shared host this doubled within
    minutes while CPU steal stayed under 5 %, and pass times doubled
    with it."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        s = 0
        for i in range(100_000):
            s += i * i % 7
        times.append(time.perf_counter() - t0)
    return 1000 * statistics.median(times)


def session_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) of every live
    process in this process's session: the driver, its JVM and the Python
    workers.

    Time of a reaped process moves into its parent's children fields, so
    the sum only grows while the session runs."""
    sid = os.getsid(0)
    ticks = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # fields[0] is stat field 3 (state): session is 6, utime..cstime 14..17
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
