"""The measured process: one Python driver, one client, one query at a time.

``run.py`` starts this file with the launch environment already set
(PYTHONPATH, SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM, scratch dirs) and
relays what it prints. It times each call into the engine's public
surface: ``session.get_spark``, ``data.load``, the registered query
function (plan build) and the ``.count()`` action that executes the plan
(``toPandas()`` in the first warm-up pass, whose results are checked
against the oracle digests).

Set-up is session start, table load and the untimed warm-up passes. Then
it runs timed passes, each in a seed-permuted query order, until the next pass
would end after ``--seconds``. With ``--trace 1`` every other pass is
traced (job groups, py4j counter, streaming listener; the event log is on
for the whole session) and the difference between traced and untraced
pass medians is the tracing overhead.

End-to-end times are reported in reference-host seconds: each is scaled
by ``REF_LOOP_MS`` over the mean time of a fixed Python loop run between
the queries it covers (never while a query runs). The wall times are in
the detail line and, traced, in ``wall.pass_s`` and ``wall.setup_s``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
from pathlib import Path

from counters import (
    STREAM_FIELDS,
    Py4jCounter,
    StreamAggregate,
    StreamListener,
    cpu_times,
    group_id,
    host_loop_ms,
    read_event_log,
    session_cpu_s,
    steal_pct,
    vm_hwm_mb,
)
from canon import digest
from workloads import DATA_DIR, RUN_DIR, WORKLOADS, expected_path, metric_units

END_TO_END = metric_units("end_to_end")
PER_LAYER = metric_units("per_layer")
#: event-log task sums reported as ``operators.<field>``. Task GC time is
#: left to the detail line: short tasks rarely see a collection, so it read
#: 0 on every run; ``jvm.gc_s`` covers the whole JVM instead
OPERATOR_FIELDS = (
    "tasks", "executor_run_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb",
)
#: the host loop's time (``counters.host_loop_ms``) on a quiet 4-core
#: Intel Xeon host. End-to-end times are scaled by this over the loop's
#: time measured alongside them: on a shared host whose speed halved
#: within minutes, the scaling took out most, not all, of that swing
REF_LOOP_MS = 5.0
#: untimed passes before timing starts: pass times keep falling for several
#: passes while the JVM compiles the planner's hot paths
WARMUP_PASSES = 4


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Tracer:
    """The instruments of a traced pass, installed only while it runs.

    The event log (a session setting) stays on for the whole traced run."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.streams = StreamAggregate()
        self._listener = StreamListener(self.streams)
        self.py4j: Py4jCounter | None = None
        self._gc0 = 0.0

    def start(self) -> None:
        self.py4j = Py4jCounter(self.sc._gateway._gateway_client)
        self.spark.streams.addListener(self._listener)
        self._gc0 = self.gc_s()

    def stop(self) -> float:
        """Uninstall the instruments; returns the JVM's GC time during the pass."""
        gc = self.gc_s() - self._gc0
        # deliver the pass's last streaming events before the listener goes
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark.streams.removeListener(self._listener)
        self.py4j.close()
        return gc

    def gc_s(self) -> float:
        """Collection time of every collector of the driver JVM (executors
        run in it too on local[N])."""
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000

    def enter(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.streams.begin(group)

    def jobs(self, group: str) -> int:
        return len(self.status.getJobIdsForGroup(group))


class Loop:
    def __init__(self, spark, queries, expected, tracer) -> None:
        from cta_train_tracker_analytics_spark.plans import registry

        registered = registry.all_queries()
        self.spark = spark
        self.fns = {q: registered[q] for q in queries}
        self.expected = expected
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def query(self, pass_no: int, name: str, tr: Tracer | None, collect: bool) -> dict:
        """Build and run one query. With ``collect`` the action is
        ``toPandas()`` instead of ``.count()`` and the result's digest is
        checked too."""
        rec: dict = {"query": name}
        want = self.expected[name]
        self.attempted += 1
        try:
            if tr:
                tr.enter(group_id(pass_no, name, "build"))
                calls0 = tr.py4j.n
            t0 = time.perf_counter()
            df = self.fns[name](self.spark, DATA_DIR)
            t1 = time.perf_counter()
            if tr:
                rec["py4j_calls"] = tr.py4j.n - calls0
                rec["build_jobs"] = tr.jobs(group_id(pass_no, name, "build"))
                tr.enter(group_id(pass_no, name, "action"))
            t2 = time.perf_counter()
            if collect:
                result = df.toPandas()
                rows = len(result)
            else:
                rows = df.count()
            t3 = time.perf_counter()
            if tr:
                rec["action_jobs"] = tr.jobs(group_id(pass_no, name, "action"))
        except Exception as e:  # a failing query is a failed operation
            self.failed += 1
            self.errors.append(f"pass {pass_no} {name}: {type(e).__name__}: {e}"[:2000])
            rec["error"] = type(e).__name__
            return rec
        finally:
            if tr:
                tr.enter(None)
        rec.update(build_s=t1 - t0, action_s=t3 - t2, wall_s=(t1 - t0) + (t3 - t2), rows=rows)
        if rows != want["rows"]:
            self.failed += 1
            self.errors.append(f"pass {pass_no} {name}: {rows} rows, expected {want['rows']}")
        elif collect and digest(result) != want["digest"]:
            self.failed += 1
            self.errors.append(f"pass {pass_no} {name}: result differs from its DuckDB oracle")
        return rec

    def live_mb(self) -> float:
        """JVM memory (heap + non-heap) still in use after a full collection.

        Unlike resident memory, which the fixed-size heap pins, this is what
        the session keeps alive between queries: cached blocks, plans,
        loaded classes and compiled code. The collection also keeps one
        pass's garbage from being collected during the next."""
        jvm = self.spark._jvm
        jvm.java.lang.System.gc()
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
        return used / (1024 * 1024)

    def run_pass(self, pass_no: int, order: list[str], traced: bool, collect: bool = False) -> dict:
        """Run every query once. The host loop runs before the first query
        and after each one, outside the query timings."""
        # no pass inherits frames cached by the one before
        self.spark.catalog.clearCache()
        tr = self.tracer if traced else None
        if tr:
            tr.start()
        cpu0 = cpu_times()
        loop = [host_loop_ms()]
        recs = []
        cpu_s = 0.0
        for q in order:
            proc0 = session_cpu_s()
            recs.append(self.query(pass_no, q, tr, collect))
            cpu_s += session_cpu_s() - proc0
            loop.append(host_loop_ms())
        steal = steal_pct(cpu0, cpu_times())
        gc_s = tr.stop() if tr else None
        loop_ms = statistics.fmean(loop)
        walls = [r["wall_s"] for r in recs if "wall_s" in r]
        # a pass with a failed query fails the run; its times are taken
        # over the queries that did run
        wall = sum(walls)
        geo = geomean(walls) if walls else 0.0
        return {
            "pass": pass_no,
            "traced": traced,
            "wall_s": wall,
            "geomean_s": geo,
            "ref_s": wall * REF_LOOP_MS / loop_ms,
            "ref_geomean_s": geo * REF_LOOP_MS / loop_ms,
            "cpu_s": cpu_s,
            "jvm_gc_s": gc_s,
            "live_mb": self.live_mb(),
            "steal_pct": steal,
            "host_loop_ms": loop_ms,
            "host_loop_samples_ms": loop,
            "queries": recs,
        }


def layer_metrics(passes: list[dict], setup: dict, events: dict, streams: dict) -> dict:
    """Per-layer sums per traced pass, reported as the median over passes."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    per_pass = []
    for p in traced:
        m = dict.fromkeys(PER_LAYER, 0.0)
        for r in p["queries"]:
            q, k = r["query"], p["pass"]
            m["plans.build_s"] += r.get("build_s", 0.0)
            m["plans.py4j_calls"] += r.get("py4j_calls", 0)
            m["plans.build_jobs"] += r.get("build_jobs", 0)
            m["operators.action_s"] += r.get("action_s", 0.0)
            m["operators.jobs"] += r.get("action_jobs", 0)
            act = events.get(group_id(k, q, "action"), {})
            m["operators.stages"] += act.get("stages", 0)
            for f in OPERATOR_FIELDS:
                m[f"operators.{f}"] += act.get(f, 0.0)
            r["event_log"] = {
                ph: events.get(group_id(k, q, ph), {}) for ph in ("build", "action")
            }
            st = streams.get(group_id(k, q, "build"))
            if st:
                r["streaming"] = st
                for f in STREAM_FIELDS:
                    m[f"streaming.{f}"] += st[f]
        m["jvm.gc_s"] = p["jvm_gc_s"]
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in PER_LAYER}
    out["session.start_s"] = setup["session_start_s"]
    out["data.load_s"] = setup["data_load_s"]
    out["trace.overhead_s"] = statistics.median(p["ref_s"] for p in traced) - statistics.median(
        p["ref_s"] for p in untraced
    )
    out["wall.pass_s"] = statistics.median(p["wall_s"] for p in passes)
    out["wall.setup_s"] = setup["setup_s"]
    out["jvm.live_growth_mb"] = statistics.linear_regression(
        [p["pass"] for p in passes], [p["live_mb"] for p in passes]
    ).slope
    out["process.cpu_s"] = statistics.median(p["cpu_s"] for p in passes)
    out["host.steal_pct"] = statistics.median(p["steal_pct"] for p in passes)
    out["host.loop_ms"] = statistics.median(p["host_loop_ms"] for p in passes)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    # host speed over the set-up: sampled here, between its steps and in
    # every warm-up pass
    setup_loop = [host_loop_ms()]
    queries = WORKLOADS[args.workload]
    with open(expected_path(args.workload)) as f:
        expected = json.load(f)

    from cta_train_tracker_analytics_spark.data import TABLES, load
    from cta_train_tracker_analytics_spark.plans import io_queries, streaming_queries
    from cta_train_tracker_analytics_spark.session import get_spark

    # the engine's scratch roots are module constants read at call time;
    # point them inside this run's directory
    streaming_queries._SCRATCH = Path(RUN_DIR, "engine_scratch", "streaming")
    io_queries._SCRATCH = Path(RUN_DIR, "engine_scratch")

    conf = {
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: with G1 growing it on demand, the driver's peak
        # RSS ranged 1.3-2.4 GB between identical runs
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }
    if args.trace:
        log_dir = os.path.join(RUN_DIR, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_start_s = time.perf_counter() - t0
    setup_loop.append(host_loop_ms())
    t0 = time.perf_counter()
    for t in TABLES:
        load(spark, DATA_DIR, t).count()
    data_load_s = time.perf_counter() - t0
    setup_loop.append(host_loop_ms())

    tracer = Tracer(spark) if args.trace else None
    loop = Loop(spark, queries, expected, tracer)
    rng = random.Random(args.seed)
    order = list(queries)

    def shuffled() -> list[str]:
        rng.shuffle(order)
        return list(order)

    # the first warm-up pass collects every result and checks its digest
    warm = [
        loop.run_pass(-1 - i, shuffled(), traced=False, collect=i == 0)
        for i in range(WARMUP_PASSES)
    ]
    setup_s = process_age_s()
    for p in warm:
        setup_loop += p["host_loop_samples_ms"]
    setup_loop_ms = statistics.fmean(setup_loop)

    passes: list[dict] = []
    t_begin = time.perf_counter()
    while True:
        k = len(passes)
        passes.append(loop.run_pass(k, shuffled(), traced=bool(args.trace) and k % 2 == 0))
        est = statistics.median(p["wall_s"] for p in passes)
        if len(passes) >= 1 + args.trace and time.perf_counter() - t_begin + est > args.seconds:
            break

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss_mb = {"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb()}
    peak_rss_mb = sum(rss_mb.values())
    spark.stop()

    setup = {
        "session_start_s": session_start_s,
        "data_load_s": data_load_s,
        "setup_s": setup_s,
        "host_loop_ms": setup_loop_ms,
    }
    if args.trace:
        events = read_event_log(log_dir, tracer.streams.run_groups)
        metrics = layer_metrics(passes, setup, events, tracer.streams.by_group)
        units = PER_LAYER
    else:
        metrics = {
            "pass_s": statistics.median(p["ref_s"] for p in passes),
            "query_geomean_s": statistics.median(p["ref_geomean_s"] for p in passes),
            "setup_s": setup_s * REF_LOOP_MS / setup_loop_ms,
            "peak_rss_mb": peak_rss_mb,
            # a fixed amount of work, unlike the timed passes: on
            # stream_drain live memory grows with every pass
            "jvm_live_mb": warm[-1]["live_mb"],
        }
        units = END_TO_END
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "env": {k: os.environ.get(k) for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        "setup": dict(setup, peak_rss_mb=rss_mb),
        "steal_pct_per_pass": [p["steal_pct"] for p in passes],
        "host_loop_ms_per_pass": [p["host_loop_ms"] for p in passes],
        "warmup": warm,
        "passes": passes,
        "errors": loop.errors,
    }
    print(json.dumps({"detail": detail}))
    for e in loop.errors:
        print(e, file=sys.stderr)
    correct = loop.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
