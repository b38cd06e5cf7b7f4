"""The benchmark's workloads, and where a run keeps its files.

Each workload is sized so that one engine layer does most of its work and
another does little, and so that one warm pass takes a few seconds: a run
has to fit session start, table load, four warm-up passes and several
timed passes into well under a minute. Why each workload exists is stated
in ``BENCHMARK.json``.
"""

from __future__ import annotations

import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
#: generated tables and per-run scratch; never committed
WORK = os.path.join(HERE, ".work")
RUN_DIR = os.path.join(WORK, "run")
#: scale factor and generator seed of the tables; the run seed never
#: changes the data, so one expected result per query holds for every
#: run seed
SF = 0.1
DATA_SEED = 42
with open(os.path.join(HERE, "datagen.py"), "rb") as _f:
    # a changed generator never reuses tables built by an older one
    _GEN = hashlib.sha256(_f.read()).hexdigest()[:12]
DATA_DIR = os.path.join(WORK, "data", f"sf{SF:g}-seed{DATA_SEED}-{_GEN}")

#: workload name -> the registered queries one pass runs
WORKLOADS = {
    # driver-bound: the build is ~80 % of each query
    "llm_build": ("ext_dsir_weights", "ext_semdedup", "ext_sim_recall"),
    # the only workload that reaches the streaming layer, plus the daily
    # compaction job of jobs/ that follows it on the ingest path
    "stream_drain": ("str_tumbling_day", "str_dedup_rocksdb", "job_compact_day"),
}


def expected_path(workload: str) -> str:
    return os.path.join(HERE, "expected", f"{workload}.json")


def metric_units(kind: str) -> dict[str, str]:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics
    named in the repository's ``BENCHMARK.json``."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}
