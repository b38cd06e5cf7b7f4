"""Write each workload's expected results, computed without Spark.

Each registered query carries a DuckDB oracle (``registry.all_oracles()``).
This runs those oracles over the workload's generated tables and stores
``{query: {"rows": n, "digest": ...}}`` in
``perfbench/expected/<workload>.json``. The benchmark fails any query
whose ``.count()`` differs from ``rows`` in any pass, or whose collected
result differs from ``digest`` (``canon.digest``) in the first warm-up
pass. The run seed only reorders queries, so one file per workload holds
for every seed.

Usage (from the repository root): python3 perfbench/expected.py [workload ...]
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from canon import digest  # noqa: E402
from datagen import build  # noqa: E402
from workloads import DATA_DIR, DATA_SEED, SF, WORKLOADS, expected_path  # noqa: E402


def oracle_results(data: str, oracles: dict[str, str]) -> dict[str, dict]:
    from cta_train_tracker_analytics_spark.data import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        out = {}
        for q, sql in oracles.items():
            df = con.execute(sql).df()
            out[q] = {"rows": len(df), "digest": digest(df)}
        return out
    finally:
        con.close()


def main(names: list[str]) -> None:
    from cta_train_tracker_analytics_spark.plans import registry

    oracles = registry.all_oracles()
    build(DATA_DIR, SF, DATA_SEED)
    for name in names or sorted(WORKLOADS):
        results = oracle_results(DATA_DIR, {q: oracles[q] for q in WORKLOADS[name]})
        with open(expected_path(name), "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
            f.write("\n")
        print(name, results)


if __name__ == "__main__":
    main(sys.argv[1:])
