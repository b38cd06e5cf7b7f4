#!/usr/bin/env python
"""Driver simulation — the repo's /verify recipe, committed (r15; it
previously lived only in /tmp and had to be re-created per machine).

Builds a VANILLA SparkSession the way the external driver does (none of
the repo's session config, non-UTC session timezone — America/Chicago
catches session-tz-dependent expressions that UTC hides; it caught a
real 6h shift in the events ns->us load in round 2), smoke-checks
entry(), then runs every queries() entry at sf0.01 against its
oracle_sql() in DuckDB and compares column names, row count, and
order-insensitive canonicalized values (the driver's hash comparison,
via tests/test_oracle_parity.canonical_rows). Expect MISMATCHES: 0.

    python scripts/driver_sim.py                     # ~4.5 min on local[32]
    SPARK_GRAFT_VERIFY_SF_DIR=/path/to/sfX python scripts/driver_sim.py
    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_DRIVER_MEM=4g python scripts/driver_sim.py

Paths are derived from this file's location (ADVICE r15 #2 — no
hardcoded checkout path), so the script runs from any clone; the
testdata dir comes from $SPARK_GRAFT_VERIFY_SF_DIR when set.
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))
# PYTHONPATH must carry the repo root too: a driver-side sys.path edit is
# NOT inherited by Python workers (cloudpickled UDF refs would fail).
os.environ["PYTHONPATH"] = REPO

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from test_oracle_parity import canonical_rows

SF = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# core count and driver heap follow the host (same variables as the
# engine's session factory); the defaults are the 32-core settings
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
spark = (
    SparkSession.builder.master(f"local[{CPUS}]")
    .config("spark.sql.shuffle.partitions", CPUS)
    .config("spark.sql.session.timeZone", "America/Chicago")
    .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    .getOrCreate()
)

df = entrymod.entry(spark)
n = df.count()
print(f"entry(): {n} rows", flush=True)
assert n > 0

queries, oracles = entrymod.queries(), entrymod.oracle_sql()
# iteration aid (r18): SPARK_GRAFT_VERIFY_ONLY=q1,q2 checks just those
# queries against their oracles — for verifying a targeted operator change
# without the full ~20-min sweep. The round-closing verification must
# still be a FULL run (no ONLY filter).
only = os.environ.get("SPARK_GRAFT_VERIFY_ONLY")
if only:
    wanted = [n.strip() for n in only.split(",") if n.strip()]
    unknown = [n for n in wanted if n not in queries]
    assert not unknown, f"SPARK_GRAFT_VERIFY_ONLY names not registered: {unknown}"
    queries = {n: queries[n] for n in wanted}
con = duckdb.connect()
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
    )

mism, rows_only = [], 0
t0 = time.time()
for i, name in enumerate(queries):
    try:
        sdf = queries[name](spark, SF).toPandas()
    except Exception as e:
        mism.append((name, f"SPARK ERROR {type(e).__name__}: {e}"))
        print(f"[{i+1}/{len(queries)}] {name}: SPARK ERROR {e}", flush=True)
        continue
    if name not in oracles:
        rows_only += 1
        continue
    try:
        odf = con.execute(oracles[name]).df()
    except Exception as e:
        mism.append((name, f"ORACLE ERROR {type(e).__name__}: {e}"))
        continue
    if sorted(sdf.columns) != sorted(odf.columns):
        mism.append((name, f"cols spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"))
    elif len(sdf) != len(odf):
        mism.append((name, f"rows spark={len(sdf)} oracle={len(odf)}"))
    elif canonical_rows(sdf) != canonical_rows(odf):
        s, o = canonical_rows(sdf), canonical_rows(odf)
        diffs = [(a, b) for a, b in zip(s, o) if a != b][:2]
        mism.append((name, f"values {diffs}"))
    if (i + 1) % 25 == 0:
        print(f"[{i+1}/{len(queries)}] ... {time.time()-t0:.0f}s", flush=True)

print(f"checked {len(queries)} queries ({rows_only} rows-only) in "
      f"{time.time()-t0:.0f}s")
for name, why in mism:
    print(f"MISMATCH {name}: {why[:400]}")
# self-describing summary (ADVICE r18): a VERIFY_ONLY-filtered run's log
# must never be mistakable for round-closing full verification
if only:
    print(f"MISMATCHES: {len(mism)} (FILTERED: {len(queries)} of "
          f"{len(entrymod.queries())})")
else:
    print(f"MISMATCHES: {len(mism)}")
sys.exit(1 if mism else 0)
