"""Loaders for the driver-generated synthetic tables (TESTDATA.md).

Each table is one parquet file under ``{sf_dir}/{name}.parquet``. At cluster
scale these would be partitioned directories / catalog tables; the loader is
the single seam where that swap happens.
"""

from __future__ import annotations

from collections.abc import Iterable
from pathlib import Path
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts has shipped in two layouts: parquet TIMESTAMP(NANOS)
        # (older generators — the Spark reader rejects it natively, so we
        # read nanos as long and truncate to micros, the same ns→µs
        # truncation DuckDB applies) and plain TIMESTAMP(MICROS) without
        # isAdjustedToUTC (current generator — Spark reads it directly as
        # TIMESTAMP_NTZ). Either way the engine presents one canonical
        # type: naive TIMESTAMP_NTZ. The guarded conf set is engine
        # policy, not a per-read toggle — no other table carries nanos
        # timestamps, so flipping it session-wide is behavior-neutral.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # timestampadd on an NTZ base is pure arithmetic — unlike
            # cast(timestamp_micros(..) as ntz), it cannot shift with the
            # session timezone (verified against a non-UTC driver session).
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        elif ts_type == "timestamp":
            # isAdjustedToUTC micros (instant semantics). unix_micros is
            # timezone-independent, so rebuilding the NTZ from epoch micros
            # pins UTC wall time regardless of the session timezone —
            # a plain cast to timestamp_ntz would shift with it.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, unix_micros(ts), "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        elif ts_type != "timestamp_ntz":
            # A third layout (int96, string, ...) must fail loudly here —
            # silently passing it through would break the one-canonical-
            # TIMESTAMP_NTZ contract every downstream oracle relies on.
            raise ValueError(
                f"events.ts has unrecognized parquet layout {ts_type!r}; "
                "expected TIMESTAMP(NANOS) (read as bigint), instant "
                "TIMESTAMP(MICROS) ('timestamp'), or naive micros "
                "('timestamp_ntz') — teach load() the new layout explicitly"
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def footer_rows(
    files: Iterable[str | Path], non_null: str | None = None
) -> int | None:
    """Row count of parquet ``files`` (local paths or ``file:`` URIs, e.g.
    ``df.inputFiles()``) read from their FOOTERS — the number Spark
    answers a bare ``count()`` with, without scheduling a Spark job.

    ``non_null`` names a column whose rows must all be non-null: the
    count is returned only when every row group's statistics PROVE it —
    each leaf of that column has a ``null_count`` present and 0 (a
    list leaf also counts null lists, empty lists and null elements, so
    0 is a conservative proof). Then the count equals that of
    ``df.filter(col(non_null).isNotNull())``. Returns ``None`` whenever
    the footers cannot answer: a non-local file, a missing statistic, a
    null, an absent column, or no rows at all — the caller counts
    instead."""
    import pyarrow.parquet as pq

    total = 0
    for f in files:
        uri = urlparse(str(f))
        if uri.scheme not in ("", "file"):
            return None
        meta = pq.read_metadata(unquote(uri.path))
        total += meta.num_rows
        if non_null is None:
            continue
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            leaves = [
                rg.column(i)
                for i in range(rg.num_columns)
                if rg.column(i).path_in_schema == non_null
                or rg.column(i).path_in_schema.startswith(non_null + ".")
            ]
            if not leaves or any(
                c.statistics is None
                or not c.statistics.has_null_count
                or c.statistics.null_count != 0
                for c in leaves
            ):
                return None
    if non_null is not None and total == 0:
        return None
    return total


def parquet_dir_rows(source_dir: str) -> int:
    """Row count of a just-written parquet dir from its footers. Raises
    ``FileNotFoundError`` when no ``*.parquet`` file sits directly in
    ``source_dir``: a missing dir or a partitioned layout (part files one
    level down) would otherwise read as 0 rows."""
    files = sorted(Path(source_dir).glob("*.parquet"))
    if not files:
        raise FileNotFoundError(
            f"no *.parquet file directly under {source_dir!r} "
            "(missing or partitioned directory)"
        )
    return footer_rows(files)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL API surface)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def read_back(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read an engine-written parquet directory back with its KNOWN schema
    (data columns + partition columns, e.g. the pre-write frame's
    ``df.schema``). Schema-on-read serves two purposes at scale: no
    footer-inference pass over the directory listing, and an EMPTY
    increment — a partitioned write whose input had zero rows, which lays
    down only a ``_SUCCESS`` marker with no part files or partition dirs —
    reads back as an empty typed frame instead of killing the job with a
    schema-inference AnalysisException. Empty increments are routine in
    incremental/backfill/retention pipelines (a day with no data, a
    filter that matched nothing), so every read-after-write in the engine
    goes through this helper. Partition-column values are still discovered
    from directory names and cast to the declared type."""
    return spark.read.schema(schema).parquet(path)
