"""Streaming pipeline building blocks.

Mapping from the reference's managed-service semantics (SURVEY.md §2.9):

- EventBridge 1-min cron            → ``trigger(processingTime="60 seconds")``
  (tests/verification run ``trigger(availableNow=True)`` to drain bounded
  fixture data deterministically)
- Firehose 64 MB/900 s buffering    → file-sink micro-batches +
  ``maxRecordsPerFile``
- Firehose partial-batch retry ×5   → checkpointed exactly-once file sink;
  task retries subsume record-level redrive
- SQS visibility/redelivery         → source replay from checkpoint offsets
- at-least-once duplicates          → ``withWatermark().dropDuplicates()``
- daily 00:01 compaction            → 1-day tumbling window / daily batch job
- per-train sessions / state        → ``session_window`` /
  ``applyInPandasWithState``

All helpers run real Structured Streaming queries (micro-batch engine, state
store, checkpoints) against bounded file sources, so semantics — not mocks —
are what tests and the driver verify.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..data import parquet_dir_rows


def _drain_timeout(timeout_sec: int | None) -> int:
    """Default drain budget for bounded availableNow runs. 600 s covers
    every verified scale with an order of magnitude to spare (the
    largest measured drain is ~13 s at sf1); scale probes raise it via
    SPARK_GRAFT_STREAM_DRAIN_SEC rather than editing call sites."""
    if timeout_sec is not None:
        return timeout_sec
    return int(os.environ.get("SPARK_GRAFT_STREAM_DRAIN_SEC", "600"))


def await_drained(q, timeout_sec: int | None = None) -> None:
    """Block until a bounded (availableNow) streaming query TERMINATES,
    failing loudly if it outlives the budget.

    ``awaitTermination(timeout)`` returns False while the query is still
    running; the pre-r16 helpers ignored that return and read the sink
    anyway, which at scale silently returns PARTIAL results — found by
    the r16 sf10 probe, where str_stream_join_outer's one-batch drain of
    8M rows legitimately exceeds the old 120 s budget and the memory
    sink held a truncated table while the leaked query kept running and
    contending with the next measurement. A correctness-gated engine
    must never convert 'slow' into 'silently wrong': stop the query and
    raise instead."""
    budget = _drain_timeout(timeout_sec)
    if not q.awaitTermination(budget):
        q.stop()
        raise RuntimeError(
            f"bounded stream drain still running after {budget}s "
            f"(query {q.name or q.id}); raise SPARK_GRAFT_STREAM_DRAIN_SEC "
            "for larger scales instead of reading a partial sink"
        )


#: Floor for the state-store partition count of the bounded drains. Spark
#: freezes the stateful-operator partition count into the checkpoint at
#: FIRST batch (later batches and resumes read it back from checkpoint
#: metadata), defaulting to spark.sql.shuffle.partitions — a BATCH-width
#: setting. Per-micro-batch state overhead is per-partition-per-store
#: (task launch + store open/commit), so inheriting the batch width
#: over-partitions small state: measured on str_stream_join at sf0.1
#: (4 join state stores), 32 → 8 partitions cuts the drain 5.69 → 2.73 s
#: with identical output.
STREAM_STATE_MIN_PARTITIONS = 8

#: Rows-per-state-partition target for the ADAPTIVE width (r17 verdict
#: #4): a constant width cannot serve two decades — str_session_window
#: measured 3.97 s at 8 partitions vs 6.52 s at 32 on sf1 (1M events:
#: per-batch store overhead dominates) but 43.1 s at 32 vs 61.4 s at 8
#: on sf10 (10M events: per-partition state volume dominates;
#: PLANS.md r17). width = max(8, ceil(input_rows / 300k)) reproduces
#: both measured optima from one code path (sf1 → 8, sf10 → 34 ≈ the
#: measured-best 32) and keeps growing with volume, which is the 100 TB
#: shape: state partitions sized to peak state volume BEFORE first start
#: (the count cannot change after checkpoint creation without a state
#: rebuild). Input volume is observed by ``parquet_stream`` at source
#: materialization (a metadata-only parquet count) and accumulated until
#: the query's scratch reset — multi-source queries size to their total.
#: SPARK_GRAFT_STREAM_STATE_PARTITIONS remains a hard override (used by
#: the probes' width counterfactuals).
STREAM_STATE_TARGET_ROWS = 300_000

_observed_input_rows = 0


def reset_stream_volume() -> None:
    """Forget accumulated source volume — called at each streaming
    query's scratch-dir setup so one query's inputs never size the next
    query's state width."""
    global _observed_input_rows
    _observed_input_rows = 0


def note_stream_volume(rows: int) -> None:
    global _observed_input_rows
    _observed_input_rows += rows


def stream_state_partitions() -> int:
    """The adaptive state width for the NEXT drain: env override if set,
    else the rows/target derivation over the volume observed since the
    last ``reset_stream_volume`` (floor when nothing was observed — e.g.
    rate/socket sources that never pass through ``parquet_stream``)."""
    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if env is not None:
        return int(env)
    if _observed_input_rows <= 0:
        return STREAM_STATE_MIN_PARTITIONS
    import math

    return max(
        STREAM_STATE_MIN_PARTITIONS,
        math.ceil(_observed_input_rows / STREAM_STATE_TARGET_ROWS),
    )


class scoped_state_partitions:
    """Context manager pinning spark.sql.shuffle.partitions (the stateful
    streaming partition count) around a streaming query START; restores the
    session's batch width afterwards. Safe to restore while the query still
    runs: StreamExecution clones the session conf at start().

    ``extra`` scopes additional session confs the same way (used by the
    drains' no-data-batch control below)."""

    def __init__(
        self,
        spark: SparkSession,
        n: int | None = None,
        extra: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.n = stream_state_partitions() if n is None else n
        self.extra = dict(extra or {})

    def __enter__(self):
        # None default so a never-explicitly-set session width is restored
        # by UNSETTING (mirrors the _dedup_rocksdb provider-conf restore) —
        # re-setting the read-back value would freeze the implicit default
        # into an explicit conf on exit (ADVICE r17).
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions", None)
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        self.prev_extra = {
            k: self.spark.conf.get(k, None) for k in self.extra
        }
        for k, v in self.extra.items():
            self.spark.conf.set(k, v)
        return self

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        for k, v in self.prev_extra.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)
        return False


def _no_data_batch_conf(evict_emission: bool) -> dict[str, str]:
    """The bounded drains' no-data-batch policy (r19, guide §1/§2: cut
    fixed per-batch cost — each no-data batch re-opens and re-commits
    every state-store partition, measured ~1.0-1.5 s per drain at sf0.1).

    When the watermark advances, Spark by default runs ONE extra no-data
    micro-batch (SPARK-24156) so eviction-driven results flow without more
    input. For a bounded availableNow drain that is pure overhead UNLESS
    the sink's output depends on eviction emission: an append-mode sink
    fed by watermark-closed state (outer-join null rows, append-mode
    windowed aggregations). Those drains must pass ``evict_emission=True``
    (str_stream_join_outer is the registered case — measured: without the
    no-data batch its unmatched clicks are never emitted, 183 rows vs
    19 865). Everything else — complete/update modes, dedup and inner
    joins that emit at arrival/match time — produces identical output
    without the extra batch; the registered tier is oracle-pinned both
    ways. Production deployments with processingTime triggers are
    unaffected: this conf is scoped to the drain it wraps."""
    return {
        "spark.sql.streaming.noDataMicroBatches.enabled":
            "true" if evict_emission else "false",
    }


def parquet_stream(
    spark: SparkSession, df: DataFrame, source_dir: str, single_file: bool = True
) -> DataFrame:
    """Materialize ``df`` as a parquet dir and open it as a stream source.
    ``single_file`` keeps ingestion to one micro-batch (deterministic
    results for dedup/state queries under availableNow).

    The materialized row count (a metadata-only parquet footer read) is
    accumulated via ``note_stream_volume`` so the next drain's state
    width can size itself to actual input volume (see
    STREAM_STATE_TARGET_ROWS)."""
    writer = df.coalesce(1) if single_file else df
    writer.write.mode("overwrite").parquet(source_dir)
    # footer read, not a Spark job: the job-submission overhead (~0.15-0.6 s
    # per staged source, measured r19) was the tier's second-largest fixed
    # cost after no-data batches
    note_stream_volume(parquet_dir_rows(source_dir))
    return spark.readStream.schema(df.schema).parquet(source_dir)


def run_to_memory(
    sdf: DataFrame, output_mode: str, checkpoint_dir: str,
    timeout_sec: int | None = None,
    evict_emission: bool = False,
) -> DataFrame:
    """Drain a bounded stream into an in-memory sink (availableNow) and
    return the sink table as a DataFrame. Raises if the drain outlives
    its budget (see await_drained) — never returns a partial sink.

    ``evict_emission=True`` keeps Spark's watermark-advance no-data batch
    (see _no_data_batch_conf) — REQUIRED when the sink's rows are emitted
    by state eviction rather than at arrival/match time (append-mode
    outer joins / windowed aggregations)."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    with scoped_state_partitions(
        sdf.sparkSession, extra=_no_data_batch_conf(evict_emission)
    ):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        await_drained(q, timeout_sec)
    spark = sdf.sparkSession
    return spark.table(name)


def run_to_files(
    sdf: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    fmt: str = "json",
    timeout_sec: int | None = None,
    evict_emission: bool = False,
) -> None:
    """Drain a bounded stream into a checkpointed file sink — the
    exactly-once replacement for the reference's Firehose retry loop.
    Re-running with the same checkpoint is a no-op (offsets committed),
    which is precisely the at-least-once → exactly-once upgrade.

    ``evict_emission`` as in run_to_memory."""
    with scoped_state_partitions(
        sdf.sparkSession, extra=_no_data_batch_conf(evict_emission)
    ):
        q = (
            sdf.writeStream.format(fmt)
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_drained(q, timeout_sec)


def assert_rocksdb_engaged(state_dir) -> dict[str, int]:
    """Verify a checkpoint's state dir was written by the RocksDB
    provider, not a silent fallback to the HDFS-backed default — the
    check behind str_dedup_rocksdb's scale claim.

    RocksDB commits exhibit TWO file patterns depending on
    ``rocksdb.changelogCheckpointing.enabled``: with it off (default)
    every commit uploads a ``<version>.zip`` snapshot; with it on,
    commits write ``<version>.changelog`` deltas and zip snapshots are
    deferred to background maintenance (may be absent entirely in a
    short bounded run). The HDFS provider writes ``.delta``/
    ``.snapshot`` files instead — so engagement is (zips OR changelogs)
    AND no deltas. The pre-r17 check counted only zips and falsely
    raised "zips=0, deltas=0" under changelog mode (PLANS.md r16,
    'Changelog-checkpointing follow-up').

    Returns the file counts for callers that want to assert WHICH
    RocksDB mode ran."""
    from pathlib import Path

    state = Path(state_dir)
    counts = {
        "zips": len(list(state.rglob("*.zip"))),
        "changelogs": len(list(state.rglob("*.changelog"))),
        "deltas": len(list(state.rglob("*.delta"))),
    }
    if (counts["zips"] == 0 and counts["changelogs"] == 0) or counts["deltas"]:
        raise RuntimeError(
            f"RocksDB state store did not engage ({counts}) — state files "
            "indicate the default HDFS-backed provider ran instead"
        )
    return counts
