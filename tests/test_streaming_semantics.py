"""Watermark late-data semantics — the policy SURVEY §2.9 str_dedup_late
formalizes: records arriving after the cutoff are dropped, duplicates
within the watermark are deduped, and state does not regrow unboundedly.

Uses a checkpointed FILE sink (resumable across drains, unlike the memory
sink) and two availableNow drains to create a genuine multi-batch timeline.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def _write(spark, rows, path, mode):
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    df.coalesce(1).write.mode(mode).parquet(path)


def _drain(spark, src_dir, out_dir, cp_dir):
    src = spark.readStream.schema("k string, ts timestamp").parquet(src_dir)
    deduped = src.withWatermark("ts", "10 minutes").dropDuplicates(["k", "ts"])
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_watermark_drops_late_rows_and_dups(spark, tmp_path):
    src, out, cp = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "cp")
    t = lambda h, m: dt.datetime(2025, 1, 1, h, m)

    # batch 1: two events; watermark advances to 11:00 - 10min = 10:50
    _write(spark, [Row(k="a", ts=t(10, 0)), Row(k="a", ts=t(11, 0))], src, "overwrite")
    _drain(spark, src, out, cp)

    # batch 2 against the same checkpoint:
    #  - (a, 10:00)  duplicate AND below watermark → dropped
    #  - (b, 10:05)  new but below watermark      → dropped (late-data policy)
    #  - (a, 11:05)  on time                      → emitted
    _write(
        spark,
        [Row(k="a", ts=t(10, 0)), Row(k="b", ts=t(10, 5)), Row(k="a", ts=t(11, 5))],
        src,
        "append",
    )
    _drain(spark, src, out, cp)

    got = {
        (r["k"], r["ts"]) for r in spark.read.parquet(out).collect()
    }
    assert got == {("a", t(10, 0)), ("a", t(11, 0)), ("a", t(11, 5))}


def test_foreach_batch_upsert_runs_multiple_batches(spark):
    """str_foreach_batch_upsert must exercise the REAL multi-micro-batch
    path (maxFilesPerTrigger=1 over a 4-file source), not collapse into a
    single availableNow batch — the order-insensitive merge is only
    meaningfully tested if several batches actually merged. The committed
    offset log is the ground truth for how many batches ran; the final
    store must also hold exactly one row per user."""
    from pathlib import Path

    from cta_train_tracker_analytics_spark.plans import registry

    sf_dir = "/root/testdata/sf0.001"
    out = registry.all_queries()["str_foreach_batch_upsert"](spark, sf_dir)
    rows = out.collect()
    users = [r["user_id"] for r in rows]
    assert len(users) == len(set(users)) > 0
    offsets = Path(
        "/tmp/cta_spark_engine_scratch/streaming/sf0.001/str_foreach_batch_upsert/cp/offsets"
    )
    n_batches = len([p for p in offsets.iterdir() if not p.name.startswith(".")])
    assert n_batches >= 3, f"expected several micro-batches, got {n_batches}"


def test_outer_stream_join_emits_null_rows_on_watermark(spark):
    """str_stream_join_outer's whole point: unmatched clicks must surface
    as (click, NULL) rows — emitted by state eviction when the watermark
    passes their join window, which only happens because the sentinel
    batches advance it. If the flushing batch logic breaks, the nulls
    silently disappear (the inner-join subset still matches) — so assert
    the null rows exist and sentinels are filtered out."""
    from cta_train_tracker_analytics_spark.plans import registry

    sf_dir = "/root/testdata/sf0.001"
    rows = registry.all_queries()["str_stream_join_outer"](spark, sf_dir).collect()
    assert all(r["user_id"] >= 0 for r in rows)
    unmatched = [r for r in rows if r["purchase_id"] is None]
    matched = [r for r in rows if r["purchase_id"] is not None]
    assert len(unmatched) > 0, "watermark eviction emitted no null rows"
    assert all(r["lag_s"] is None for r in unmatched)
    assert all(0 <= r["lag_s"] <= 1800 for r in matched)


def test_availablenow_runs_nodata_eviction_batch(spark, tmp_path):
    """Version-sensitivity pin for the r16 one-sentinel drain (ADVICE r16):
    str_stream_join_outer relies on availableNow running a SPARK-24156
    NO-DATA batch once the watermark has advanced — that empty batch is
    what evicts outer-join state and emits the (click, NULL) rows. A Spark
    upgrade that terminates availableNow without the no-data batch would
    silently drop every unmatched-click row. Pin the behavior on a 3-row
    staged source: (a) the unmatched click surfaces as a null-purchase
    row, and (b) the committed offset log records EXACTLY two batches —
    one data batch, one no-data eviction batch.

    Since r19 the drain must OPT IN via ``evict_emission=True`` — the
    bounded drains suppress no-data batches by default (pure fixed cost
    when the sink doesn't depend on eviction; see _no_data_batch_conf).
    This test pins both directions of that contract."""
    from pathlib import Path

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    click_dir, purchase_dir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    cp = str(tmp_path / "cp")
    sentinel_ts = t0 + dt.timedelta(hours=24)
    spark.createDataFrame(
        [(1, 1, t0), (2, 2, t0), (-1, -1, sentinel_ts)],
        "event_id long, user_id long, ts timestamp",
    ).coalesce(1).write.parquet(click_dir)
    spark.createDataFrame(
        [(10, 1, t0 + dt.timedelta(seconds=60)), (-2, -2, sentinel_ts)],
        "event_id long, user_id long, ts timestamp",
    ).coalesce(1).write.parquet(purchase_dir)

    schema = "event_id long, user_id long, ts timestamp"
    clicks = (
        spark.readStream.schema(schema)
        .parquet(click_dir)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(purchase_dir)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    )
    from cta_train_tracker_analytics_spark.streaming.pipelines import run_to_memory

    rows = (
        run_to_memory(joined, "append", cp, evict_emission=True)
        .filter(F.col("c_user") >= 0)
        .collect()
    )
    by_click = {r["click_id"]: r for r in rows}
    assert by_click[1]["purchase_id"] == 10
    assert by_click[2]["purchase_id"] is None, (
        "unmatched click lost its null row: availableNow no longer runs the "
        "SPARK-24156 no-data eviction batch on this Spark version — the "
        "one-sentinel drain in str_stream_join_outer needs a rework"
    )
    offsets = Path(cp) / "offsets"
    n_batches = len([p for p in offsets.iterdir() if not p.name.startswith(".")])
    assert n_batches == 2, (
        f"expected 1 data + 1 no-data batch, offset log has {n_batches}"
    )
    # and the r19 default (evict_emission=False) suppresses the no-data
    # batch: one committed batch, no null row for the unmatched click —
    # exactly why str_stream_join_outer must keep opting in.
    cp2 = str(Path(cp).parent / "cp_nodata_off")
    rows_off = (
        run_to_memory(joined, "append", cp2)
        .filter(F.col("c_user") >= 0)
        .collect()
    )
    assert {r["click_id"] for r in rows_off} == {1}
    offsets2 = Path(cp2) / "offsets"
    n2 = len([p for p in offsets2.iterdir() if not p.name.startswith(".")])
    assert n2 == 1, f"expected the single data batch, offset log has {n2}"


def test_scoped_state_partitions_restores_unset_as_unset(spark):
    # ADVICE r17: when the session never explicitly set the shuffle width,
    # the scope must restore by unsetting, not by pinning the implicit
    # default (e.g. "200") as an explicit conf on exit.
    from cta_train_tracker_analytics_spark.streaming.pipelines import (
        scoped_state_partitions,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    try:
        spark.conf.unset("spark.sql.shuffle.partitions")
        with scoped_state_partitions(spark, 8):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        assert spark.conf.get("spark.sql.shuffle.partitions", None) is None
        # and an explicitly-set width round-trips to the same value
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        with scoped_state_partitions(spark, 8):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        assert spark.conf.get("spark.sql.shuffle.partitions", None) == "16"
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_adaptive_state_width_derivation(monkeypatch):
    # r17 verdict #4: width derives from observed source volume — one code
    # path reproduces both measured optima (sf1 events=1M -> 8 at the
    # floor; sf10 events=10M -> 34 ~ the measured-best 32), keeps growing
    # with volume, and the env override still wins (the probes' width
    # counterfactuals depend on it).
    from cta_train_tracker_analytics_spark.streaming import pipelines as pl

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    pl.reset_stream_volume()
    assert pl.stream_state_partitions() == pl.STREAM_STATE_MIN_PARTITIONS
    pl.note_stream_volume(1_000_000)
    assert pl.stream_state_partitions() == 8       # sf1 regime: floor wins
    pl.note_stream_volume(9_000_000)               # multi-source sum
    assert pl.stream_state_partitions() == 34      # sf10 regime
    pl.reset_stream_volume()
    assert pl.stream_state_partitions() == pl.STREAM_STATE_MIN_PARTITIONS
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "32")
    pl.note_stream_volume(1)
    assert pl.stream_state_partitions() == 32      # hard override
    pl.reset_stream_volume()


def test_parquet_stream_observes_source_volume(spark, tmp_path):
    from cta_train_tracker_analytics_spark.streaming import pipelines as pl

    pl.reset_stream_volume()
    df = spark.createDataFrame([(i,) for i in range(17)], "k long")
    pl.parquet_stream(spark, df, str(tmp_path / "src"))
    assert pl._observed_input_rows == 17
    pl.reset_stream_volume()


def test_parquet_dir_rows_matches_spark_count(spark, tmp_path):
    """r19: the adaptive-width staging count is a pyarrow footer read (no
    Spark job); it must equal what spark.read.parquet().count() returns,
    including over multi-file dirs."""
    from cta_train_tracker_analytics_spark.data import parquet_dir_rows

    df = spark.createDataFrame([(i, float(i)) for i in range(123)], "k long, v double")
    d = str(tmp_path / "multi")
    df.repartition(4).write.mode("overwrite").parquet(d)
    assert parquet_dir_rows(d) == spark.read.parquet(d).count() == 123


def test_parquet_dir_rows_raises_without_part_files(spark, tmp_path):
    """A missing dir, or a partitioned one (part files one level down),
    has no *.parquet file to read: the footer count raises instead of
    reading 0 rows."""
    from cta_train_tracker_analytics_spark.data import parquet_dir_rows

    with pytest.raises(FileNotFoundError):
        parquet_dir_rows(str(tmp_path / "missing"))
    d = str(tmp_path / "partitioned")
    spark.createDataFrame([(i, i % 3) for i in range(30)], "k long, p int").write.partitionBy(
        "p"
    ).parquet(d)
    with pytest.raises(FileNotFoundError):
        parquet_dir_rows(d)


def test_parquet_dir_rows_counts_an_empty_staging_write(spark, tmp_path):
    """A staged frame with no rows still lays down a part file; its footer
    reads 0 rows, no raise."""
    from cta_train_tracker_analytics_spark.data import parquet_dir_rows

    d = str(tmp_path / "empty")
    spark.createDataFrame([], "k long").coalesce(1).write.parquet(d)
    assert parquet_dir_rows(d) == spark.read.parquet(d).count() == 0


def test_scoped_state_partitions_extra_confs_restore(spark):
    """The drains' scoped no-data-batch conf restores like the width pin:
    a never-set conf is UNSET on exit, an explicit one is re-set."""
    from cta_train_tracker_analytics_spark.streaming import pipelines as pl

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key, None)
    try:
        assert spark.conf.get(key, None) is None  # engine default, unset
        with pl.scoped_state_partitions(
            spark, extra=pl._no_data_batch_conf(evict_emission=False)
        ):
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key, None) is None
        spark.conf.set(key, "true")
        with pl.scoped_state_partitions(
            spark, extra=pl._no_data_batch_conf(evict_emission=True)
        ):
            assert spark.conf.get(key) == "true"
        assert spark.conf.get(key) == "true"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_no_data_batch_conf_values():
    from cta_train_tracker_analytics_spark.streaming import pipelines as pl

    off = pl._no_data_batch_conf(False)
    on = pl._no_data_batch_conf(True)
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    assert off[key] == "false" and on[key] == "true"
