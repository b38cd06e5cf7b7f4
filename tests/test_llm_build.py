"""LLM-tier plan builds: the shared n-gram builder's pass-through columns,
ext_dsir_weights on that builder, and IVF cell counts read from parquet
footers instead of a count job inside the build. (That ``carry=()`` leaves
the shingle builders' plans unchanged is pinned in test_round19_ops.)"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from cta_train_tracker_analytics_spark.data import footer_rows, load
from cta_train_tracker_analytics_spark.operators.dedup import _shingle_rows
from cta_train_tracker_analytics_spark.operators.similarity import (
    dot_sql,
    ivf_cells,
    vector_rows,
)
from cta_train_tracker_analytics_spark.plans.llm import ext_dsir_weights


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "src0"),
        (2, "the quick brown fox jumps over the lazy cat", "src1"),
        (3, "pack my box with five dozen liquor jugs", "src0"),
        (4, "solo", "src1"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_shingle_carry_passes_columns_through(spark):
    df = _docs(spark).selectExpr("doc_id", "text", "source = 'src0' AS is_t")
    got = _shingle_rows(df, 2, "text", "doc_id", carry=("is_t",))
    assert got.columns == ["id", "is_t", "tok"]
    plain = _shingle_rows(df, 2, "text", "doc_id")
    flags = df.selectExpr("doc_id AS id", "is_t")
    assert sorted(map(tuple, got.collect())) == sorted(
        (r["id"], r["is_t"], r["tok"]) for r in plain.join(flags, "id").collect()
    )
    # the one-token document yields no bigram
    assert {r["id"] for r in got.collect()} == {1, 2, 3}


def test_dsir_bigram_stage_runs_at_full_width(spark):
    """The tokenize/hash/count stage that feeds the pinned table runs on
    every core even though the documents file reads as one partition."""
    sc = spark.sparkContext
    width = sc.defaultParallelism
    assert load(spark, SF_DIR, "documents").rdd.getNumPartitions() == 1
    group = "test-dsir-build-width"
    sc.setJobGroup(group, group)
    try:
        ext_dsir_weights(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    ]
    assert max(tasks) >= width


#: the sf0.01 and sf0.1 test tables, next to the default test scale
_SCALES = [os.path.join(os.path.dirname(SF_DIR), sf) for sf in ("sf0.01", "sf0.1")]


def _old_cells(emb):
    return max(8, math.ceil(emb.count() / 250))


@pytest.mark.parametrize("sf", _SCALES)
def test_ivf_cells_matches_count_formula(spark, sf):
    emb = load(spark, sf, "embeddings").filter(F.col("embedding").isNotNull())
    assert footer_rows(emb.inputFiles(), non_null="embedding") is not None
    assert vector_rows(emb) == emb.count()
    assert ivf_cells(emb) == _old_cells(emb)


def test_ivf_cells_counts_when_embeddings_have_nulls(spark, tmp_path):
    """The sweep's null mutation: every 10th embedding nulled. The footer
    statistics show nulls, so the helper counts the non-null rows."""
    d = str(tmp_path / "embeddings.parquet")
    load(spark, SF_DIR, "embeddings").withColumn(
        "embedding",
        F.when(F.col("vec_id") % 10 == 0, F.lit(None)).otherwise(F.col("embedding")),
    ).write.parquet(d)
    emb = spark.read.parquet(d).filter(F.col("embedding").isNotNull())
    total = spark.read.parquet(d).count()
    assert footer_rows(emb.inputFiles(), non_null="embedding") is None
    assert footer_rows(emb.inputFiles()) == total
    assert vector_rows(emb) == emb.count() < total
    assert ivf_cells(emb) == _old_cells(emb)


def test_ivf_cells_counts_an_empty_table(spark, tmp_path):
    d = str(tmp_path / "embeddings.parquet")
    load(spark, SF_DIR, "embeddings").limit(0).write.parquet(d)
    emb = spark.read.parquet(d).filter(F.col("embedding").isNotNull())
    assert footer_rows(emb.inputFiles(), non_null="embedding") is None
    assert vector_rows(emb) == 0
    assert ivf_cells(emb) == 8


def test_dot_sql_rejects_non_fragments():
    with pytest.raises(TypeError):
        dot_sql(F.col("a"), "b")
    with pytest.raises(TypeError):
        dot_sql("a", "")
    assert dot_sql("a", "b").startswith("aggregate(zip_with(a, b,")
