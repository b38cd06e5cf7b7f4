"""Round-19 optimization pins: the single-parse expression rework of the
shared dedup/text operators (guide §5 — plan construction is
single-threaded driver time, re-paid per run; each Column operator costs
~13-37 py4j round-trips on this PySpark while one parsed expr string costs
~3).

Every converted operator is pinned PLAN-IDENTICAL to an inline replica of
the r18 Column-form construction via Dataset.sameSemantics (canonicalized
analyzed plans — True guarantees bit-identical execution for every input),
the same discipline as tests/test_round18_ops.py::test_sql_fragment
_twins_exact. The full oracle sweep (scripts/driver_sim.py) provides the
value-level proof on top.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cta_train_tracker_analytics_spark.functions.text import (
    MINHASH_PRIME,
    hash60,
    hash60_sql,
    tokens,
    tokens_sql,
)
from cta_train_tracker_analytics_spark.operators.dedup import (
    _pair_overlap,
    _shingle_rows,
    doc_shingles,
    doc_tokens,
    exact_dedup,
    hashed_shingles,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_candidate_pairs,
    simhash16,
    verified_containment_pairs,
    verified_jaccard_pairs,
    winnow_fingerprints,
)


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "pack my box with five dozen liquor jugs today"),
        (4, "pack my box with five dozen liquor jugs today"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_text_fragment_twins_exact(spark):
    df = _docs(spark)
    old = df.select(
        tokens(F.col("text")).alias("ts"), hash60(F.col("text")).alias("hv")
    )
    new = df.selectExpr(
        f"{tokens_sql('`text`')} AS ts", f"{hash60_sql('`text`')} AS hv"
    )
    assert new.sameSemantics(old)


def test_dedup_fragment_twins_exact(spark):
    """Every r19-converted dedup builder vs an inline replica of the r18
    Column-form construction."""
    df = _docs(spark)

    # exact_dedup
    old = df.groupBy(F.sha2(F.col("text"), 256).alias("content_hash")).agg(
        F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
    )
    assert exact_dedup(df).sameSemantics(old)

    # doc_tokens
    from cta_train_tracker_analytics_spark.operators.util import spread

    old = (
        spread(df, "doc_id")
        .select(
            F.col("doc_id").alias("id"),
            F.explode(tokens(F.col("text"))).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    assert doc_tokens(df).sameSemantics(old)

    # _shingle_rows + hashed_shingles
    n = 3
    toks = (
        spread(df, "doc_id")
        .select(F.col("doc_id").alias("id"), tokens(F.col("text")).alias("ts"))
        .filter(F.size("ts") >= n)
    )
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at("ts", i + j + 1) for j in range(n)]
    )
    old_rows = toks.select(
        "id",
        F.explode(
            F.transform(F.sequence(F.lit(0), F.size("ts") - n), shingle)
        ).alias("tok"),
    )
    assert _shingle_rows(df, n, "text", "doc_id").sameSemantics(old_rows)
    # an empty pass-through ``carry`` leaves every builder's plan unchanged
    assert _shingle_rows(df, n, "text", "doc_id", carry=()).sameSemantics(old_rows)
    assert doc_shingles(df, n=3).sameSemantics(old_rows.distinct())
    old_hashed = old_rows.select("id", hash60(F.col("tok")).alias("hv"))
    assert hashed_shingles(df, n=3, distinct=False).sameSemantics(old_hashed)
    assert hashed_shingles(df, n=3).sameSemantics(old_hashed.distinct())

    # minhash_signatures' input normalization (the permutation array was
    # already single-parse in r18; the h select changed in r19)
    tok = hashed_shingles(df, n=3, distinct=False)
    sig = minhash_signatures(tok)
    old_h = tok.select("id", (F.col("hv") % MINHASH_PRIME).alias("hv"))
    new_h = tok.selectExpr("id", f"hv % {MINHASH_PRIME} AS hv")
    assert new_h.sameSemantics(old_h)

    # minhash_candidate_pairs: band join + selects (the band structs were
    # already single-parse in r18)
    from cta_train_tracker_analytics_spark.functions.text import (
        MINHASH_BANDS,
        MINHASH_K,
    )

    rows_per_band = MINHASH_K // MINHASH_BANDS
    band_structs = []
    for band in range(MINHASH_BANDS):
        idx = range(band * rows_per_band, (band + 1) * rows_per_band)
        sig_str = "concat_ws(',', " + ", ".join(
            f"format_string('%02d:%d', {i}, mh{i})" for i in idx
        ) + ")"
        band_structs.append(
            f"struct({band} AS band, md5({sig_str}) AS band_hash)"
        )
    old_band_sig = sig.select(
        "id",
        F.expr("explode(array(" + ", ".join(band_structs) + "))").alias("b"),
    ).select(
        "id",
        F.col("b.band").alias("band"),
        F.col("b.band_hash").alias("band_hash"),
    )
    a = old_band_sig.alias("a")
    b = old_band_sig.alias("b")
    old_cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    cand = minhash_candidate_pairs(sig)
    assert cand.sameSemantics(old_cand)

    # _pair_overlap + the two verifiers
    def old_pair_overlap(candidates, tok_df, distinct_sets):
        elem = "hv" if "hv" in tok_df.columns else "tok"
        cand_ids = (
            candidates.select(F.col("id_a").alias("id"))
            .union(candidates.select(F.col("id_b").alias("id")))
            .distinct()
        )
        tok_c = tok_df.join(cand_ids, "id", "left_semi")
        if distinct_sets:
            tok_c = tok_c.distinct()
        sizes = tok_c.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
        inter = (
            candidates.join(
                tok_c.select(F.col("id").alias("id_a"), elem), "id_a"
            )
            .join(tok_c.select(F.col("id").alias("id_b"), elem), ["id_b", elem])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        return inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")),
            "id_a",
        ).join(
            sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")),
            "id_b",
        )

    assert _pair_overlap(cand, tok, True).sameSemantics(
        old_pair_overlap(cand, tok, True)
    )
    old_j = old_pair_overlap(cand, tok, True).withColumn(
        "jaccard",
        F.round(
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
            4,
        ),
    )
    old_jacc = old_j.filter(F.col("jaccard") >= 0.5).select(
        F.col("id_a").cast("bigint"),
        F.col("id_b").cast("bigint"),
        "jaccard",
    )
    assert verified_jaccard_pairs(cand, tok, 0.5, True).sameSemantics(old_jacc)
    old_c = old_pair_overlap(cand, tok, True).withColumn(
        "containment",
        F.round(F.col("n_inter") / F.least("n_a", "n_b").cast("double"), 4),
    )
    old_cont = old_c.filter(F.col("containment") >= 0.5).select(
        F.col("id_a").cast("bigint"),
        F.col("id_b").cast("bigint"),
        "containment",
    )
    assert verified_containment_pairs(cand, tok, 0.5, True).sameSemantics(
        old_cont
    )


def test_simhash_ngram_winnow_twins_exact(spark):
    df = _docs(spark)

    # simhash16
    tok = doc_tokens(df)
    h = tok.select("id", (hash60(F.col("tok"))).alias("hv"))
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("hv"), j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(16)
    ]
    sums = h.groupBy("id").agg(*bit_sums)
    packed = sum(
        (
            F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(0)
            for j in range(16)
        ),
        F.lit(0),
    )
    old = sums.select("id", packed.cast("bigint").alias("simhash"))
    assert simhash16(df).sameSemantics(old)

    # ngram_candidate_pairs
    ngrams = (
        _shingle_rows(df, 3, "text", "doc_id")
        .select("id", F.col("tok").alias("ng"))
        .distinct()
    )
    rare = (
        ngrams.groupBy("ng")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq").between(2, 5))
    )
    blocked = ngrams.join(rare.select("ng"), "ng")
    a = blocked.alias("a")
    b = blocked.alias("b")
    old_ng = (
        a.join(
            b,
            (F.col("a.ng") == F.col("b.ng")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    assert ngram_candidate_pairs(df).sameSemantics(old_ng)

    # winnow_fingerprints
    from cta_train_tracker_analytics_spark.operators.util import spread

    k, w = 8, 16
    text = F.lower(F.trim(F.col("text")))
    base = spread(df, "doc_id").select(
        F.col("doc_id").alias("id"),
        text.alias("__t"),
        F.greatest(F.length(text) - (k - 1), F.lit(0)).alias("__ng"),
    )
    grams = base.select(
        "id",
        "__ng",
        F.explode(F.sequence(F.lit(1), F.col("__ng"))).alias("pos"),
        "__t",
    ).select(
        "id",
        "__ng",
        "pos",
        hash60(F.col("__t").substr(F.col("pos"), F.lit(k))).alias("h"),
    )
    win = Window.partitionBy("id").orderBy("pos").rangeBetween(0, w - 1)
    mins = grams.withColumn("fp", F.min("h").over(win)).filter(
        F.col("pos") <= F.col("__ng") - (w - 1)
    )
    old_fp = mins.select("id", "fp").distinct()
    assert winnow_fingerprints(df).sameSemantics(old_fp)


def test_minhash_accuracy_est_block_twin_exact(spark):
    """The ext_minhash_accuracy signature-compare block (34 aliased
    columns + 16 comparisons, the registry's chattiest build at ~4000
    py4j round-trips) vs the r18 Column form."""
    df = _docs(spark)
    tok = hashed_shingles(df, n=3, distinct=False)
    sig = minhash_signatures(tok)
    cand = minhash_candidate_pairs(sig)

    old_sig_a = sig.select(
        F.col("id").alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(16)],
    )
    old_sig_b = sig.select(
        F.col("id").alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(16)],
    )
    old_n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(16)
    )
    old_est = (
        cand.join(old_sig_a, "id_a")
        .join(old_sig_b, "id_b")
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            F.round(old_n_match / F.lit(16.0), 4).alias("est_j"),
        )
    )
    exact = verified_jaccard_pairs(cand, tok, threshold=0.0, distinct_sets=True)
    old_out = (
        old_est.join(
            exact.withColumnRenamed("jaccard", "exact_j"),
            ["id_a", "id_b"],
            "left",
        )
        .withColumn("exact_j", F.coalesce("exact_j", F.lit(0.0)))
        .withColumn(
            "abs_err", F.round(F.abs(F.col("est_j") - F.col("exact_j")), 4)
        )
    )

    new_sig_a = sig.selectExpr(
        "id AS id_a", *[f"mh{i} AS a{i}" for i in range(16)]
    )
    new_sig_b = sig.selectExpr(
        "id AS id_b", *[f"mh{i} AS b{i}" for i in range(16)]
    )
    nm = " + ".join(f"cast((a{i} = b{i}) as int)" for i in range(16))
    new_est = (
        cand.join(new_sig_a, "id_a")
        .join(new_sig_b, "id_b")
        .selectExpr(
            "cast(id_a as bigint) AS id_a",
            "cast(id_b as bigint) AS id_b",
            f"round((0 + {nm}) / 16.0D, 4) AS est_j",
        )
    )
    new_out = (
        new_est.join(
            exact.withColumnRenamed("jaccard", "exact_j"),
            ["id_a", "id_b"],
            "left",
        )
        .withColumn("exact_j", F.expr("coalesce(exact_j, 0.0D)"))
        .withColumn("abs_err", F.expr("round(abs(est_j - exact_j), 4)"))
    )
    assert new_out.sameSemantics(old_out)


def test_pq_pack_twin_exact(spark):
    """ext_embed_pq's single-parse pack (pq_pack_sql over pq_code_sqls)
    vs the r18 Column construction (pq_code_cols + pq_pack) — the last
    item of the r18 verdict's py4j long-tail list."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from cta_train_tracker_analytics_spark.operators.similarity import (
        pq_code_cols,
        pq_code_sqls,
        pq_pack,
        pq_pack_sql,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    rows = [(i, [float(i + d) / 7.0 for d in range(64)]) for i in range(10)]
    df = spark.createDataFrame(rows, schema)
    old = df.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        pq_pack(pq_code_cols("embedding")).alias("pq_code"),
    )
    new = df.selectExpr(
        "cast(vec_id as bigint) AS vec_id",
        f"{pq_pack_sql(pq_code_sqls('embedding'))} AS pq_code",
    )
    assert new.sameSemantics(old)
