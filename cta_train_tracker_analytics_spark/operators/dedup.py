"""Deduplication operators for LLM training-data pipelines (north star;
SURVEY.md §2.11): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design — the one rule: **never compare all pairs**. Every near-dup
operator here blocks candidates through an equi-joinable key (LSH band
bucket, simhash band, rare n-gram) so Catalyst plans shuffled hash joins on
bounded buckets; the exact similarity check runs only inside buckets. At
100 TB the bucket join shuffles O(docs × bands) rows — linear, not
quadratic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import spread
from .similarity import q_ident
from ..functions.text import (
    MINHASH_BANDS,
    MINHASH_K,
    MINHASH_PRIME,
    fingerprint,
    hash60,
    hash60_sql,
    minhash_params,
    tokens,
    tokens_sql,
)

__all__ = [
    "exact_dedup",
    "doc_tokens",
    "doc_shingles",
    "hashed_shingles",
    "minhash_signatures",
    "minhash_candidate_pairs",
    "simhash16",
    "ngram_candidate_pairs",
    "verified_jaccard_pairs",
    "verified_containment_pairs",
    "group_star_edges",
    "connected_components",
    "connected_components_alternating",
]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: one surviving row (min id) per sha256.
    A single hash aggregate — the cheapest possible full-corpus dedup."""
    return df.groupBy(
        F.expr(f"sha2({q_ident(text_col)}, 256)").alias("content_hash")
    ).agg(
        F.expr(f"cast(min({q_ident(id_col)}) as bigint) AS keep_doc_id"),
        F.expr("cast(count(1) as bigint) AS n_copies"),
    )


def doc_tokens(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, tok) distinct token pairs — the exploded set representation every
    set-similarity operator shares."""
    return (
        spread(df, id_col)
        .selectExpr(
            f"{q_ident(id_col)} AS id",
            f"explode({tokens_sql(q_ident(text_col))}) AS tok",
        )
        .filter(F.expr("tok != ''"))
        .distinct()
    )


def _shingle_rows(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Non-distinct (id, *carry, tok) word n-gram shingle rows — the shared
    core of the string and hashed shingle-set builders below. ``carry``
    names per-document columns passed through beside ``id`` (e.g. a
    domain flag a per-(doc, shingle) aggregate keys on); the default adds
    nothing, so the plan is unchanged for every caller that omits it."""
    # Docs shorter than n tokens produce no shingles; filtering them FIRST
    # makes every element_at position provably in-bounds (i ∈ [0, size−n],
    # j < n ⇒ i+j+1 ∈ [1, size]), so the plain ANSI-safe element_at applies
    # — no try_ null handling, no per-shingle split()-arity post-filter.
    # element_at per position instead of slice(): no per-shingle sub-array
    # allocation inside the interpreted higher-order transform (~25% faster
    # on measurement, byte-identical output: tokens are whitespace-free, so
    # with all positions in bounds every shingle has exactly n tokens).
    # Single-parse expression strings (r19): the Column form of this
    # builder cost ~280 py4j round-trips per plan build, re-paid per run
    # by every shingle-consuming query (sameSemantics-pinned twin).
    kept = [q_ident(c) for c in carry]
    toks = spread(df, id_col).selectExpr(
        f"{q_ident(id_col)} AS id",
        *kept,
        f"{tokens_sql(q_ident(text_col))} AS ts",
    ).filter(F.expr(f"size(ts) >= {n}"))
    shingle = "concat_ws(' ', " + ", ".join(
        f"element_at(ts, i + {j} + 1)" for j in range(n)
    ) + ")"
    return toks.selectExpr(
        "id",
        *kept,
        f"explode(transform(sequence(0, size(ts) - {n}), i -> {shingle}))"
        " AS tok",
    )


def doc_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, tok) distinct word n-gram shingles. Shingles — not unigrams —
    are the right minhash unit: on small-vocabulary corpora unigram sets
    are near-identical across documents, which turns 'near-dup pairs' into
    a quadratic all-pairs result (measured: 4.3M pairs on 5k synthetic
    docs). Shingles keep similarity sparse, so candidate sets stay linear."""
    return _shingle_rows(df, n, text_col, id_col).distinct()


def hashed_shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """(id, hv) HASHED shingle sets: each shingle string collapses to its
    portable 60-bit hash *at the map side*, before any shuffle. Two scale
    wins over the string form: the shuffle rows are 16-byte (bigint,
    bigint) pairs instead of strings, and every downstream consumer
    (signatures, Jaccard verify joins) operates on bigints. 60-bit
    collisions are negligible (~2e-5 expected per 1M distinct shingles) and
    the oracle replays the identical md5-derived hash, so parity is exact
    even when one occurs.

    ``distinct=False`` skips the corpus-wide dedup exchange and returns raw
    occurrence rows — correct whenever the consumer is duplicate-insensitive
    (minhash MIN aggregation) or distincts a restricted subset itself
    (``verified_jaccard_pairs(distinct_sets=True)``). On a 100 TB corpus
    that exchange is a full shuffle of the token stream; skipping it is the
    difference between one map-side pass and two corpus-wide stages."""
    rows = _shingle_rows(df, n, text_col, id_col).selectExpr(
        "id", f"{hash60_sql('tok')} AS hv"
    )
    return rows.distinct() if distinct else rows


def minhash_signatures(tok_df: DataFrame) -> DataFrame:
    """MinHash signatures in WIDE form: (id, mh0..mh{K-1}).

    All K permutations are evaluated as one array expression per token row,
    then reduced with K ``min`` aggregates in a SINGLE hash aggregate — one
    shuffle of |tokens| rows, versus exploding K× rows (the naive layout
    shuffled 16× the data; measured 4.3s → sub-second at sf0.1). The
    permutation constants are LCG-derived (functions/text.py) so oracles
    can replicate exactly.

    Accepts either the string shingle set (id, tok) or the pre-hashed
    (id, hv) form from ``hashed_shingles`` — the hashed form skips the
    per-row md5 here entirely.
    """
    if "hv" in tok_df.columns:
        h = tok_df.selectExpr("id", f"hv % {MINHASH_PRIME} AS hv")
    else:
        h = tok_df.selectExpr(
            "id", f"{hash60_sql('tok')} % {MINHASH_PRIME} AS hv"
        )
    perms = minhash_params()
    # single-parse expression strings (r18): the per-permutation Column
    # arithmetic cost ~6 py4j round-trips × K per plan BUILD — ~100 calls
    # re-paid per fresh DataFrame; one expr() string parses the identical
    # tree in one round-trip (bare integer literals < 2^31 parse as INT,
    # exactly F.lit's type, so the analyzed tree is unchanged).
    pv = F.expr(
        "array("
        + ",".join(f"({a} * hv + {b}) % {MINHASH_PRIME}" for a, b in perms)
        + ")"
    )
    return h.select("id", pv.alias("pv")).groupBy("id").agg(
        *[F.expr(f"min(pv[{i}]) AS mh{i}") for i in range(MINHASH_K)]
    )


def minhash_candidate_pairs(sig: DataFrame) -> DataFrame:
    """LSH banding: equal (band, band-signature) → candidate pair. The join
    key is the md5 of the band's ordered "ii:mh" strings (identical to the
    oracle's string_agg ORDER BY i), so buckets are equi-joinable strings.
    Returns distinct (id_a, id_b), id_a < id_b.

    Scale note: a family of k EXACT duplicates shares every band → one
    bucket of size k → k² candidate pairs. On corpora with massive dup
    families, run ``exact_dedup`` first and LSH only the unique survivors —
    the standard two-stage pipeline. AQE skew-join handles moderate
    bucket skew."""
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
    band_sig = sig.select(
        "id",
        F.expr("explode(array(" + ", ".join(band_structs) + "))").alias("b"),
    ).selectExpr("id", "b.band AS band", "b.band_hash AS band_hash")
    a = band_sig.alias("a")
    b = band_sig.alias("b")
    return (
        a.join(
            b,
            F.expr(
                "a.band = b.band AND a.band_hash = b.band_hash AND a.id < b.id"
            ),
        )
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )


def verified_jaccard_pairs(
    candidates: DataFrame,
    tok_df: DataFrame,
    threshold: float,
    distinct_sets: bool = False,
) -> DataFrame:
    """Exact Jaccard verification, candidates only: intersection via a
    two-way equi-join on the set element, union by |A|+|B|−|A∩B|. No pair
    blow-up — the candidate set is already blocked. Works on either the
    string shingle set (id, tok) or the hashed (id, hv) form; the hashed
    form joins on bigints, not strings.

    ``distinct_sets=True`` declares that ``tok_df`` carries raw occurrence
    rows (``hashed_shingles(distinct=False)``): the dedup to set semantics
    then runs AFTER the candidate-id restriction, over the small verify
    working set instead of the whole corpus."""
    out = _pair_overlap(candidates, tok_df, distinct_sets).withColumn(
        "jaccard",
        F.expr(
            "round(n_inter / cast(n_a + n_b - n_inter as double), 4)"
        ),
    )
    return out.filter(F.col("jaccard") >= threshold).selectExpr(
        "cast(id_a as bigint) AS id_a",
        "cast(id_b as bigint) AS id_b",
        "jaccard",
    )


def verified_containment_pairs(
    candidates: DataFrame,
    tok_df: DataFrame,
    threshold: float,
    distinct_sets: bool = False,
) -> DataFrame:
    """Exact CONTAINMENT verification, candidates only: score =
    |A∩B| / min(|A|, |B|) — the asymmetric complement to Jaccard that
    catches sub-document copies (a short doc embedded in a long one keeps
    high containment while its Jaccard collapses toward |A|/|B|). Same
    candidate-restricted plan shape as ``verified_jaccard_pairs``."""
    out = _pair_overlap(candidates, tok_df, distinct_sets).withColumn(
        "containment",
        F.expr("round(n_inter / cast(least(n_a, n_b) as double), 4)"),
    )
    return out.filter(F.col("containment") >= threshold).selectExpr(
        "cast(id_a as bigint) AS id_a",
        "cast(id_b as bigint) AS id_b",
        "containment",
    )


def _pair_overlap(
    candidates: DataFrame, tok_df: DataFrame, distinct_sets: bool
) -> DataFrame:
    """(id_a, id_b, n_inter, n_a, n_b) for each candidate pair — the shared
    core of the set-overlap verifiers. Works on either the string shingle
    set (id, tok) or the hashed (id, hv) form; the hashed form joins on
    bigints, not strings."""
    elem = "hv" if "hv" in tok_df.columns else "tok"
    # Restrict the set table to ids that appear in ANY candidate pair
    # before the pair joins: the verify stage then scales with the
    # candidate set (LSH keeps it linear), not the corpus — at 100 TB the
    # full (id, elem) table never re-shuffles for verification. AQE turns
    # these semi-joins into broadcasts when the candidate id list is small.
    cand_ids = (
        candidates.selectExpr("id_a AS id")
        .union(candidates.selectExpr("id_b AS id"))
        .distinct()
    )
    tok_c = tok_df.join(cand_ids, "id", "left_semi")
    if distinct_sets:
        tok_c = tok_c.distinct()
    sizes = tok_c.groupBy("id").agg(F.expr("count(1) AS n"))
    inter = (
        candidates.join(tok_c.selectExpr("id AS id_a", elem), "id_a")
        .join(tok_c.selectExpr("id AS id_b", elem), ["id_b", elem])
        .groupBy("id_a", "id_b")
        .agg(F.expr("count(1) AS n_inter"))
    )
    return inter.join(
        sizes.selectExpr("id AS id_a", "n AS n_a"), "id_a"
    ).join(sizes.selectExpr("id AS id_b", "n AS n_b"), "id_b")


def simhash16(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash: per bit, sum +1/−1 over distinct token hashes; the
    fingerprint packs positive bits. Wide form: 16 integer sums in ONE hash
    aggregate (no 16× bit explode) — linear work, exact integer arithmetic
    (oracle-reproducible)."""
    tok = doc_tokens(df, text_col, id_col)
    h = tok.selectExpr("id", f"{hash60_sql('tok')} AS hv")
    # single-parse (r19): the 16 per-bit sum Columns cost ~1500 py4j
    # round-trips per build; the expr strings parse the identical trees
    # (CASE WHEN == when/otherwise, shiftright/& == the Column operators).
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(hv, {j}) & 1) = 1 THEN 1 ELSE -1 END)"
            f" AS s{j}"
        )
        for j in range(16)
    ]
    sums = h.groupBy("id").agg(*bit_sums)
    packed = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16)
    )
    return sums.selectExpr("id", f"cast(0 + {packed} as bigint) AS simhash")


def ngram_candidate_pairs(
    df: DataFrame,
    n: int = 3,
    max_df: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocking by *rare* word n-grams: docs sharing an n-gram whose document
    frequency ≤ ``max_df`` become candidates. The df cap is the scale lever —
    common n-grams (the quadratic ones) never join."""
    # Shared sliding-window shingle builder (see _shingle_rows: short docs
    # pre-filtered so every element_at position is in bounds under ANSI).
    ngrams = (
        _shingle_rows(df, n, text_col, id_col)
        .selectExpr("id", "tok AS ng")
        .distinct()
    )
    rare = (
        ngrams.groupBy("ng")
        .agg(F.expr("count(1) AS dfreq"))
        # expanded form, not SQL BETWEEN: the parser's between() is a
        # RuntimeReplaceable node that canonicalizes differently from
        # Column.between's (>= AND <=) tree
        .filter(F.expr(f"dfreq >= 2 AND dfreq <= {max_df}"))
    )
    blocked = ngrams.join(rare.select("ng"), "ng")
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(b, F.expr("a.ng = b.ng AND a.id < b.id"))
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    w: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every k-char
    gram with the portable 60-bit hash, keep the minimum of each w-length
    sliding window, distinct per document → (id, fp) rows. Sharing an fp
    value is the blocking key for partial-overlap detection.

    Plan shape: explode gram positions (each gram hashed exactly ONCE),
    sliding-window min via a RANGE frame over the position — a nested
    array `transform` would re-evaluate the whole hash array per window
    (measured O(n·w) md5 blowup, 140s → ~2s on 50 docs)."""
    text = f"lower(trim({q_ident(text_col)}))"
    base = spread(df, id_col).selectExpr(
        f"{q_ident(id_col)} AS id",
        f"{text} AS __t",
        f"greatest(length({text}) - {k - 1}, 0) AS __ng",
    )
    grams = base.selectExpr(
        "id",
        "__ng",
        "explode(sequence(1, __ng)) AS pos",
        "__t",
    ).selectExpr(
        "id", "__ng", "pos",
        f"{hash60_sql(f'substring(__t, pos, {k})')} AS h",
    )
    win = Window.partitionBy("id").orderBy("pos").rangeBetween(0, w - 1)
    mins = grams.withColumn("fp", F.min("h").over(win)).filter(
        F.expr(f"pos <= __ng - {w - 1}")
    )
    return mins.select("id", "fp").distinct()


def group_star_edges(df: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Star edges for one dedup signal: every doc links to the MIN id of its
    signal group — (id, root) with id > root only. Linear in |docs|: a group
    of k duplicates yields k−1 edges, never the k² pair blow-up of emitting
    all within-group pairs. The star representation is exactly what the
    connected-components pass below consumes."""
    w = Window.partitionBy("__k")
    return (
        df.select(F.col(id_col).alias("id"), key.alias("__k"))
        .withColumn("root", F.min("id").over(w))
        .filter(F.col("id") != F.col("root"))
        .select("id", "root")
    )


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components by iterative min-label propagation:
    label(v) ← min(label(v), min over neighbors' labels) until fixpoint.
    Input: undirected edges (id, root); output (id, label) for every node
    that appears in an edge — isolated nodes are their own component and can
    be restored with a left join downstream.

    Each iteration is one shuffled join + one hash aggregate — and exactly
    ONE Spark job: the convergence flag (`nbr_min < label`) is computed
    inside the label update itself, and the new labels are a *lazy*
    ``localCheckpoint`` materialized by the flag count, so detection costs
    no extra join and no extra action (the previous shape ran a second
    shuffled join + count per round — 2 jobs and an O(N) shuffle purely for
    bookkeeping). ``localCheckpoint`` truncates the plan lineage so
    iteration N's DAG does not replay iterations 1..N−1 (unbounded lineage
    is the classic iterative-Spark failure at scale). Convergence needs
    O(diameter) rounds; dedup
    graphs built from star edges have tiny diameters (≤ 2 per signal, so a
    handful of rounds even when signals chain). For adversarial long-path
    graphs the doubling variant (large-star/small-star, Kiveris et al.) drops
    rounds to O(log n) — same join shape, documented here as the scale-out
    upgrade path."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    sym = edges.select(F.col("id").alias("src"), F.col("root").alias("dst")).union(
        edges.select(F.col("root").alias("src"), F.col("id").alias("dst"))
    )
    sym = sym.distinct().localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
            .withColumnRenamed("src", "id")
        )
        # the change flag rides along with the update — no second join;
        # lazy checkpoint: the flag count below is the job that both
        # materializes the new labels AND detects convergence (a full
        # count, not limit(1), so every partition is computed and the
        # checkpoint is complete before the next iteration reuses it)
        new_labels = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
            ).alias("label"),
            F.coalesce(F.col("nbr_min") < F.col("label"), F.lit(False)).alias(
                "__chg"
            ),
        ).localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("__chg")).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    else:
        # Exhausting the iteration budget without a fixpoint means the
        # labels are NOT component ids yet — returning them silently would
        # hand the caller wrong clusters. Fail loudly; callers with
        # genuinely deep graphs should raise max_iter or switch to the
        # O(log n)-round large-star/small-star variant.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"({changed} labels still changing); the graph's diameter exceeds "
            "the iteration budget — raise max_iter or use the "
            "large-star/small-star variant."
        )
    return labels


def connected_components_alternating(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components by ALTERNATING large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log n)-round scale path where plain min-label
    propagation (``connected_components``) needs O(diameter) rounds.

    Each round is two grouped aggregations + joins over canonical (u, v)
    edge pairs (u > v), with ``localCheckpoint`` truncating lineage:

    - **large-star(u)**: over the symmetric neighborhood, every neighbor
      LARGER than u re-links to m = min(N(u) ∪ {u}) — tall trees flatten.
    - **small-star(u)**: over the directed (u → smaller v) view, every
      neighbor (and u itself) links to m = min(N(u) ∪ {u}) — stars merge.

    Star graphs (every node → its component min) are fixpoints of both
    steps, so convergence is detected by edge-set equality; the fixpoint
    edge set IS the labeling. Output matches ``connected_components``:
    (id, label) for every node that appears in an edge, label = component
    min (roots label themselves). Raises on non-convergence rather than
    returning a half-contracted graph."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    e = (
        edges.select(
            F.greatest("id", "root").alias("u"), F.least("id", "root").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        sym = e.select(F.col("u").alias("c"), F.col("v").alias("n")).union(
            e.select(F.col("v").alias("c"), F.col("u").alias("n"))
        )
        mins = (
            sym.groupBy("c")
            .agg(F.min("n").alias("mn"))
            .select("c", F.least("c", "mn").alias("m"))
        )
        large = (
            sym.join(mins, "c")
            .filter(F.col("n") > F.col("c"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # edge-set symmetric difference in ONE job: a full-outer join with
        # presence markers replaces the former two left_anti counts (3 jobs
        # per round → 1); counting it also materializes small's lazy
        # checkpoint, so no separate eager-checkpoint job either
        changed = (
            small.withColumn("__l", F.lit(1))
            .join(e.withColumn("__r", F.lit(1)), ["u", "v"], "full")
            .filter(F.col("__l").isNull() | F.col("__r").isNull())
            .count()
        )
        e = small
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_alternating did not converge in {max_iter} "
            f"rounds ({changed} edge changes in the last round); raise max_iter."
        )
    # fixpoint edges are (node → component min); component minima label
    # themselves (they never appear on the u side of a star edge)
    return nodes.join(
        e.select(F.col("u").alias("id"), F.col("v").alias("__lbl")), "id", "left"
    ).select("id", F.coalesce(F.col("__lbl"), F.col("id")).alias("label"))


def latest_fingerprint_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Normalized-fingerprint dedup: groups by the whitespace/case-normalized
    md5 fingerprint, keeps the lowest id."""
    return df.groupBy(fingerprint(F.col(text_col)).alias("fp")).agg(
        F.min(id_col).cast("bigint").alias("keep_doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
    )
