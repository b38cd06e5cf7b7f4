"""Similarity search over embedding columns (north star; SURVEY.md §2.11).

Two tiers, both avoiding the all-pairs trap:

- ``topk_cosine``: small query set **broadcast** against the corpus — one
  scan of the corpus, k-way row multiplication only (k = #queries). This is
  the correct *exact* plan at 100 TB when k is small: no shuffle of the
  corpus, per-partition top-k before the final merge.
- ``lsh_bucketed_pairs``: sign-random-projection LSH for corpus×corpus
  near-neighbor discovery — bucket on the sign bits of deterministic integer
  hyperplanes, equi-join buckets, verify cosine inside buckets only.

All float math is done in double with a fixed left-to-right fold
(``aggregate`` over ``zip_with``), so the DuckDB oracle reproduces values
bit-for-bit before rounding.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..data import footer_rows
from ..functions.text import lcg
from .util import spread

__all__ = [
    "dot",
    "norm",
    "cosine",
    "topk_cosine",
    "vector_rows",
    "ivf_cells",
    "ivf_assign",
    "ivf_assign_multi",
    "ivf_assign_sharded",
    "ivf_assign_sharded_multi",
    "ivf_assign_two_level",
    "ivf_topk",
    "projection_planes",
    "adaptive_planes",
    "lsh_bucketed_pairs",
    "lsh_banded_pairs",
]

#: floor hyperplane count for sign-LSH (bucket id = 8 sign bits).
LSH_PLANES = 8

#: hard cap on adaptive plane count (2^24 = 16.7M buckets) — beyond this the
#: per-bucket verify is parallel enough and extra bits only cost recall.
LSH_PLANES_CAP = 24

#: expected rows per bucket the adaptive sizing aims for. 64 (was 1024
#: through round 11): in-bucket verify is occupancy/2 cosine folds PER
#: ROW, so the target IS the linear constant — and the floor of 8 bits
#: means occupancy GROWS with N until N = target·2^8, quadratic pair
#: volume all the way (measured: ext_dedup_embed ran 17.8× for 10× data
#: on the 2k→20k transition under target 1024, whose linear regime only
#: started at 262k rows). Target 64 starts the linear regime at 16k rows
#: and caps verify work at ≤32 folds/row; the per-bit recall cost is
#: compensated in the banded op by its table rule (below).
LSH_TARGET_BUCKET_ROWS = 64


def adaptive_planes(
    n_rows: int,
    target_bucket_rows: int = LSH_TARGET_BUCKET_ROWS,
    floor: int = LSH_PLANES,
    cap: int = LSH_PLANES_CAP,
) -> int:
    """Size the sign-LSH plane count to the corpus: smallest ``planes`` with
    ``2^planes >= n_rows / target_bucket_rows``, clamped to [floor, cap].

    A fixed 2^8 = 256 buckets makes the in-bucket verify ~N²/256 candidate
    pairs — quadratic in the corpus. Scaling buckets with N keeps expected
    bucket occupancy ~constant (``target_bucket_rows``), so verify work grows
    ~linearly with N at a given density. The trade is recall: each extra sign
    bit multiplies single-table recall by ~(1 − θ/π) for pairs at angle θ;
    callers needing high recall at high planes should union several plane
    tables (banding, as the minhash path does) rather than drop the bits.

    Replayed bit-for-bit by the DuckDB oracle under ``ext_dedup_embed``
    (plans/llm.py) — keep the two formulas in lockstep."""
    import math

    if n_rows <= target_bucket_rows:
        return floor
    return max(floor, min(cap, math.ceil(math.log2(n_rows / target_bucket_rows))))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double — order-stable across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --- SQL-fragment twins of dot/norm (r18 optimization round 1) -----------
#
# Constructing the Column form of `dot` costs ~110 py4j round-trips
# (zip_with + aggregate + two lambdas + per-element arithmetic Columns);
# at the ~0.5-1 ms/round-trip this sandbox class measures, every dot()
# CALL SITE adds 50-150 ms of single-threaded driver time to plan
# construction — re-paid per run, since each run builds a fresh
# DataFrame. The assignment operators below reference dot 3-6 times each,
# so their BUILD phase (measured via scripts/overhead_profile.py) was
# ~1 s of pure expression construction before any job ran. The fragment
# twins render the same expression as ONE F.expr string (one round-trip,
# sub-ms JVM parse). The parsed tree is the identical analyzed
# expression: `cast(x as double)` == Column.cast("double"), `0.0D` ==
# F.lit(0.0) (DoubleType literal), zip_with/aggregate resolve to the
# same higher-order functions — pinned bit-for-bit by
# tests/test_round18_ops.py::test_sql_fragment_twins_exact and by the
# full oracle parity sweep.

def q_ident(name: str) -> str:
    """Backtick-quote a caller-supplied column name for an expr fragment."""
    return "`" + name.replace("`", "``") + "`"


def dot_sql(a: str, b: str) -> str:
    """SQL fragment: the same sequential left-to-right double fold as
    ``dot``.

    CONTRACT (ADVICE r18): ``a``/``b`` are raw SQL FRAGMENTS, interpolated
    verbatim — a caller-supplied column NAME must be pre-quoted with
    ``q_ident`` (a name containing a dot, backtick or keyword would
    otherwise mis-resolve or parse as SQL). In-tree call sites pass either
    q_ident-quoted names or fragments they rendered themselves."""
    if not (isinstance(a, str) and isinstance(b, str) and a and b):
        raise TypeError(
            "dot_sql takes non-empty SQL fragment strings (q_ident-quote "
            f"plain names); got {type(a).__name__} and {type(b).__name__}"
        )
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * "
        f"cast(y as double)), 0.0D, (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def scored_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, cos_sim) for every query×corpus pair — the shared
    scoring pass under exact top-k search and the recall audit (which ranks
    the SAME scores twice, once unrestricted and once cell-restricted).

    Norms are computed ONCE per vector (|Q|+|corpus| array folds), not per
    pair (|Q|×|corpus| folds): higher-order-function folds are interpreted,
    so hoisting them out of the pair loop is a ~3× cut in fold work. The
    cosine value is bit-identical — same dot/sqrt expressions, same inputs."""
    v = q_ident(vec_col)
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.expr(norm_sql(v)).alias("q_nrm"),
        )
    )
    return spread(corpus).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("c_vec"),
        F.expr(norm_sql(v)).alias("c_nrm"),
    ).crossJoin(q).select(
        "query_id",
        "vec_id",
        F.expr(f"{dot_sql('q_vec', 'c_vec')} / (q_nrm * c_nrm)").alias("cos_sim"),
    )


def topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query vector, query side broadcast.

    Plan shape: BroadcastNestedLoopJoin is *intended* here — the broadcast
    side is k rows, so the 'nested loop' is a constant-width map over the
    corpus scan, followed by a per-query top-k window."""
    scored = scored_cosine(corpus, queries, id_col, vec_col, query_id_col)
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round("cos_sim", 4).alias("cos_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def vector_rows(emb: DataFrame, vec_col: str = "embedding") -> int:
    """N, the row count of ``emb`` — a parquet scan of the embeddings
    restricted to non-null ``vec_col``. Read from the footers of
    ``emb.inputFiles()`` when their statistics prove ``vec_col`` null-free
    (``data.footer_rows``): a metadata read instead of a count job inside
    the plan build, where the not-null filter forces the array column to
    be decoded. Otherwise (nulls, missing statistics, an empty table) it
    counts."""
    n = footer_rows(emb.inputFiles(), non_null=vec_col)
    return emb.count() if n is None else n


def ivf_cells(emb: DataFrame, vec_col: str = "embedding") -> int:
    """Corpus-adaptive IVF cell count greatest(8, ceil(N/250)), N =
    ``vector_rows(emb)``: |cell| ≈ 250 stays bounded as the corpus grows.
    Every IVF oracle replays the same formula over its non-null count."""
    return max(8, math.ceil(vector_rows(emb, vec_col) / 250))


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse quantization: each vector → its nearest centroid (cosine,
    ties broken by centroid id). **Zero-shuffle, map-only**: the centroid
    table is collapsed to a SINGLE broadcast row holding a cent_id-sorted
    array of (cent_id, c_vec, c_nrm) structs, and the argmax runs per
    corpus row — `transform` scores every centroid (one fold each), then
    `array_position(cs, array_max(cs))` picks the first (= lowest cent_id)
    maximum, matching the rank-window total order (cs DESC, cent_id ASC).

    Earlier shapes shuffled: a crossJoin row expansion + `max_by` aggregate
    moves |corpus| rows (with their vectors as payload) through a shuffle.
    At 100 TB that is a full-corpus shuffle purely to undo the k-way
    expansion; computing the argmax over an in-row array needs no expansion
    and no shuffle at all — assignment stays inside the scan stage."""
    cents = F.broadcast(
        centroids.select(
            F.expr(
                f"struct(cent_id, c_vec, {norm_sql('c_vec')} AS c_nrm)"
            ).alias("c")
        ).agg(F.array_sort(F.collect_list("c")).alias("cents"))
    )
    # one norm fold per vector, one dot fold per (vector, centroid)
    scored = df.crossJoin(cents).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.expr(norm_sql(q_ident(vec_col))).alias("v_nrm"),
        F.col("cents"),
    ).select(
        "id",
        "vec",
        "v_nrm",
        "cents",
        F.expr(
            f"transform(cents, c -> {dot_sql('vec', 'c.c_vec')}"
            " / (v_nrm * c.c_nrm))"
        ).alias("cs_arr"),
    )
    return scored.select(
        "id",
        "vec",
        "v_nrm",
        F.expr(
            "element_at(cents, cast(array_position(cs_arr, array_max(cs_arr))"
            " as int)).cent_id"
        ).alias("cell"),
    )


def ivf_assign_multi(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``nprobe`` nearest centroid cells per vector (cosine desc,
    cent_id asc on ties) — the QUERY-side assignment for multi-probe IVF.
    Still zero-shuffle map-only: scores land in an in-row struct array,
    ``array_sort`` on (−cos, cent_id) orders them, ``slice`` keeps the
    first nprobe, and ``explode`` emits one row per probed cell. Output:
    (id, vec, v_nrm, probe, cell) with probe = 1..nprobe."""
    cents = F.broadcast(
        centroids.select(
            F.expr(
                f"struct(cent_id, c_vec, {norm_sql('c_vec')} AS c_nrm)"
            ).alias("c")
        ).agg(F.array_sort(F.collect_list("c")).alias("cents"))
    )
    scored = df.crossJoin(cents).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.expr(norm_sql(q_ident(vec_col))).alias("v_nrm"),
        F.col("cents"),
    ).select(
        "id",
        "vec",
        "v_nrm",
        F.expr(
            "slice(array_sort(transform(cents, c -> struct("
            f"-({dot_sql('vec', 'c.c_vec')} / (v_nrm * c.c_nrm)) AS ncs, "
            f"c.cent_id AS cent_id))), 1, {int(nprobe)})"
        ).alias("probes"),
    )
    return scored.select(
        "id",
        "vec",
        "v_nrm",
        (F.posexplode("probes")),
    ).select(
        "id",
        "vec",
        "v_nrm",
        (F.col("pos") + 1).alias("probe"),
        F.col("col.cent_id").alias("cell"),
    )


def ivf_assign_two_level(
    df: DataFrame,
    centroids: DataFrame,
    n_coarse: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hierarchical coarse quantization: argmax over ``n_coarse`` level-1
    centroids, then argmax over ONLY that branch's leaf centroids — the
    per-vector scoring cost drops from O(k) to O(n_coarse + k/n_coarse),
    i.e. O(√k) at the balanced ``n_coarse ≈ √k``.

    Why it exists: the flat ``ivf_assign`` scores EVERY centroid per
    corpus row. That is the right plan while k is small, but the
    corpus-adaptive cell count (k = ⌈N/250⌉, which keeps |cell| bounded
    and the graph build's candidate volume linear) makes flat scoring
    O(N·k) = O(N²/250) COMPUTE as the corpus grows — zero-shuffle does
    not save it. Two levels restore O(N·√k) scoring while leaving the
    leaf partition — and therefore every downstream cell-blocked
    join/candidate bound — exactly as granular as the flat form's.

    Still zero-shuffle map-only on the corpus: ONE broadcast row carries
    (a) the coarse-id-sorted level-1 array and (b) a
    ``map<coarse_id, leaf structs>`` built by assigning each leaf
    centroid to its nearest coarse centroid (a k×√k problem, reusing
    ``ivf_assign`` on the tiny centroid table). Both argmax levels use
    the shared total order (cos DESC, id ASC): the struct arrays are
    id-sorted, so ``array_position(cs, array_max(cs))`` picks the
    lowest-id maximum. A vector whose coarse branch holds no leaves
    (possible only when duplicate coarse vectors tie every leaf away
    from one of them) gets a NULL cell and drops out of any equi-join —
    the oracle replay reaches the same outcome through its inner join.

    The broadcast quantizer is O(k) BYTES — fine while k ≈ O(√N) as in
    standard IVF, but under the corpus-adaptive k = ⌈N/250⌉ the leaf
    map grows linearly with the corpus and at the 100 TB design point
    no executor holds it. ``ivf_assign_sharded`` is the scale form: it
    broadcasts ONLY the ⌈√k⌉ coarse level and equi-joins vectors
    against a leaf table partitioned on the coarse branch, trading one
    corpus shuffle for an O(√k) ceiling on per-task index bytes. Use
    this broadcast form when k is genuinely sublinear in N (offline
    k-means codebooks), the sharded form when k tracks N.

    Degenerate knob: ``n_coarse >= count(centroids)`` makes every
    centroid both coarse and leaf — the result is then identical to
    flat ``ivf_assign`` but strictly more work (two argmax levels over
    the same k). Callers know both counts (they derive ``n_coarse``
    from the centroid count), so the clamp lives there:
    ``n_coarse = max(2, min(k - 1, ceil(sqrt(k))))`` — prefer flat
    ``ivf_assign`` outright when k is too small to split."""
    coarse = centroids.orderBy("cent_id").limit(n_coarse).select(
        F.col("cent_id").alias("coarse_id"), F.col("c_vec").alias("g_vec")
    )
    # leaf -> coarse: tiny (k × n_coarse) flat argmax on the centroid table
    leaf_assigned = ivf_assign(
        centroids,
        coarse.select(
            F.col("coarse_id").alias("cent_id"), F.col("g_vec").alias("c_vec")
        ),
        id_col="cent_id",
        vec_col="c_vec",
    )
    coarse_row = coarse.select(
        F.expr(
            f"struct(coarse_id, g_vec, {norm_sql('g_vec')} AS g_nrm)"
        ).alias("g")
    ).agg(F.array_sort(F.collect_list("g")).alias("coarse_arr"))
    leaf_row = (
        leaf_assigned.groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("id").alias("cent_id"),
                        F.col("vec").alias("c_vec"),
                        F.col("v_nrm").alias("c_nrm"),
                    )
                )
            ).alias("leaves")
        )
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("cell", "leaves"))
            ).alias("leaf_map")
        )
    )
    index = F.broadcast(coarse_row.crossJoin(leaf_row))
    scored = (
        df.crossJoin(index)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.expr(norm_sql(q_ident(vec_col))).alias("v_nrm"),
            "coarse_arr",
            "leaf_map",
        )
        .select(
            "id",
            "vec",
            "v_nrm",
            "leaf_map",
            "coarse_arr",
            F.expr(
                f"transform(coarse_arr, g -> {dot_sql('vec', 'g.g_vec')}"
                " / (v_nrm * g.g_nrm))"
            ).alias("cs1"),
        )
        .select(
            "id",
            "vec",
            "v_nrm",
            F.expr(
                "element_at(leaf_map, element_at(coarse_arr, "
                "cast(array_position(cs1, array_max(cs1)) as int)).coarse_id)"
            ).alias("leaves"),
        )
        .select(
            "id",
            "vec",
            "v_nrm",
            "leaves",
            F.expr(
                f"transform(leaves, c -> {dot_sql('vec', 'c.c_vec')}"
                " / (v_nrm * c.c_nrm))"
            ).alias("cs2"),
        )
    )
    return scored.select(
        "id",
        "vec",
        "v_nrm",
        F.expr(
            "element_at(leaves, cast(array_position(cs2, array_max(cs2))"
            " as int)).cent_id"
        ).alias("cell"),
    )


def ivf_assign_sharded(
    df: DataFrame,
    centroids: DataFrame,
    n_coarse: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-level coarse quantization with the leaf codebook SHARDED
    across executors — same assignment as ``ivf_assign_two_level``
    (identical argmax tree, bit-identical output), different physical
    distribution of the index. This is the 100 TB form for the
    corpus-adaptive cell count k = ⌈N/250⌉: the two-level variant
    still ships the FULL k-entry leaf map as one broadcast row to
    every task — O(N) bytes per task under k ∝ N, which no executor
    holds at the design point. Here nothing linear in N ever rides a
    broadcast:

    - Only the ⌈√k⌉-entry COARSE array is broadcast (O(√k) bytes) —
      each vector picks its coarse branch map-side, exactly as in the
      two-level form.
    - The k leaf centroids live in a LEAF TABLE grouped into one row
      per coarse branch (~√k leaves each), and vectors reach their
      branch's leaves through a plain shuffled equi-join on
      ``coarse_id`` — both sides hash-partitioned by branch, so a task
      holds only the ~√k-leaf shards of the branches it processes.
      The ``shuffle_hash`` hint pins the join strategy: without it,
      Catalyst/AQE would happily broadcast the (locally tiny) leaf
      table and reintroduce the exact structure this operator exists
      to remove — the hint IS the contract, enforced by a plan test.

    The trade vs the broadcast forms: assignment is no longer
    zero-shuffle — the corpus moves ONCE, keyed by coarse branch
    (⌈√k⌉ keys; key count grows with N, so parallelism holds, and AQE
    skew-join splits any hot branch). That one shuffle buys an O(√k)
    ceiling on per-task index bytes, which is what actually survives
    k ∝ N. Row contract matches the two-level form: every input row
    appears exactly once; a vector whose branch holds no leaves keeps
    a NULL cell through the LEFT join (the NULL-branch case the
    two-level docstring describes) and drops out of downstream
    equi-joins.

    Past this form's own O(N·√k) fold growth (measured 17.1× for
    sf10→sf100, BENCH_DETAIL sf100_probe), ``ivf_assign_sharded_3level``
    recurses the construction once more: O(N·∛k) work, O(∛k) per-task
    bytes, one extra branch-keyed shuffle (127 s vs 189 s on that same
    decade).

    Reference parity: the reference has no ANN layer (its 355 lines
    are boto3 ingestion, get_train_status.py:82-138); this extends the
    brief's LLM-pipeline similarity tier."""
    coarse = centroids.orderBy("cent_id").limit(n_coarse).select(
        F.col("cent_id").alias("coarse_id"), F.col("c_vec").alias("g_vec")
    )
    # leaf -> coarse: tiny (k × √k) flat argmax on the centroid table only
    leaf_assigned = ivf_assign(
        centroids,
        coarse.select(
            F.col("coarse_id").alias("cent_id"), F.col("g_vec").alias("c_vec")
        ),
        id_col="cent_id",
        vec_col="c_vec",
    )
    # one row per branch carrying that branch's ~√k leaf structs — this
    # table is PARTITIONED on coarse_id by the join below, never broadcast
    leaf_shards = leaf_assigned.groupBy(F.col("cell").alias("coarse_id")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("id").alias("cent_id"),
                    F.col("vec").alias("c_vec"),
                    F.col("v_nrm").alias("c_nrm"),
                )
            )
        ).alias("leaves")
    )
    coarse_row = F.broadcast(
        coarse.select(
            F.expr(
                f"struct(coarse_id, g_vec, {norm_sql('g_vec')} AS g_nrm)"
            ).alias("g")
        ).agg(F.array_sort(F.collect_list("g")).alias("coarse_arr"))
    )
    # level 1: map-side argmax over the broadcast coarse array (same total
    # order as the two-level form: cos DESC, coarse_id ASC via id-sorted
    # array + first-position max)
    branched = (
        df.crossJoin(coarse_row)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.expr(norm_sql(q_ident(vec_col))).alias("v_nrm"),
            "coarse_arr",
        )
        .select(
            "id",
            "vec",
            "v_nrm",
            "coarse_arr",
            F.expr(
                f"transform(coarse_arr, g -> {dot_sql('vec', 'g.g_vec')}"
                " / (v_nrm * g.g_nrm))"
            ).alias("cs1"),
        )
        .select(
            "id",
            "vec",
            "v_nrm",
            F.expr(
                "element_at(coarse_arr, cast(array_position(cs1, "
                "array_max(cs1)) as int)).coarse_id"
            ).alias("coarse_id"),
        )
    )
    # level 2: the ONE corpus shuffle — vectors meet their branch's leaf
    # shard through a shuffled hash join on coarse_id (hint pinned; a
    # broadcast here would be the O(N)-bytes structure again)
    scored = (
        branched.join(leaf_shards.hint("shuffle_hash"), "coarse_id", "left")
        .select(
            "id",
            "vec",
            "v_nrm",
            "leaves",
            F.expr(
                f"transform(leaves, c -> {dot_sql('vec', 'c.c_vec')}"
                " / (v_nrm * c.c_nrm))"
            ).alias("cs2"),
        )
    )
    return scored.select(
        "id",
        "vec",
        "v_nrm",
        F.expr(
            "element_at(leaves, cast(array_position(cs2, array_max(cs2))"
            " as int)).cent_id"
        ).alias("cell"),
    )


def ivf_assign_sharded_3level(
    df: DataFrame,
    centroids: DataFrame,
    n_top: int,
    n_mid: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """THREE-level sharded coarse quantization — the same construction as
    ``ivf_assign_sharded``, applied once more. Under the corpus-adaptive
    cell count k = ⌈N/250⌉ the two-level form's per-vector scoring cost
    is O(√k) (broadcast ⌈√k⌉ coarse array + one ~√k-leaf branch shard),
    so total assignment work is O(N·√k) = O(N^1.5 / √250) — the decade
    ratio the sf100 probe measured converging on 31.6×/decade (r17,
    BENCH_DETAIL sf100_probe: 17.1× at decade 3). Splitting the descent
    into THREE balanced levels — n_top ≈ k^(1/3) broadcast tops,
    n_mid ≈ k^(2/3) mids sharded by top branch, k leaves sharded by mid
    branch — caps per-vector work at O(3·k^(1/3)), total O(N·k^(1/3)) =
    O(N^4/3 / 250^(1/3)): the asymptotic decade ratio drops from 31.6×
    to 10^(4/3) ≈ 21.5×, and the per-task index ceiling drops from
    O(√k) to O(k^(1/3)) bytes. The trade is ONE more corpus shuffle
    (two branch-keyed moves instead of one); both key sets grow with N,
    so parallelism holds and AQE skew-join splits hot branches.

    The level tree:

    - **tops** — the first ``n_top`` centroids (by cent_id), collapsed
      into ONE broadcast row exactly like the two-level coarse array.
    - **mids** — the first ``n_mid`` centroids, each assigned to its
      nearest top by the tiny flat argmax (``ivf_assign`` on the
      centroid table, n_mid × n_top folds), grouped into one shard row
      per top branch (~n_mid/n_top structs each).
    - **leaves** — ALL k centroids, each assigned to a mid by
      RECURSING the two-level sharded form on the centroid table
      itself (``ivf_assign_sharded(centroids, mids, n_top)``): a leaf
      descends top→mid exactly like a corpus vector does, so the
      centroid-side build is O(k·k^(1/3)) instead of the flat
      O(k·k^(2/3)), and the first n_top mids ARE the tops (id-ordered
      prefixes of one table), so the recursion's internal coarse level
      coincides with this operator's top level.

    Corpus descent: map-side argmax over the broadcast tops →
    shuffle_hash-pinned branch join on top_id against the mid shards →
    in-row argmax → second shuffle_hash-pinned branch join on mid_id
    against the leaf shards → in-row argmax → cell. Both hints are the
    contract (locally both shard tables are tiny and AQE would happily
    broadcast them, silently reintroducing a super-k^(1/3) per-task
    structure); pinned by tests/test_round18_ops.py. Total order at
    every level is the family's (cos DESC, id ASC) via id-sorted struct
    arrays + first-position max. Row contract matches the sharded form:
    every input row appears exactly once; a vector whose top branch
    holds no mids (or whose mid holds no leaves) keeps a NULL cell
    through the LEFT joins and drops out of downstream equi-joins.

    Reference parity: the reference has no ANN layer (its 355 lines are
    boto3 ingestion, get_train_status.py:82-138); this extends the
    brief's LLM-pipeline similarity tier."""
    tops = centroids.orderBy("cent_id").limit(n_top).select(
        F.col("cent_id").alias("top_id"), F.col("c_vec").alias("t_vec")
    )
    mids = centroids.orderBy("cent_id").limit(n_mid).select(
        F.col("cent_id").alias("mid_id"), F.col("c_vec").alias("m_vec")
    )
    # mid -> top: tiny flat argmax on the centroid table (n_mid × n_top)
    mid_assigned = ivf_assign(
        mids,
        tops.select(F.col("top_id").alias("cent_id"), F.col("t_vec").alias("c_vec")),
        id_col="mid_id",
        vec_col="m_vec",
    )
    # leaf -> mid: the two-level sharded construction, recursed on the
    # centroid table (its internal coarse level = the first n_top mids =
    # exactly `tops`, so the tree is one consistent id-ordered hierarchy)
    leaf_to_mid = ivf_assign_sharded(
        centroids,
        mids.select(F.col("mid_id").alias("cent_id"), F.col("m_vec").alias("c_vec")),
        n_top,
        id_col="cent_id",
        vec_col="c_vec",
    )
    mid_shards = mid_assigned.groupBy(F.col("cell").alias("top_id")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("id").alias("mid_id"),
                    F.col("vec").alias("m_vec"),
                    F.col("v_nrm").alias("m_nrm"),
                )
            )
        ).alias("mids")
    )
    leaf_shards = leaf_to_mid.groupBy(F.col("cell").alias("mid_id")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("id").alias("cent_id"),
                    F.col("vec").alias("c_vec"),
                    F.col("v_nrm").alias("c_nrm"),
                )
            )
        ).alias("leaves")
    )
    top_row = F.broadcast(
        tops.select(
            F.expr(
                f"struct(top_id, t_vec, {norm_sql('t_vec')} AS t_nrm)"
            ).alias("g")
        ).agg(F.array_sort(F.collect_list("g")).alias("top_arr"))
    )
    # level 1: map-side argmax over the O(k^(1/3)) broadcast top array
    branched = (
        df.crossJoin(top_row)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.expr(norm_sql(q_ident(vec_col))).alias("v_nrm"),
            "top_arr",
        )
        .select(
            "id",
            "vec",
            "v_nrm",
            "top_arr",
            F.expr(
                f"transform(top_arr, g -> {dot_sql('vec', 'g.t_vec')}"
                " / (v_nrm * g.t_nrm))"
            ).alias("cs1"),
        )
        .select(
            "id",
            "vec",
            "v_nrm",
            F.expr(
                "element_at(top_arr, cast(array_position(cs1, "
                "array_max(cs1)) as int)).top_id"
            ).alias("top_id"),
        )
    )
    # level 2: first corpus shuffle — vectors meet their top branch's mid
    # shard (~k^(1/3) structs) through the pinned shuffled hash join
    mid_picked = (
        branched.join(mid_shards.hint("shuffle_hash"), "top_id", "left")
        .select(
            "id",
            "vec",
            "v_nrm",
            "mids",
            F.expr(
                f"transform(mids, m -> {dot_sql('vec', 'm.m_vec')}"
                " / (v_nrm * m.m_nrm))"
            ).alias("cs2"),
        )
        .select(
            "id",
            "vec",
            "v_nrm",
            F.expr(
                "element_at(mids, cast(array_position(cs2, array_max(cs2))"
                " as int)).mid_id"
            ).alias("mid_id"),
        )
    )
    # level 3: second corpus shuffle — vectors meet their mid's leaf shard
    scored = (
        mid_picked.join(leaf_shards.hint("shuffle_hash"), "mid_id", "left")
        .select(
            "id",
            "vec",
            "v_nrm",
            "leaves",
            F.expr(
                f"transform(leaves, c -> {dot_sql('vec', 'c.c_vec')}"
                " / (v_nrm * c.c_nrm))"
            ).alias("cs3"),
        )
    )
    return scored.select(
        "id",
        "vec",
        "v_nrm",
        F.expr(
            "element_at(leaves, cast(array_position(cs3, array_max(cs3))"
            " as int)).cent_id"
        ).alias("cell"),
    )


def ivf_assign_sharded_multi(
    df: DataFrame,
    centroids: DataFrame,
    n_coarse: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residence_cap: int | None = None,
    n_branches: int | None = None,
) -> DataFrame:
    """Multi-probe assignment over the SHARDED two-level index — the
    production composition the graph family's exhibits measure one axis
    at a time: corpus-adaptive cells (linear build) + query-side
    multi-probe (the measured recall knob) + sharded leaf transport
    (no O(N)-bytes broadcast). Output: (id, vec, v_nrm, probe, cell)
    with probe = 1..nprobe, exactly ``ivf_assign_multi``'s contract, so
    the graph build downstream is unchanged.

    Probe semantics under the tree: the vector's top-``nprobe`` COARSE
    branches are probed (in-row slice over the broadcast O(√k) coarse
    array, same shape as ``ivf_assign_multi``), each branch's ~√k
    leaves arrive through the sharded ``coarse_id`` equi-join
    (shuffle_hash-pinned, as in ``ivf_assign_sharded``), every fetched
    leaf is scored, and the GLOBAL top-``nprobe`` leaf cells across the
    union are kept (one groupBy on the vector id merges the per-branch
    score arrays). This differs from flat ``ivf_assign_multi`` only
    when a true top-nprobe leaf hides in a branch outside the vector's
    top-nprobe coarse branches — the standard quantizer-tree
    approximation, same class as the hier/sharded single-assign trade.
    Probe 1 (the residence cell) is the argmax over the probed
    branches' leaf UNION — a superset of the single-assign form's
    argmax-branch leaves — so it coincides with
    ``ivf_assign_sharded``'s cell whenever the global-best fetched
    leaf lives in the argmax branch, and is otherwise strictly BETTER
    (closer to the flat global argmax; pinned by the never-worse-score
    test). Residence stays unique per vector and a vector's probes are
    distinct cells, so a graph build keeps its usual 'neighbor resides
    in probe 1, no pair generated twice' contract.

    Scale ledger: broadcasts O(√k) bytes; shuffles the corpus twice
    (once by branch for leaf transport — nprobe× duplicated rows — and
    once by id for the union merge); per-task index bytes stay O(√k).
    The total order everywhere is (cos DESC, id ASC) via the struct
    sort on (negated score, id).

    ``residence_cap`` (r11 verdict #1) bounds probe-1 OCCUPANCY: the
    union-argmax residence measurably skews cells (max 715 vs flat
    multi's 346 at identical avg 250, sf1) and a downstream cell
    self-join's pair volume grows with Σ|cell|² — AQE skew-split
    balances tasks, not pairs, so nothing else bounds the quadratic
    term. With a cap, each cell keeps at most ``residence_cap`` of its
    original residents — the highest-affinity ones, ranked by one
    windowed ``row_number`` over (cos DESC, id ASC) per residence cell
    on the already-scored union — and every overflow vector SWAPS its
    probe labels: the next-best probed leaf becomes probe 1 (its new
    residence), the old argmax cell stays probed at rank 2, so search
    quality is unchanged (same probed-cell set) and residence stays
    unique. A vector with a single probed leaf cannot be demoted and
    keeps its cell regardless (the cap bounds *kept original
    residents* per cell; overflow arrivals are second-choice
    assignments and inherit the target cell's natural diversity — the
    one-pass form the verdict's recipe names). Cost: one extra
    corpus-wide hash shuffle (the rank window on the residence cell);
    ``None`` preserves the uncapped plan bit-for-bit. Measured on both a
    uniform 20k corpus and the clustered sf1 probe corpus, the cap
    changes graph edge recall by EXACTLY zero at every branch setting —
    the swap keeps the probed-cell set intact, so only residence (and
    with it the pair-volume bound) moves.

    ``n_branches`` (default: ``nprobe``) decouples how many COARSE
    branches are probed from how many leaf cells are kept. Honest
    effect (r13, FULL-graph edge recall@3 — the r12 figures 0.64→0.81
    were measured on centroid-coincident seeds and tracked the
    quantizer's self-recall): on a genuinely clustered 20k corpus
    (within-cluster cos ≈ 0.6) 2 → 4 branches lifts 0.514 → 0.617 vs
    flat multi-assign's 0.722 at the same nprobe — the knob recovers
    most of the tree's pruning loss exactly when coarse structure
    exists; on a UNIFORM corpus every IVF variant is probed-fraction-
    bound (~0.15 at 2 of 80 cells) and branch count changes nothing.
    The primary recall/cost dial is ``nprobe`` (candidate volume scales
    linearly with it: 0.617 → 0.703 at nprobe 4 on the clustered
    corpus). Probing b branches costs b·√k leaf scores per vector —
    still O(N·√k) total for constant b, preserving the tree's advantage
    over flat assignment's O(N·k)."""
    coarse = centroids.orderBy("cent_id").limit(n_coarse).select(
        F.col("cent_id").alias("coarse_id"), F.col("c_vec").alias("g_vec")
    )
    leaf_assigned = ivf_assign(
        centroids,
        coarse.select(
            F.col("coarse_id").alias("cent_id"), F.col("g_vec").alias("c_vec")
        ),
        id_col="cent_id",
        vec_col="c_vec",
    )
    leaf_shards = leaf_assigned.groupBy(F.col("cell").alias("coarse_id")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("id").alias("cent_id"),
                    F.col("vec").alias("c_vec"),
                    F.col("v_nrm").alias("c_nrm"),
                )
            )
        ).alias("leaves")
    )
    coarse_row = F.broadcast(
        coarse.select(
            F.expr(
                f"struct(coarse_id, g_vec, {norm_sql('g_vec')} AS g_nrm)"
            ).alias("g")
        ).agg(F.array_sort(F.collect_list("g")).alias("coarse_arr"))
    )
    # level 1: top-nprobe coarse branches, map-side (in-row sort + slice)
    branched = (
        df.crossJoin(coarse_row)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.expr(norm_sql(q_ident(vec_col))).alias("v_nrm"),
            "coarse_arr",
        )
        .select(
            "id",
            "vec",
            "v_nrm",
            F.expr(
                "slice(array_sort(transform(coarse_arr, g -> struct("
                f"-({dot_sql('vec', 'g.g_vec')} / (v_nrm * g.g_nrm)) AS ncs, "
                "g.coarse_id AS coarse_id))), 1, "
                f"{int(n_branches if n_branches is not None else nprobe)})"
            ).alias("branches"),
        )
        .select("id", "vec", "v_nrm", F.explode("branches").alias("b"))
        .select("id", "vec", "v_nrm", F.col("b.coarse_id").alias("coarse_id"))
    )
    # level 2: sharded leaf transport + per-branch (score, leaf) structs
    per_branch = (
        branched.join(leaf_shards.hint("shuffle_hash"), "coarse_id", "left")
        .select(
            "id",
            "vec",
            "v_nrm",
            F.expr(
                "transform(coalesce(leaves, array()), c -> struct("
                f"-({dot_sql('vec', 'c.c_vec')} / (v_nrm * c.c_nrm)) AS ncs, "
                "c.cent_id AS cent_id))"
            ).alias("scored"),
        )
    )
    # union merge: global top-nprobe leaf cells across the probed branches
    merged = per_branch.groupBy("id").agg(
        F.first("vec").alias("vec"),
        F.first("v_nrm").alias("v_nrm"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("scored"))), 1, nprobe
        ).alias("probes"),
    )
    if residence_cap is not None:
        # one windowed rank per residence cell over the already-scored
        # union: residents rank by affinity (ncs ASC == cos DESC, id ASC
        # tiebreak); rank > cap AND a second probed leaf exists -> swap
        # the first two probes, demoting the vector to its next-best
        # probed leaf while the old argmax cell stays probed at rank 2.
        # F.get (never-throwing) handles the empty-probes NULL branch.
        #
        # CROSS-ENGINE-ORDERING SURFACE (ADVICE r12 #3): this window
        # ranks on UNROUNDED double cosines (r1_ncs) that Spark computes
        # by a sequential in-row fold while the DuckDB oracle sums over
        # an unnest — a near-tie whose last-ulp ordering differs across
        # engines would flip WHICH vector overflows the cap, changing
        # residence and downstream graph edges. Same risk class as the
        # family's other unrounded-cs windows, but this one adds a new
        # surface (occupancy rank, not top-k rank). The binding-regime
        # parity test covers the shipped corpus; if a driver hash for a
        # prod-family query ever flips with no code change, audit this
        # window's tie distances first.
        with_r1 = merged.select(
            "id",
            "vec",
            "v_nrm",
            "probes",
            F.get("probes", 0)["cent_id"].alias("r1_cell"),
            F.get("probes", 0)["ncs"].alias("r1_ncs"),
        )
        occ_w = Window.partitionBy("r1_cell").orderBy(
            F.col("r1_ncs").asc(), F.col("id").asc()
        )
        merged = with_r1.withColumn("occ", F.row_number().over(occ_w)).select(
            "id",
            "vec",
            "v_nrm",
            F.when(
                (F.col("occ") > residence_cap) & (F.size("probes") >= 2),
                F.concat(
                    F.array(F.get("probes", 1), F.get("probes", 0)),
                    F.slice(F.col("probes"), 3, nprobe),
                ),
            )
            .otherwise(F.col("probes"))
            .alias("probes"),
        )
    return merged.select(
        "id", "vec", "v_nrm", F.posexplode("probes")
    ).select(
        "id",
        "vec",
        "v_nrm",
        (F.col("pos") + 1).alias("probe"),
        F.col("col.cent_id").alias("cell"),
    )


#: corpus row count above which ivf_topk PINS the assignment: the
#: localCheckpoint costs ~1 s of materialization regardless of size
#: (measured: the pin DOUBLES the 2k-row driver-scale query, 0.86 →
#: 1.6 s), while the unpinned re-evaluation it prevents grows as
#: N·k = N²/250 interpreted folds — ~10 s at 50k rows and 140+ s at
#: 200k (218 s vs 75 s measured, PLANS.md round-15). The crossover sits
#: near 20-50k rows; below it the plan is small enough that lineage
#: re-evaluation is cheaper than the write-read round trip.
IVF_TOPK_PIN_ROWS = 50_000


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_rows: int | None = None,
    pin: bool | None = None,
) -> DataFrame:
    """IVF-style ANN: search only the query's centroid cell.

    Scale path for similarity search: assignment is a zero-shuffle map over
    the corpus (centroids broadcast, see ``ivf_assign``), and the search
    join broadcasts the assigned QUERY side — the corpus streams through a
    map-side hash join on the cell id, so the only shuffle in the whole
    pipeline is the per-query top-k window over the matched candidates.

    ``nprobe`` is the recall knob: each query probes its nprobe nearest
    cells (corpus vectors stay in exactly one cell, so probed cells are
    disjoint and no candidate dedup is needed). The probe expansion is
    query-side only — nprobe× more broadcast rows, the corpus-side plan is
    unchanged.

    Above ``IVF_TOPK_PIN_ROWS`` the corpus assignment is PINNED
    (localCheckpoint) before the search join — the discipline
    ext_knn_graph_ivf adopted in r11 and this operator missed until the
    r15 second-decade probe exposed it: unpinned, the per-row argmax
    transform (k interpreted folds per corpus row — the lambda fold does
    not enter whole-stage codegen) is inlined into the join and
    re-evaluated per reference, measured 218 s vs 75 s pinned at 200k
    vectors × 800 cells (PLANS.md round-15). The pin is ADAPTIVE because
    its ~1 s materialization cost dominates at small corpora (doubles
    the 2k-row driver-scale query); ``corpus_rows`` lets callers who
    already know the corpus size (every registry caller reads it with
    ``vector_rows`` for the adaptive cell knob) avoid a count job. Past ~100k vectors the
    sharded two-level variant (ext_sim_search_ivf_sharded) remains the
    scale path — it cuts the fold count itself rather than the
    re-evaluation factor.

    Pin control (ADVICE r15): when BOTH ``corpus_rows`` and ``pin`` are
    None the threshold is resolved by an IMPLICIT ``corpus.count()`` —
    an extra Spark action on the raw input (so it runs before any
    null-embedding filter the caller applies downstream; that is fine
    for a threshold heuristic, but pass the post-filter count if you
    have one). Callers with a known-small corpus pass ``pin=False`` to
    skip both the count and the checkpoint; ``pin=True`` forces the
    checkpoint without counting.
    """
    assigned = ivf_assign(spread(corpus), centroids, id_col, vec_col)
    if pin is None:
        if corpus_rows is None:
            corpus_rows = corpus.count()
        pin = corpus_rows >= IVF_TOPK_PIN_ROWS
    if pin:
        assigned = assigned.localCheckpoint(eager=True)
    if nprobe == 1:
        q = ivf_assign(queries, centroids, id_col, vec_col)
    else:
        q = ivf_assign_multi(queries, centroids, nprobe, id_col, vec_col)
    q_assigned = F.broadcast(
        q.select(
            F.col("id").alias("query_id"),
            F.col("vec").alias("q_vec"),
            F.col("v_nrm").alias("q_nrm"),
            "cell",
        )
    )
    # norms ride along from the assignment pass — zero extra folds here
    cand = q_assigned.join(assigned, "cell").select(
        "query_id",
        F.col("id").alias("vec_id"),
        F.expr(f"{dot_sql('q_vec', 'vec')} / (q_nrm * v_nrm)").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round("cos_sim", 4).alias("cos_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def projection_planes(dims: int, planes: int = LSH_PLANES) -> list[list[float]]:
    """Deterministic integer-valued hyperplanes: coef[p][d] = md5-derived
    60-bit hash of "p_d", reduced mod 2,000,001 and centered — exactly
    representable doubles, reproducible in SQL as
    ``('0x' || substr(md5(p || '_' || d), 1, 15))::BIGINT % 2000001 -
    1000000``.

    md5, NOT the shared LCG (round-12 re-key): consecutive-seed LCG
    outputs lie on a coarse lattice, so the plane rows were strongly
    CORRELATED — measured on a 20k uniform corpus at 9 bits, the hottest
    sign bucket held 1,595 rows (median 16) and in-bucket candidate
    volume was 7.6× the independent-plane level (3.50M vs 0.46M pairs;
    at 12 bits 13.8×). Correlated planes waste exactly what sign-LSH
    sells — bits that halve bucket occupancy — and the skew worsens with
    bit count, so the defect compounds at scale. md5 avalanche restores
    ~independent hyperplanes; every oracle replays the same bytes."""
    import hashlib

    def coef(p: int, d: int) -> float:
        h = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16)
        return float(h % 2_000_001 - 1_000_000)

    return [[coef(p, d) for d in range(dims)] for p in range(planes)]


def lsh_bucketed_pairs(
    df: DataFrame,
    dims: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int | None = None,
) -> DataFrame:
    """Corpus near-dup pairs via sign-LSH: equal sign-bit bucket →
    candidate; cosine ≥ threshold verified inside buckets only.

    Scale: bucket cardinality 2^planes spreads the corpus; the candidate
    join is an equi-join on the bucket id. Recall is tunable by planes count
    (fewer planes → bigger buckets → higher recall/cost). ``planes=None``
    (default) sizes the count to the corpus via ``adaptive_planes`` so
    expected bucket occupancy stays ~``LSH_TARGET_BUCKET_ROWS`` — the one
    extra cost is a count() job over ``df`` (a column-pruned count-star scan;
    pass an explicit ``planes`` to skip it when the corpus size is known).

    The bucketed projection (id, vec, norm, bucket) is materialized once
    via ``localCheckpoint(eager=True)``: the pair join consumes it on BOTH
    sides, and without the pin each side replays the ``planes``×dims
    projection folds — the most expensive expression in the pipeline
    (measured 1.22s → 0.82s at sf0.1). localCheckpoint over ``persist``:
    blocks live in the block manager (MEMORY_AND_DISK, spillable) but are
    reclaimed by the ContextCleaner as soon as the returned DataFrame is
    garbage-collected — no catalog cache entry leaks out of the operator
    into a long-lived session. The trade: lineage is truncated, so losing
    an executor mid-query fails the query instead of recomputing (local
    mode and static-executor clusters are unaffected; under dynamic
    allocation prefer a caller-managed ``persist``)."""
    if planes is None:
        planes = adaptive_planes(df.count())
    coefs = projection_planes(dims, planes)
    # all projections via ONE transform over the literal plane matrix — a
    # single shared lambda body instead of `planes` copies of the fold
    # expression; plan-compile cost (re-paid per fresh DataFrame) tracks
    # expression-tree size, and the per-plane fold values are identical
    projs = F.expr(
        f"transform({_lit_matrix_sql(coefs)}, row -> "
        f"{dot_sql(q_ident(vec_col), 'row')})"
    )
    with_bucket = spread(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.expr(norm_sql(q_ident(vec_col))).alias("nrm"),
        projs.alias("__projs"),
    )
    bucket = F.expr(
        "("
        + " + ".join(
            f"(case when element_at(__projs, {p + 1}) >= 0 "
            f"then {1 << p} else 0 end)"
            for p in range(planes)
        )
        + ")"
    )
    # norm folded once per vector here, reused on both sides of the pair join
    bucketed = with_bucket.select(
        "id", "vec", "nrm", bucket.cast("int").alias("bucket")
    ).localCheckpoint(eager=True)
    # numbered repartition on the bucket key: the in-bucket cosine verify is
    # an interpreted ~128-eval fold per candidate pair — byte-light but
    # CPU-dense, exactly the stage AQE's byte-based coalescing merges to one
    # task (measured 2.0 s → 0.9 s at sf0.1 for ext_dedup_embed).
    # REPARTITION_BY_NUM is exempt from coalescing and satisfies the join's
    # hash distribution, so no extra exchange is added; the width is the
    # session's shuffle-partition knob, never a hardcode.
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a = bucketed.repartition(width, "bucket").alias("a")
    b = bucketed.repartition(width, "bucket").alias("b")
    pairs = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id"))
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.expr(f"{dot_sql('a.vec', 'b.vec')} / (a.nrm * b.nrm)").alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= threshold).select(
        F.col("id_a").cast("bigint"),
        F.col("id_b").cast("bigint"),
        F.round("cos_sim", 4).alias("cos_sim"),
    )


def lsh_banded_pairs(
    df: DataFrame,
    dims: int,
    threshold: float,
    tables: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int | None = None,
) -> DataFrame:
    """Multi-table (banded) sign-LSH near-dup pairs: ``tables`` independent
    hash tables of ``planes`` sign bits each; a pair is a candidate if it
    collides in ANY table, and cosine ≥ threshold is verified once per
    distinct candidate pair.

    This is the RECALL companion to ``lsh_bucketed_pairs``: growing a
    single table's bit count (the adaptive scale path) multiplies recall by
    ~(1 − θ/π) per added bit, while adding tables turns per-table recall r
    into 1 − (1 − r)^L — the same banding argument as minhash LSH. At
    100 TB both knobs work together: ``planes`` tracks corpus size to keep
    per-bucket verify work bounded, ``tables`` buys the recall back at a
    linear (L×) candidate-generation cost.

    Plan shape: ONE projection pass computes all L×planes folds (table t
    uses plane rows [t·planes, (t+1)·planes) of the shared deterministic
    family, so the single-table operator with the same ``planes`` is
    exactly table 0); a narrow (table, bucket, id) frame — no vectors —
    explodes L rows per doc and self-joins per (table, bucket); distinct
    pairs then join the pinned (id, vec, nrm) projection TWICE for the
    cosine verify. Vectors never ride through the candidate shuffle, and
    each pair is verified once however many tables it collides in.

    ``tables=None`` (default) applies the compensation rule ``4 +
    (planes − 8)``: one extra table per adaptive bit past the floor, so
    the recall the occupancy-bounding bits remove is bought back at
    linear (one more bucket row per vector) cost. Measured at 20k rows,
    threshold 0.2 (the hardest case — per-bit retention 1−θ/π ≈ 0.56;
    real near-dups at cos 0.9 retain ≈ 0.86/bit): (planes 8, tables 4)
    → 1.58M verified pairs in 27.6 s; (9, 5) → 1.33M in 14.5 s;
    (10, 6) → 1.22M in 8.7 s. Tables grow ~log(N/target), so total
    verify work is N·tables·occupancy/2 — within a log factor of
    linear with recall held roughly flat, the same b·r discipline as
    minhash banding."""
    if planes is None:
        planes = adaptive_planes(df.count())
    if tables is None:
        tables = 4 + max(0, planes - LSH_PLANES)
    coefs = projection_planes(dims, tables * planes)
    # all tables×planes projections via ONE shared-lambda transform over
    # the literal plane matrix (see lsh_bucketed_pairs — plan-compile cost
    # tracks expression-tree size; values identical per plane)
    projs = F.expr(
        f"transform({_lit_matrix_sql(coefs)}, row -> "
        f"{dot_sql(q_ident(vec_col), 'row')})"
    )
    projected = spread(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.expr(norm_sql(q_ident(vec_col))).alias("nrm"),
        projs.alias("__projs"),
    )
    buckets = F.expr(
        "array("
        + ",".join(
            "cast(("
            + " + ".join(
                f"(case when element_at(__projs, {t * planes + p + 1}) >= 0 "
                f"then {1 << p} else 0 end)"
                for p in range(planes)
            )
            + ") as int)"
            for t in range(tables)
        )
        + ")"
    )
    pinned = projected.select("id", "vec", "nrm", buckets.alias("bks")).localCheckpoint(
        eager=True
    )
    tagged = pinned.select(
        "id", F.posexplode("bks").alias("table", "bucket")
    )
    a = tagged.alias("a")
    b = tagged.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = pinned.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("nrm_a"))
    vb = pinned.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("nrm_b"))
    pairs = cand.join(va, "id_a").join(vb, "id_b").select(
        "id_a",
        "id_b",
        F.expr(f"{dot_sql('vec_a', 'vec_b')} / (nrm_a * nrm_b)").alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= threshold).select(
        F.col("id_a").cast("bigint"),
        F.col("id_b").cast("bigint"),
        F.round("cos_sim", 4).alias("cos_sim"),
    )


#: product-quantization geometry: 64-dim vectors → 8 subspaces × 8 dims,
#: 16 centroids per subspace → one 4-bit code per subspace, 32 bits/vector.
PQ_SUBSPACES = 8
PQ_K = 16
PQ_SUBDIM = 8


def pq_codebooks() -> list[list[list[float]]]:
    """Deterministic PQ codebooks from the shared LCG, scaled into the
    embedding distribution: cent[s][c][d] = (lcg(..)−1000)/4000 ∈
    [−0.25, 0.25] ≈ ±2σ of the corpus values — centroids outside the data
    range would collapse every subvector onto the same nearest centroid
    and destroy the code's discriminative power (measured: unscaled
    integer centroids yielded 2 distinct codes over 500 vectors; scaled,
    every vector separates). The same integer-over-4000.0 division is
    replayed in oracle SQL, so both engines hold bit-identical doubles.
    Production systems TRAIN these per-subspace codebooks (k-means on
    subvectors — ext_kmeans_update is the update step); the LCG stand-ins
    keep the pipeline deterministic and oracle-checkable."""
    return [
        [
            [
                (lcg((s * PQ_K + c) * PQ_SUBDIM + d, 2001) - 1000) / 4000.0
                for d in range(PQ_SUBDIM)
            ]
            for c in range(PQ_K)
        ]
        for s in range(PQ_SUBSPACES)
    ]


def _pq_subvec(vec_col: Column, s: int) -> Column:
    return F.slice(vec_col, s * PQ_SUBDIM + 1, PQ_SUBDIM)


def _pq_subvec_sql(vec: str, s: int) -> str:
    """SQL-fragment twin of ``_pq_subvec`` (``vec`` pre-quoted)."""
    return f"slice({vec}, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})"


def _lit_matrix(rows: list[list[float]]) -> Column:
    """Literal array<array<double>> in ONE expression call.

    The obvious ``F.array(*[F.array(*[F.lit(x) ...]) ...])`` costs one
    py4j round-trip per element — ~1 s of single-threaded driver time per
    plan build for the PQ codebooks (8×16×8 = 1024 literals), re-paid on
    EVERY fresh DataFrame because the bench (and any real caller) rebuilds
    the plan per run. One ``F.expr`` string is a single round-trip; the
    JVM parses the ~8 KB literal in well under a millisecond. Values are
    bit-identical: ``repr(float)`` is the shortest round-trip decimal and
    the SQL lexer's ``...D`` double literal parses it with the same
    correctly-rounded IEEE-754 semantics as ``F.lit``'s direct transfer
    (pinned by tests/test_round18_ops.py::test_lit_matrix_exact)."""

    return F.expr(_lit_matrix_sql(rows))


def _lit_matrix_sql(rows: list[list[float]]) -> str:
    """The SQL-fragment form of ``_lit_matrix`` — for embedding the
    literal matrix inside a larger single-parse expression string."""

    def d(x: float) -> str:
        # guard, not behavior (ADVICE r18): every shipped matrix is
        # LCG-derived and finite; a non-finite value would render an
        # unparseable token ('infD') that fails only at F.expr parse time
        # with an error far from the bad input — fail here instead.
        x = float(x)
        if x != x or x in (float("inf"), float("-inf")):
            raise ValueError(
                f"non-finite literal {x!r} cannot render as a SQL double"
            )
        return repr(x) + "D"

    return (
        "array("
        + ",".join("array(" + ",".join(d(x) for x in r) + ")" for r in rows)
        + ")"
    )


def pq_code_cols(vec_col: str = "embedding") -> list[Column]:
    """One 4-bit code column per subspace: argmin over the 16 centroids of
    the sequential-fold squared-L2 distance (ties → lowest centroid id via
    first-position-of-min). Pure column math over broadcast-free literals —
    assignment is map-only, zero shuffle, and stays inside the scan stage.

    Expression-tree shape matters here: the distances come from ONE
    ``transform`` over a literal 16×8 centroid matrix whose single lambda
    body is shared by all 16 centroids — 16 separate per-centroid fold
    expressions made the per-query plan tree ~16× larger, and Spark's
    whole plan-compile path (analysis + codegen, re-run per fresh
    DataFrame because attribute ids change) dominated execution
    (measured: 9.2 s → ~1 s for the same 2000-row assignment)."""
    return [
        F.expr(sql).alias(f"code_{s}")
        for s, sql in enumerate(pq_code_sqls(vec_col))
    ]


def pq_pack(code_cols: list[Column]) -> Column:
    """Pack the 8 4-bit codes into one bigint (code_s << 4s) — integer
    arithmetic, exact in any order."""
    packed = F.lit(0).cast("bigint")
    for s in range(PQ_SUBSPACES):
        packed = packed + (code_cols[s].cast("bigint") * F.lit(1 << (4 * s)))
    return packed


def pq_code_sqls(vec_col: str = "embedding") -> list[str]:
    """SQL-fragment twins of ``pq_code_cols``'s per-subspace expressions
    (un-aliased) — for embedding the assignment inside a larger
    single-parse string (pq_pack_sql)."""
    if not isinstance(vec_col, str):
        # ADVICE r18: the r18 rework changed pq_code_cols' parameter from
        # Column to str; a Column caller would otherwise die inside
        # q_ident with an opaque AttributeError.
        raise TypeError(
            f"vec_col must be a column NAME (str), got {type(vec_col).__name__}"
            " — pass the name; the fragment quotes it itself"
        )
    out = []
    for s, cents in enumerate(pq_codebooks()):
        sub = _pq_subvec_sql(q_ident(vec_col), s)
        dists = (
            f"transform({_lit_matrix_sql(cents)}, cv -> "
            f"aggregate(zip_with({sub}, cv, (v, c) -> "
            "(cast(v as double) - c) * (cast(v as double) - c)), "
            "0.0D, (acc, x) -> acc + x))"
        )
        out.append(
            f"cast(array_position({dists}, array_min({dists})) - 1 as int)"
        )
    return out


def pq_pack_sql(code_sqls: list[str]) -> str:
    """Single-parse twin of ``pq_pack`` over SQL code fragments (r19):
    the Column form cost ~40 py4j round-trips per build re-paid per run;
    this renders the identical left-fold tree (cast(0 as bigint) then
    + (cast(code) * 2^{4s}) per subspace, bare int literals < 2^31 ==
    F.lit's INT type) in one parse. sameSemantics-pinned in
    tests/test_round19_ops.py::test_pq_pack_twin_exact."""
    packed = "cast(0 as bigint)"
    for s in range(PQ_SUBSPACES):
        packed = f"{packed} + (cast({code_sqls[s]} as bigint) * {1 << (4 * s)})"
    return packed


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the corpus is scanned
    as 4-bit codes (32 bits/vector — a 128× compression of 64×double), each
    query precomputes its 8×16 lookup table of subspace dot products
    against the literal codebooks, and the approximate dot is 8 table
    lookups per (query, vector) — no 64-dim fold in the scan loop.

    Scale shape mirrors ``topk_cosine``: query side (with its LUT array)
    broadcast, ONE corpus scan, per-query top-k window as the only
    shuffle. At 100 TB the PQ scan reads the code column only — the
    full-precision vectors never leave storage for candidate generation;
    production flows rerank the top-k with exact vectors afterward
    (compose with ``topk_cosine`` on the candidate ids).

    The code table is PINNED (localCheckpoint) before the query join:
    Catalyst's project collapsing would otherwise inline the 128
    assignment folds into the post-crossJoin projection and recompute
    them once per (query, vector) pair — measured ~2× on a 5-query set,
    and O(|Q|)× in general. The pin also reflects the production shape:
    codes are a precomputed stored index (``ext_embed_pq`` is the build
    step), not something the search recomputes per scan."""
    code_cols = pq_code_cols(vec_col)
    corp = (
        spread(corpus)
        .select(F.col(id_col).alias("vec_id"), *code_cols)
        .localCheckpoint(eager=True)
    )

    # per-subspace LUT via one single-parse transform over the literal
    # centroid matrix (same plan-construction-cost reasoning as
    # pq_code_cols).
    def _subspace_lut_sql(s: int, cents: list[list[float]]) -> str:
        sub = _pq_subvec_sql(q_ident(vec_col), s)
        return (
            f"transform({_lit_matrix_sql(cents)}, cv -> {dot_sql(sub, 'cv')})"
        )

    lut = F.expr(
        "array("
        + ",".join(
            _subspace_lut_sql(s, cents)
            for s, cents in enumerate(pq_codebooks())
        )
        + ")"
    )
    q = F.broadcast(
        queries.select(F.col(query_id_col).alias("query_id"), lut.alias("lut"))
    )
    # left-fold of the 8 LUT lookups — same order as the oracle's
    # list_reduce over list(d ORDER BY s)
    score = F.expr(
        " + ".join(
            f"element_at(element_at(lut, {s + 1}), code_{s} + 1)"
            for s in range(PQ_SUBSPACES)
        )
    )
    scored = corp.crossJoin(q).select(
        "query_id", "vec_id", score.alias("approx")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round("approx", 4).alias("approx_dot"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )
