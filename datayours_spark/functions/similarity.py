"""Similarity search over embedding columns.

Beyond the reference surface (BASELINE.json north star): brute-force cosine
top-k as the exact baseline and hyperplane-LSH bucketing as the scale path.

Scale notes:
- Brute force broadcasts the (small) query set and scans candidates once —
  O(N·Q·d) JVM-side arithmetic via zip_with/aggregate, no Python hop.
- Hyperplane LSH assigns every vector an n-bit bucket (sign of dot with n
  deterministic pseudo-random planes): the all-pairs problem becomes a
  bucket equi-join; planes are md5-derived so Spark and the oracle agree
  bit-for-bit.  At 100 TB the bucket id becomes a partition/cluster key.
- An IVF-style variant reuses the same shape with learned centroids in place
  of hyperplanes (bucket = argmin distance to centroid broadcast table).
"""

from __future__ import annotations

import contextlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datayours_spark.io import one_job_collect, small_df, spread_scan
from datayours_spark.session import conf_scope

def as_double_array(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (left-to-right, same order as the oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Exact top-k neighbours by cosine for each query id.

    Output: (query_id, vec_id, sim, rank); rank ties broken by vec_id after
    rounding sim, so ordering is engine-independent.
    """
    from pyspark.sql import Window

    base = emb.select(F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v"))
    norms = base.select("vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("norm"))
    queries = norms.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    pairs = norms.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("query_id")
    )
    sim = F.try_divide(
        dot(F.col("v"), F.col("qv")), F.col("norm") * F.col("qnorm")
    )
    ranked = pairs.select(
        "query_id", "vec_id", F.round(sim, round_dp).alias("sim")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
        ),
    )
    return ranked.where(F.col("rank") <= k).withColumn(
        "rank", F.col("rank").cast("long")
    )


def hyperplane_weight_py(plane: int, dim: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1] for (plane, dim) —
    md5-derived so any engine computes the identical plane matrix
    (= ('0x'||substr(md5('<plane>_<dim>'),1,8)) % 2001 - 1000) / 1000)."""
    import hashlib

    h = int(hashlib.md5(f"{plane}_{dim}".encode()).hexdigest()[:8], 16)
    return ((h % 2001) - 1000) / 1000.0


def embedding_dim(emb: DataFrame, vec_col: str = "embedding") -> int:
    """Vector width of `vec_col`, from a single-row peek.  Runs one tiny
    Spark job — an EXPLICIT probe for callers that truly don't know the
    width.  Plan-building functions (:func:`lsh_buckets`,
    :func:`cosine_neardup`) never call this implicitly: they take ``dim``
    or read it from column metadata (:func:`with_embedding_dim`), so no
    job fires before the first action."""
    return len(emb.select(vec_col).first()[0])


def with_embedding_dim(
    emb: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """Stamp the vector width onto `vec_col`'s column metadata so downstream
    plan builders can resolve it without a job.  At scale this is the
    catalog's job (table properties / column metadata survive parquet
    round-trips via the Spark schema); here it is one projection."""
    cols = [
        F.col(c).alias(c, metadata={"dim": dim}) if c == vec_col else F.col(c)
        for c in emb.columns
    ]
    return emb.select(*cols)


def _resolve_dim(emb: DataFrame, vec_col: str, dim: int | None) -> int:
    """`dim` argument > column metadata; anything else is an error — plan
    construction must not trigger execution (the old implicit `.first()`
    probe ran a Spark job before the caller's first action)."""
    if dim is not None:
        return dim
    meta = emb.schema[vec_col].metadata or {}
    if "dim" in meta:
        return int(meta["dim"])
    raise ValueError(
        f"embedding width unknown: pass dim= explicitly or stamp it with "
        f"with_embedding_dim(df, dim, {vec_col!r}) "
        f"(use embedding_dim(df) to probe it with an explicit job)"
    )


def lsh_buckets(
    emb: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Hyperplane-LSH bucket per vector: (vec_id, bucket).

    bucket bit j = sign(round(v · plane_j, 9) > 0); the rounding makes the
    sign decision stable across summation orders.

    Scale shape: the plane matrix is tiny (n_planes × dim) and deterministic,
    so it is precomputed driver-side and embedded as array literals — the
    bucket id becomes a pure narrow projection (zip_with/aggregate folds,
    whole-stage codegen, ZERO shuffles), not an explode+groupBy.
    """
    dim = _resolve_dim(emb, vec_col, dim)
    v = as_double_array(vec_col)
    return emb.select(
        F.col(id_col).alias("vec_id"),
        _bucket_expr(v, n_planes, dim).alias("bucket"),
    )


def _bucket_expr(
    v: Column, n_planes: int, dim: int, plane_offset: int = 0
) -> Column:
    """The hyperplane-signature bucket as a pure Column over ``v`` — shared
    by :func:`lsh_buckets` and the collapse index so the bucket can be
    computed inline in the same projection as other per-vector columns
    (one scan, whole-stage codegen, no extra join).  ``plane_offset``
    selects a disjoint slice of the deterministic plane family — band b
    of a banded signature uses planes [b·n_planes, (b+1)·n_planes)."""
    bucket = None
    for j in range(n_planes):
        p = plane_offset + j
        w = F.array(*[F.lit(hyperplane_weight_py(p, d)) for d in range(dim)])
        d_p = F.round(dot(v, w), 9)
        term = F.when(d_p > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket.cast("bigint")


class HotBucketPairsTooLarge(ValueError):
    """The LSH bucket self-join would generate too many candidate pairs.

    Even after identical vectors are collapsed to one representative, a
    corpus whose DISTINCT vectors concentrate in few buckets (e.g. all
    near-parallel embeddings) makes the within-bucket self-join quadratic.
    The guard measures Σ_b width_b·(width_b−1)/2 from one tiny aggregation
    BEFORE the join; raise ``max_bucket_pairs`` deliberately or increase
    ``n_planes`` (each extra plane halves the expected bucket width).
    """


def _bucket_pairs_check(reps: DataFrame) -> DataFrame:
    """Single-row (val = Σ_b width_b·(width_b−1)/2) over a bucketed rep
    relation — the self-join work bound."""
    return (
        reps.groupBy("bucket")
        .count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("val"))
    )


def _max_group_check(members: DataFrame) -> DataFrame:
    """Single-row (val = widest identical-vector group) over a members
    relation — the expansion work bound."""
    return members.groupBy("rep").count().agg(F.max("count").alias("val"))


def _guard_totals(checks: list[tuple[str, DataFrame]]) -> dict[str, float | None]:
    """Evaluate every pending fail-fast aggregation in ONE Spark action.

    Each guard is a tiny single-row aggregate, but a `.first()` apiece
    pays a whole job's scheduling overhead; unioning the tagged
    single-row results and collecting once keeps the guard cost at one
    job no matter how many bounds are active."""
    u = None
    for key, df in checks:
        one = df.select(
            F.lit(key).alias("k"), F.col("val").cast("double").alias("val")
        )
        u = one if u is None else u.unionByName(one)
    # AQE would split this fused action into a stage-job per branch
    # exchange (measured: 9 jobs for one banded-guard collect) — the
    # reduce output is rows-per-branch, so the scope is scale-neutral
    with one_job_collect(u.sparkSession):
        return {r["k"]: r["val"] for r in u.collect()}


def _one_row_val(df: DataFrame):
    """first()[0] of a single-row bound aggregate under one_job_collect
    (AQE otherwise splits the tiny action into 2-3 stage-jobs)."""
    with one_job_collect(df.sparkSession):
        return df.first()[0]


def _raise_hot_self(total: float | None, max_bucket_pairs: int) -> None:
    if total is not None and total > max_bucket_pairs:
        raise HotBucketPairsTooLarge(
            f"bucket self-join over distinct vectors would generate "
            f"~{int(total):,} candidate pairs (> max_bucket_pairs="
            f"{max_bucket_pairs:,}); raise n_planes (halves expected "
            f"bucket width per plane) or max_bucket_pairs deliberately"
        )


def _raise_wide_group(widest: float | None, max_group: int) -> None:
    if widest is not None and int(widest) > max_group:
        from datayours_spark.functions.dedup import ExpandedPairsTooLarge

        w = int(widest)
        raise ExpandedPairsTooLarge(
            f"widest identical-vector group has {w} members "
            f"(> max_group={max_group}); expanding would materialize "
            f"~{w * (w - 1) // 2:,} intra-group pairs — "
            "consume cosine_neardup_collapsed's (members, rep_pairs) "
            "form, or pass a larger max_group deliberately"
        )


def cosine_collapse_index(
    emb: DataFrame,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The collapsed cosine index: (members, tagged_reps).

    members: (vec_id, rep, self_sim) — every vector mapped to the least
    vec_id with a BIT-IDENTICAL vector; self_sim is the rounded cosine of
    the group vector with itself.  tagged_reps: (vec_id, v, nrm, bucket)
    — one row per DISTINCT vector, the relation bucket joins run against.
    This is the standing-index state for incremental maintenance
    (:func:`cosine_neardup_incremental`), mirroring ``minhash_index``.
    """
    from pyspark.sql import Window

    dim = _resolve_dim(emb, vec_col, dim)
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    )
    # ONE shuffle (window on the vector bits tags every row with its
    # group's least id) and ONE materialization: nrm and bucket are pure
    # projections, so they ride the same scan instead of a second
    # checkpoint + join; the single localCheckpoint cuts the upstream
    # (possibly Arrow-UDF) lineage so the downstream consumers (members,
    # reps guard agg, bucket self-join both sides) don't recompute it
    w = Window.partitionBy("v")
    tagged = vecs.select(
        "vec_id",
        "v",
        F.min("vec_id").over(w).alias("rep"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        _bucket_expr(F.col("v"), n_planes, dim).alias("bucket"),
    ).localCheckpoint(eager=True)
    self_sim = F.round(
        F.try_divide(
            dot(F.col("v"), F.col("v")),
            F.sqrt(dot(F.col("v"), F.col("v")))
            * F.sqrt(dot(F.col("v"), F.col("v"))),
        ),
        round_dp,
    )
    members = tagged.select("vec_id", "rep", self_sim.alias("self_sim"))
    tagged_reps = tagged.where(F.col("vec_id") == F.col("rep")).select(
        "vec_id", "v", "nrm", "bucket"
    )
    return members, tagged_reps


def cosine_neardup_collapsed(
    emb: DataFrame,
    n_planes: int = 6,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    dim: int | None = None,
    max_bucket_pairs: int | None = 50_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Vector-collapsed cosine near-dup: (members, rep_pairs).

    members: (vec_id, rep, self_sim) — every vector mapped to the least
    vec_id with a BIT-IDENTICAL vector; self_sim is the rounded cosine of
    the group vector with itself (1.0 for any non-zero vector; for the
    zero vector ``try_divide`` yields NULL — under Spark 4's default ANSI
    mode a plain division would instead kill the whole job with
    DIVIDE_BY_ZERO on one bad row — so a zero-vector pair is dropped by
    the ``sim >= threshold`` filter, the same arithmetic the naive path
    applies to an identical pair, see the proof in :func:`cosine_neardup`;
    behavior pinned by
    ``test_functions_similarity.py::test_zero_vector_pairs_drop``).
    rep_pairs: (id1, id2, sim) near-dup pairs BETWEEN distinct vectors'
    representatives, already threshold-filtered.

    This is the scale form: both relations are linear in the corpus (plus
    the true cross-group near-dup pairs); consume it directly for cluster
    assignment, or expand via :func:`cosine_neardup` when the explicit
    pair list is affordable.

    The hot-bucket guard (mirrors ``lsh_collapsed_candidates`` /
    ``ExpandedPairsTooLarge`` in dedup.py): the within-bucket self-join
    runs over DISTINCT vectors only, and ``max_bucket_pairs`` fail-fasts
    on Σ bucket-pairs before any quadratic work.
    """
    members, tagged_reps = cosine_collapse_index(
        emb, n_planes, id_col=id_col, vec_col=vec_col,
        round_dp=round_dp, dim=dim,
    )
    rep_pairs = _rep_self_pairs(
        tagged_reps, threshold, round_dp, max_bucket_pairs
    )
    return members, rep_pairs


def _rep_self_pairs(
    tagged_reps: DataFrame,
    threshold: float,
    round_dp: int,
    max_bucket_pairs: int | None,
) -> DataFrame:
    """Within-bucket self-join over distinct vectors' reps, with the
    Σ bucket-pairs fail-fast ahead of any quadratic work."""
    if max_bucket_pairs is not None:
        _raise_hot_self(
            _one_row_val(_bucket_pairs_check(tagged_reps)), max_bucket_pairs
        )
    # the verify stage's per-task work is candidate-pairs × dim dot
    # products, but the collapse checkpoint lands in very few partitions
    # when the corpus is small (AQE coalesces the window shuffle to KBs
    # → the whole exact-cosine verify ran on ≤2 tasks, measured r16
    # q_multimodal_neardup 2.0 s single-stage).  Round-robin spread the
    # probe side — gated no-op for reps already in ≥ cores splits; pair
    # set and sims are partitioning-independent (deterministic per pair)
    tagged_reps = spread_scan(tagged_reps)
    a, b = tagged_reps.alias("a"), tagged_reps.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    sim = F.try_divide(
        dot(F.col("a.v"), F.col("b.v")), F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        pairs.select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            F.round(sim, round_dp).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def _expand_member_pairs(
    members: DataFrame,
    rep_pairs: DataFrame,
    threshold: float,
    max_group: int | None,
) -> DataFrame:
    """Reconstitute the explicit pair set from the collapsed form: pairs
    WITHIN each identical-vector group (sim = the group's self-cosine)
    plus member products ACROSS each rep pair; ``max_group`` fail-fasts
    the quadratic intra expansion from one linear aggregation."""
    if max_group is not None:
        _raise_wide_group(_one_row_val(_max_group_check(members)), max_group)
    m1, m2 = members.alias("m1"), members.alias("m2")
    intra = (
        m1.join(
            m2,
            (F.col("m1.rep") == F.col("m2.rep"))
            & (F.col("m1.vec_id") < F.col("m2.vec_id")),
        )
        .select(
            F.col("m1.vec_id").alias("id1"),
            F.col("m2.vec_id").alias("id2"),
            F.col("m1.self_sim").alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )
    cross = (
        rep_pairs.join(
            members.select(F.col("rep").alias("id1"), F.col("vec_id").alias("a")),
            "id1",
        )
        .join(
            members.select(F.col("rep").alias("id2"), F.col("vec_id").alias("b")),
            "id2",
        )
        .select(
            F.least("a", "b").alias("id1"),
            F.greatest("a", "b").alias("id2"),
            "sim",
        )
    )
    return intra.unionByName(cross)


def cosine_neardup(
    emb: DataFrame,
    n_planes: int = 6,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    dim: int | None = None,
    collapse_identical: bool = True,
    max_bucket_pairs: int | None = 50_000_000,
    max_group: int | None = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked.

    The all-pairs O(N²) problem becomes: bucket every vector (n_planes-bit
    hyperplane signature), self-join WITHIN buckets only, verify candidates
    with the exact cosine, keep pairs ≥ threshold.  Output (id1, id2, sim).

    HOT-BUCKET GUARD (default on): an exact-duplicate-heavy corpus — the
    common case for image dedup, one logo repeated 100k× — lands identical
    signatures in ONE bucket and makes the naive self-join quadratic in
    documents.  With ``collapse_identical`` the join runs over DISTINCT
    vectors only (see :func:`cosine_neardup_collapsed`), then the pair set
    is reconstituted as intra-group pairs plus cross-group member products
    — output-sized work, never a quadratic join.  ``max_group`` bounds the
    widest identical-vector group the expansion accepts (the explicit pair
    list is quadratic in group size BY CONSTRUCTION — consume the collapsed
    form instead); ``max_bucket_pairs`` fail-fasts the candidate join.

    EXACTNESS (why the guarded path returns the identical pair set):
    1. bucket(x) and cosine(x, y) are deterministic functions of the
       vector bits; members of a group have bit-identical vectors, so for
       a ∈ G(r1), b ∈ G(r2): bucket(a)=bucket(r1), sim(a,b)=sim(r1,r2).
    2. The naive pair set {(a,b): a<b ∧ bucket(a)=bucket(b) ∧ sim≥t}
       therefore partitions into (i) intra-group pairs — co-bucketed by
       construction, sim = the group vector's self-cosine (bit-identical
       arithmetic: try_divide(dot(v,v), √dot(v,v)·√dot(v,v)); for zero
       vectors that is NULL and the pair falls to the threshold filter,
       exactly as the naive path computes for an identical pair) — and
       (ii) cross-group pairs, present iff the representatives are
       co-bucketed and sim(r1,r2) ≥ t.
    3. Groups are disjoint and each vector has exactly ONE bucket (single
       signature, no banding), so neither side emits a duplicate, and
       least/greatest re-establishes id1 < id2 within cross products. ∎
    Driver-gate evidence: q_dedup_embed / q_multimodal_neardup pass the
    SAME DuckDB oracles with the guard on as the naive path did.

    Scale notes: the bucket equi-join shuffles on the bucket id — at 100 TB
    tune n_planes so bucket sizes stay join-friendly (each extra plane
    halves the expected bucket), and band like MinHash-LSH (several
    independent signatures OR-ed) if recall matters more than cost.
    """
    if not collapse_identical:
        buckets = lsh_buckets(emb, n_planes, id_col=id_col, vec_col=vec_col, dim=dim)
        vecs = emb.select(F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v"))
        norms = vecs.select("vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"))
        tagged = norms.join(buckets, "vec_id")
        a, b = tagged.alias("a"), tagged.alias("b")
        pairs = a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        sim = F.try_divide(
        dot(F.col("a.v"), F.col("b.v")), F.col("a.nrm") * F.col("b.nrm")
    )
        return (
            pairs.select(
                F.col("a.vec_id").alias("id1"),
                F.col("b.vec_id").alias("id2"),
                F.round(sim, round_dp).alias("sim"),
            )
            .where(F.col("sim") >= threshold)
        )
    members, tagged_reps = cosine_collapse_index(
        emb, n_planes, id_col=id_col, vec_col=vec_col,
        round_dp=round_dp, dim=dim,
    )
    # both fail-fast bounds in ONE action (they are tiny aggregates over
    # the just-checkpointed index); the sub-calls then skip their own
    checks: list[tuple[str, DataFrame]] = []
    if max_bucket_pairs is not None:
        checks.append(("bucket_pairs", _bucket_pairs_check(tagged_reps)))
    if max_group is not None:
        checks.append(("max_group", _max_group_check(members)))
    if checks:
        totals = _guard_totals(checks)
        if max_bucket_pairs is not None:
            _raise_hot_self(totals.get("bucket_pairs"), max_bucket_pairs)
        if max_group is not None:
            _raise_wide_group(totals.get("max_group"), max_group)
    rep_pairs = _rep_self_pairs(tagged_reps, threshold, round_dp, None)
    return _expand_member_pairs(members, rep_pairs, threshold, None)


def cosine_neardup_banded(
    emb: DataFrame,
    n_planes: int = 4,
    n_bands: int = 3,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    dim: int | None = None,
    max_bucket_pairs: int | None = 50_000_000,
    max_group: int | None = 10_000,
) -> DataFrame:
    """OR-amplified (banded) cosine near-dup: higher recall than the
    single-signature :func:`cosine_neardup` at ``n_bands``× the blocking
    cost.

    MinHash-LSH-style banding for hyperplane signatures: each band b is an
    independent ``n_planes``-bit signature (planes [b·n_planes,
    (b+1)·n_planes) of the deterministic md5-derived family), a pair is a
    CANDIDATE if it collides in ANY band, and every candidate is verified
    with the exact cosine.  For a pair at angle θ the single-signature
    collision probability (1−θ/π)^planes becomes
    1−(1−(1−θ/π)^n_planes)^n_bands — e.g. a 0.9-cosine pair is caught
    with p≈0.39 by one 6-plane signature but p≈0.90 by 3×4-plane bands.

    Same hot-bucket discipline as the single-signature path: identical
    vectors collapse to one representative before any join (bit-identical
    vectors agree in every band, so collapse is exactness-preserving by
    the same argument as :func:`cosine_neardup`), ``max_bucket_pairs``
    bounds the TOTAL self-join work across bands, ``max_group`` bounds
    the expansion.  Candidates hit in several bands compute the same
    deterministic sim in each; one pair-keyed aggregation dedups them.

    Scale shape: n_bands bucket equi-joins (each shuffling on its band's
    bucket id) + one pair-keyed dedup shuffle — work is Σ_bands
    Σ_buckets w·(w−1)/2, measured by the guard before any join runs.
    """
    from pyspark.sql import Window

    dim = _resolve_dim(emb, vec_col, dim)
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    )
    w = Window.partitionBy("v")
    tagged = vecs.select(
        "vec_id",
        "v",
        F.min("vec_id").over(w).alias("rep"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        *[
            _bucket_expr(
                F.col("v"), n_planes, dim, plane_offset=b * n_planes
            ).alias(f"bucket_{b}")
            for b in range(n_bands)
        ],
    ).localCheckpoint(eager=True)
    self_sim = F.round(
        F.try_divide(
            dot(F.col("v"), F.col("v")),
            F.sqrt(dot(F.col("v"), F.col("v")))
            * F.sqrt(dot(F.col("v"), F.col("v"))),
        ),
        round_dp,
    )
    members = tagged.select("vec_id", "rep", self_sim.alias("self_sim"))
    reps = tagged.where(F.col("vec_id") == F.col("rep"))
    checks: list[tuple[str, DataFrame]] = []
    if max_bucket_pairs is not None:
        for b in range(n_bands):
            checks.append(
                (
                    f"band{b}_pairs",
                    _bucket_pairs_check(
                        reps.select(F.col(f"bucket_{b}").alias("bucket"))
                    ),
                )
            )
    if max_group is not None:
        checks.append(("max_group", _max_group_check(members)))
    if checks:
        totals = _guard_totals(checks)
        if max_bucket_pairs is not None:
            band_total = sum(
                totals.get(f"band{b}_pairs") or 0.0 for b in range(n_bands)
            )
            _raise_hot_self(band_total if band_total else None, max_bucket_pairs)
        if max_group is not None:
            _raise_wide_group(totals.get("max_group"), max_group)
    sim = F.try_divide(
        dot(F.col("a.v"), F.col("b.v")), F.col("a.nrm") * F.col("b.nrm")
    )
    cand = None
    for b in range(n_bands):
        a_, b_ = reps.alias("a"), reps.alias("b")
        one = (
            a_.join(
                b_,
                (F.col(f"a.bucket_{b}") == F.col(f"b.bucket_{b}"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("id1"),
                F.col("b.vec_id").alias("id2"),
                F.round(sim, round_dp).alias("sim"),
            )
            .where(F.col("sim") >= threshold)
        )
        cand = one if cand is None else cand.unionByName(one)
    # a pair caught in several bands carries the identical deterministic
    # sim in each — min() is just the dedup aggregate
    rep_pairs = cand.groupBy("id1", "id2").agg(F.min("sim").alias("sim"))
    return _expand_member_pairs(members, rep_pairs, threshold, None)


def cosine_neardup_incremental(
    new_emb: DataFrame,
    index_members: DataFrame,
    index_reps: DataFrame,
    n_planes: int = 6,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    dim: int | None = None,
    max_bucket_pairs: int | None = 50_000_000,
    max_group: int | None = 10_000,
) -> DataFrame:
    """Embedding near-dup pairs introduced by a new batch, against a
    standing collapsed cosine index (the embedding analogue of
    ``minhash_incremental`` — completes the incremental-maintenance
    family: MinHash, spans, embeddings).

    ``index_members``/``index_reps`` come from :func:`cosine_collapse_index`
    over the existing corpus.  Emits exactly the pairs a full
    :func:`cosine_neardup` over (corpus ∪ batch) would emit that involve
    at least one new vector: new×old via ONE bucket equi-join of the
    batch's distinct vectors against the corpus REPS (then member
    expansion — a batch vector identical to a 100k-wide standing group
    costs one rep comparison plus output-sized expansion, never 100k
    comparisons), plus new×new from the guarded pipeline on the batch
    alone.  vec_ids must be disjoint from the corpus (the caller owns id
    allocation, as in ``append_to_ann_index``).

    This is the 100 TB operational path: per-batch cost scales with the
    BATCH and the matched buckets, not the corpus — the full recompute
    never reruns.  Appending the batch's collapse-index rows afterwards
    keeps the index current (new groups join as their own reps; a batch
    vector equal to a standing rep's vector extends that rep's group).

    Callers that also need the batch's own collapse-index rows (e.g. a
    streaming store appending them for the next batch) should use
    :func:`cosine_neardup_incremental_indexed`, which returns them
    alongside the pairs — the index is built (and checkpointed) ONCE per
    call, not recomputed.
    """
    pairs, _, _ = cosine_neardup_incremental_indexed(
        new_emb, index_members, index_reps, n_planes=n_planes,
        threshold=threshold, id_col=id_col, vec_col=vec_col,
        round_dp=round_dp, dim=dim, max_bucket_pairs=max_bucket_pairs,
        max_group=max_group,
    )
    return pairs


def cosine_neardup_incremental_indexed(
    new_emb: DataFrame,
    index_members: DataFrame,
    index_reps: DataFrame,
    n_planes: int = 6,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    dim: int | None = None,
    max_bucket_pairs: int | None = 50_000_000,
    max_group: int | None = 10_000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`cosine_neardup_incremental` plus the batch's own collapse
    index: returns ``(pairs, new_members, new_reps)``.

    The batch collapse index is an input to the pair computation AND the
    rows a maintaining caller appends to the standing index afterwards —
    returning it avoids a second ``cosine_collapse_index`` window +
    checkpoint per micro-batch (round-6 verdict item #6)."""
    new_members, new_reps = cosine_collapse_index(
        new_emb, n_planes, id_col=id_col, vec_col=vec_col,
        round_dp=round_dp, dim=dim,
    )
    # every fail-fast bound — standing-group width, batch-vs-corpus
    # bucket products (Σ_b new_width_b × corpus_width_b), and the
    # within-batch self-join/expansion bounds — in ONE Spark action; the
    # downstream sub-calls then skip their own guards
    checks: list[tuple[str, DataFrame]] = []
    if max_group is not None:
        checks.append(("standing_widest", _max_group_check(index_members)))
        checks.append(("batch_widest", _max_group_check(new_members)))
    if max_bucket_pairs is not None:
        nw = new_reps.groupBy("bucket").count().withColumnRenamed("count", "nc")
        cw = index_reps.groupBy("bucket").count().withColumnRenamed("count", "cc")
        cross_check = nw.join(cw, "bucket").agg(
            F.sum(F.col("nc") * F.col("cc")).alias("val")
        )
        checks.append(("cross_pairs", cross_check))
        checks.append(("batch_pairs", _bucket_pairs_check(new_reps)))
    if checks:
        totals = _guard_totals(checks)
        if max_group is not None:
            widest = totals.get("standing_widest")
            if widest is not None and int(widest) > max_group:
                from datayours_spark.functions.dedup import ExpandedPairsTooLarge

                raise ExpandedPairsTooLarge(
                    f"widest standing identical-vector group has "
                    f"{int(widest)} members (> max_group={max_group}); "
                    "expanding new×old pairs would be quadratic — consume "
                    "rep-level pairs, or pass a larger max_group deliberately"
                )
            _raise_wide_group(totals.get("batch_widest"), max_group)
        if max_bucket_pairs is not None:
            total = totals.get("cross_pairs")
            if total is not None and total > max_bucket_pairs:
                raise HotBucketPairsTooLarge(
                    f"batch-vs-corpus bucket join would compare "
                    f"~{int(total):,} rep pairs (> max_bucket_pairs="
                    f"{max_bucket_pairs:,}); raise n_planes or "
                    "max_bucket_pairs deliberately"
                )
            _raise_hot_self(totals.get("batch_pairs"), max_bucket_pairs)
    b, c = new_reps.alias("b"), index_reps.alias("c")
    sim = F.try_divide(
        dot(F.col("b.v"), F.col("c.v")), F.col("b.nrm") * F.col("c.nrm")
    )
    rep_cross = (
        b.join(c, F.col("b.bucket") == F.col("c.bucket"))
        .select(
            F.col("b.vec_id").alias("bid"),
            F.col("c.vec_id").alias("cid"),
            F.round(sim, round_dp).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )
    cross = (
        rep_cross.join(
            new_members.select(F.col("rep").alias("bid"), F.col("vec_id").alias("a")),
            "bid",
        )
        .join(
            index_members.select(
                F.col("rep").alias("cid"), F.col("vec_id").alias("o")
            ),
            "cid",
        )
        .select(
            F.least("a", "o").alias("id1"),
            F.greatest("a", "o").alias("id2"),
            "sim",
        )
    )
    # new×new over the SAME batch collapse index (no recompute): the
    # self-join plus expansion, exactly cosine_neardup's path — bounds
    # already enforced by the combined guard action above
    within = _expand_member_pairs(
        new_members,
        _rep_self_pairs(new_reps, threshold, round_dp, None),
        threshold,
        None,
    )
    return within.unionByName(cross), new_members, new_reps


def ivf_centroids(
    emb: DataFrame,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-quantizer centroids: the mean vector per seed cluster.

    The fixture uses the `label` column as the seed clustering; in
    production the seeds come from a k-means pass (same downstream shape).
    Output: (centroid_id, cv: array<double>, cnorm).
    """
    comps = emb.select(
        F.col(cluster_col).alias("centroid_id"),
        F.posexplode(as_double_array(vec_col)).alias("pos", "x"),
    )
    means = comps.groupBy("centroid_id", "pos").agg(F.avg("x").alias("m"))
    cent = means.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("cv")
    )
    return cent.select(
        "centroid_id", "cv", F.sqrt(dot(F.col("cv"), F.col("cv"))).alias("cnorm")
    )


#: below this many training rows per iteration, Janino compilation of the
#: one-shot k×d-literal assignment expression costs more than interpreted
#: execution saves.  Same-session A/B of the 2-iter coarse trainer:
#: 2k vectors — 7.5 s codegen vs 4.8 s interpreted; 200k vectors — 10.5 s
#: codegen vs 17.1 s interpreted.  Crossover sits around ~50k rows.
TRAINING_CODEGEN_MIN_ROWS = 50_000

#: the training scope's flips.  Model-state aggregates hold k×d (or
#: m×ks×dsub) reduce rows — KB-scale by the same row gate that scopes
#: codegen/AQE, so one reduce partition is the right shape wherever the
#: scope applies; 32 near-empty reduce tasks per Lloyd collect were pure
#: scheduling (~0.2-0.4 s per iteration on the measured local floor, r15)
_TRAINING_CONFS = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
}


def _training_exec_conf(spark, n_rows: int):
    """Disable whole-stage codegen for a MODEL-TRAINING scope when the
    per-iteration input is small (see TRAINING_CODEGEN_MIN_ROWS).

    Training iterations evaluate a fresh k×d-literal expression exactly
    once — compilation of a 12 KB expression that runs over KB-scale data
    is pure overhead, but over 100k+ rows the compiled form wins.
    Scoring and encode paths always keep codegen — they run per-row over
    the corpus.

    AQE is gated by the same threshold: adaptive execution splits every
    one-shuffle training collect into a shuffle-stage job plus a re-
    optimized result job (2 scheduling round-trips ≈ 0.3-0.6 s on the
    measured local floor, r15) to coalesce partitions that are KBs of
    model state either way.  Above the threshold the input is corpus-
    sized and AQE's runtime coalescing is exactly what we want — it
    stays on.

    Save/restore, overlap and the session-global contract follow
    :func:`datayours_spark.session.conf_scope`."""
    if n_rows >= TRAINING_CODEGEN_MIN_ROWS:
        return contextlib.nullcontext()
    return conf_scope(spark, _TRAINING_CONFS)


#: schema of a coarse-quantizer table (:func:`kmeans_centroids`)
CENTROID_SCHEMA = "centroid_id int, cv array<double>, cnorm double"


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Deterministic DataFrame k-means coarse quantizer:
    (centroid_id, cv, cnorm) — :func:`kmeans_centroid_rows` as a
    one-partition relation, for callers that join or broadcast it.
    Callers that want the model state on the driver take the rows
    instead: collecting this relation back is a Python-worker job."""
    return small_df(
        emb.sparkSession,
        kmeans_centroid_rows(emb, k, iters, seed, id_col, vec_col, round_dp),
        CENTROID_SCHEMA,
    )


def kmeans_centroid_rows(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> list[tuple[int, list[float], float]]:
    """Deterministic k-means coarse quantizer as driver-side model
    state: one (centroid_id, cv, cnorm) tuple per centroid, in id order.

    Engine-portable by construction (the DuckDB oracle replays the exact
    iterations):

    - Init: the k vectors with the smallest ``md5('<seed>_<vec_id>')`` hex
      string (md5 is identical everywhere; no RNG state).
    - Exactly ``iters`` Lloyd iterations, no convergence test: assign each
      vector to its nearest centroid by cosine ROUNDED to 9 dp (ties →
      lowest centroid_id), then recompute each centroid as the per-dimension
      mean ROUNDED to ``round_dp`` — the rounding swamps float summation-
      order differences between engines, making every iteration bit-stable.
    - Empty clusters keep their previous centroid.

    Scale shape — ONE Spark job per iteration: centroids are model state
    (k×d doubles, KBs), so they live driver-side between iterations and
    enter the plan as LITERAL arrays.  Assignment is then a pure
    projection (argmax of k rounded cosines via `greatest` over
    (csim, -centroid_id) structs — no broadcast join, no window, no
    shuffle), fused with the per-(cluster, dim) mean aggregation into a
    single groupBy whose k×d result is collected back into the model
    state, which is returned as is.  The round-3 shape (broadcast join +
    row_number window + two aggregations + a localCheckpoint per
    iteration, ~3 jobs each) measured ~2× slower; arithmetic is unchanged
    (sequential-fold dot, 9-dp cosine, identical tie-breaks) so the
    oracle replay is bit-identical.
    """
    # materialize (vec_id, v, nrm) ONCE: every Lloyd iteration re-reads the
    # vectors for the fused assignment+means pass — without the cut each
    # iteration re-scans the source parquet and recomputes the norms.
    # LAZY checkpoint + count: the count() action both materializes the
    # checkpoint blocks and returns n in ONE job (eager=True would spend a
    # separate materialization job first — ~0.15-0.3 s of pure scheduling
    # overhead on the measured local floor, r15)
    vecs = (
        emb.select(
            F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
        )
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .localCheckpoint(eager=False)
    )
    n_vecs = vecs.count()  # materializes the checkpoint AND counts
    hk = F.md5(F.concat(F.lit(f"{seed}_"), F.col("vec_id").cast("string")))
    # ONE training-exec scope around seed selection + every Lloyd
    # iteration (the gate needs n_vecs, so the count above stays outside):
    # each of these actions is a tiny model-state collect whose codegen
    # compile and AQE re-optimization round-trips are pure overhead below
    # the threshold (see _training_exec_conf)
    with _training_exec_conf(emb.sparkSession, n_vecs):
        # the k seed vectors are an explicit driver-side materialization:
        # top-k by hash is a distributed takeOrdered, and the centroid
        # model state is driver-side from here on
        seed_rows = (
            vecs.withColumn("hk", hk)
            .select("hk", "vec_id", "v")
            .orderBy("hk", "vec_id")
            .take(k)
        )
        cents: list[tuple[int, list[float]]] = [
            (i, [float(x) for x in r["v"]]) for i, r in enumerate(seed_rows)
        ]

        for _ in range(iters):
            # the assignment argmax renders as ONE SQL expression
            # (_argmax_codeword_sql — shared with the PQ path so there is
            # a single implementation of the determinism-critical
            # contract) instead of k×d F.lit py4j round-trips: expression
            # CONSTRUCTION was ~0.5 s/iteration, ~half the warm runtime
            # (measured at sf0.1)
            rows = (
                vecs.withColumn(
                    "cluster",
                    F.expr(
                        _argmax_codeword_sql(cents, "v", "nrm", vec_is_exact=True)
                    ).cast("int"),
                )
                .select("cluster", F.posexplode("v").alias("pos", "x"))
                .groupBy("cluster", "pos")
                .agg(F.round(F.avg("x"), round_dp).alias("m"))
                .collect()
            )
            by_cluster: dict[int, dict[int, float]] = {}
            for r in rows:
                by_cluster.setdefault(r["cluster"], {})[r["pos"]] = float(r["m"])
            cents = [
                (
                    cid,
                    [by_cluster[cid][p] for p in sorted(by_cluster[cid])]
                    if cid in by_cluster
                    else cv,  # empty cluster keeps its previous centroid
                )
                for cid, cv in cents
            ]

    def _norm(cv: list[float]) -> float:
        # mirror of dot(cv, cv): sequential left-to-right fold from 0.0 —
        # identical IEEE operation order, so driver and executors agree
        acc = 0.0
        for x in cv:
            acc = acc + x * x
        import math

        return math.sqrt(acc)
    return [(cid, cv, _norm(cv)) for cid, cv in cents]


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine:
    (vec_id, cluster).  Ties break by centroid_id; the centroid table is
    tiny → broadcast, so assignment is a narrow map-side pass.

    The argmax is a ``max_by`` aggregation, NOT a per-vector window: the
    broadcast crossJoin expands to N×k scored rows, and a window would
    shuffle ALL of them on vec_id (1.8B rows at 1.5M×1216 — the r7
    verdict's semdedup-build finding); ``max_by`` partial-aggregates
    map-side, collapsing each vector's k candidates to one row BEFORE
    the exchange, so shuffle volume is N regardless of k.  The ordering
    struct (csim, −centroid_id) reproduces the window's (csim DESC,
    centroid_id ASC) tie-break exactly — a null csim (zero-norm vector)
    sorts below every real score in both forms, so degenerate vectors
    still land on the lowest-id centroid."""
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    scored = vecs.crossJoin(F.broadcast(centroids)).withColumn(
        "csim",
        F.round(
            F.try_divide(
                dot(F.col("v"), F.col("cv")), F.col("nrm") * F.col("cnorm")
            ),
            9,
        ),
    )
    return scored.groupBy("vec_id").agg(
        F.max_by(
            F.col("centroid_id"),
            F.struct(
                F.col("csim").alias("s"),
                (-F.col("centroid_id")).alias("nid"),
            ),
        )
        .cast("long")
        .alias("cluster")
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    centroids: DataFrame | None = None,
    nprobe: int = 1,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: probe the query's `nprobe` nearest centroids' clusters.

    `centroids` supplies the coarse quantizer — pass
    :func:`kmeans_centroids` output for the learned (production) path;
    defaults to the `cluster_col`-seeded means for fixture parity.

    Scale shape vs brute force: candidate generation is an equi-join on the
    cluster id (≈ nprobe·N/n_clusters candidates per query) instead of a
    full scan; `nprobe` is the recall/cost dial — 1 reads one inverted
    list per query, n_clusters degrades gracefully to exact brute force.
    The probe set is computed on the tiny broadcast centroid table with the
    same 9-dp-rounded cosine as assignment, so nprobe=1 is exactly "the
    query's own cluster".  Output matches cosine_topk:
    (query_id, vec_id, sim, rank).
    """
    from pyspark.sql import Window

    cent = (
        centroids
        if centroids is not None
        else ivf_centroids(emb, cluster_col, id_col, vec_col)
    )
    # assignments are index state (see ivfpq_topk): inject the stored
    # inverted-list membership to skip the per-search re-assignment
    assign = (
        assignments
        if assignments is not None
        else ivf_assign(emb, cent, id_col, vec_col)
    )
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    tagged = vecs.join(assign, "vec_id")
    # probe sets: each query's nprobe nearest centroids (rank 1 == its own
    # assignment, so nprobe=1 reproduces single-probe IVF bit-for-bit)
    pw = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id")
    )
    queries = (
        vecs.where(F.col("vec_id").isin(query_ids))
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "csim",
            F.round(
                F.try_divide(
                    dot(F.col("v"), F.col("cv")),
                    F.col("nrm") * F.col("cnorm"),
                ),
                9,
            ),
        )
        .withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= nprobe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnorm"),
            F.col("centroid_id").alias("qcluster"),
        )
    )
    cand = tagged.join(
        F.broadcast(queries),
        (F.col("cluster") == F.col("qcluster"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    sim = F.try_divide(
        dot(F.col("v"), F.col("qv")), F.col("nrm") * F.col("qnorm")
    )
    ranked = cand.select(
        "query_id", "vec_id", F.round(sim, round_dp).alias("sim")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("sim").desc(), F.col("vec_id")
            )
        ),
    )
    return ranked.where(F.col("rank") <= k).withColumn(
        "rank", F.col("rank").cast("long")
    )


def bucket_stats(buckets: DataFrame) -> DataFrame:
    """Bucket occupancy: (bucket, n, min_vec_id) — the ANN candidate sets."""
    return buckets.groupBy("bucket").agg(
        F.count("*").alias("n"), F.min("vec_id").alias("min_vec_id")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product quantization on top of the learned IVF coarse quantizer.
# The memory-side answer for 100 TB embedding stores: candidate scoring
# reads m small integer codes per vector (m bytes at ks<=256) plus one
# stored norm instead of the full d-dim float vector; per-query scoring is
# a lookup-table sum (asymmetric distance computation over inner products).
# Same determinism contract as kmeans_centroids — md5 init, fixed Lloyd
# iterations, 9-dp-rounded cosine assignment, 6-dp-rounded means — so the
# DuckDB oracle replays codebook training, encoding, and ADC bit-for-bit.
# ---------------------------------------------------------------------------


def _lit_dot_sql(
    base_sql: str,
    offset: int,
    weights: list[float],
    expand: bool,
    vec_is_exact: bool = False,
) -> str:
    """SQL text of dot(vector-slice, literal weights).

    Two bit-identical renderings — a left-to-right ``+`` chain performs
    exactly the IEEE additions of the fold (the fold's leading ``0.0 + x``
    is exact), so either form replays against the same oracle:

    - ``expand=False`` (default): ``aggregate(zip_with(slice(...), ...))``
      — a compact expression that Janino compiles; higher-order functions
      interpret a lambda per element, which is fine at gate-fixture sizes.
    - ``expand=True``: ``v[o]*w0 + v[o+1]*w1 + ...`` scalar arithmetic.
      The k×d-term expressions overflow Janino's 64 KB method limit, so
      codegen fails (logged) and execution falls back to INTERPRETED-
      expanded.  Same-session A/B at 200k×64-dim vectors: ENCODE 7.1 s
      fold → 1.8-2.9 s expanded (2.5-4×: one flat projection, and the
      interpreted Add-chain beats per-element lambdas), but TRAINING
      12 s fold → 14 s expanded (the grouped CASE multiplies the
      failed-compile cost across stages) — so the encode scan opts in at
      scale and everything else keeps the fold.
    """
    if expand:
        return " + ".join(
            f"{base_sql}[{offset + i}]*{w!r}D" for i, w in enumerate(weights)
        )
    arr = ",".join(f"{w!r}D" for w in weights)
    # vec_is_exact: the caller guarantees the column is exactly
    # len(weights) wide at offset 0, so zip_with takes it directly —
    # a slice() would copy the array once PER CODEWORD per row (zip_with
    # pads the shorter side with nulls, so slicing is mandatory whenever
    # the column may be wider)
    vec = (
        base_sql
        if vec_is_exact and offset == 0
        else f"slice({base_sql}, {offset + 1}, {len(weights)})"
    )
    return (
        f"aggregate(zip_with({vec}, array({arr}), (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _argmax_codeword_sql(
    cents: list[tuple[int, list[float]]],
    vec_sql: str,
    nrm_sql: str,
    offset: int = 0,
    expand: bool = False,
    vec_is_exact: bool = False,
) -> str:
    """SQL text of the codeword argmax: greatest over (csim, -id) structs,
    csim = round(dot(vec, cw)/(nrm*|cw|), 9) — the kmeans_centroids
    assignment contract verbatim.  ``vec_sql`` names the ARRAY COLUMN the
    codewords score against and ``offset`` the 0-based element offset of
    the subspace window; see :func:`_lit_dot_sql` for the two renderings.
    """
    import math

    parts = []
    for cid, cv in cents:
        acc = 0.0
        for x in cv:
            acc = acc + x * x
        dot_sql = _lit_dot_sql(vec_sql, offset, cv, expand, vec_is_exact)
        parts.append(
            f"named_struct('s', round(try_divide(({dot_sql}), ({nrm_sql} * "
            + f"{math.sqrt(acc)!r}D)), 9), 'ni', {-cid})"
        )
    inner = parts[0] if len(parts) == 1 else "greatest(" + ",".join(parts) + ")"
    return f"(-(({inner}).ni))"


def pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    ks: int = 16,
    iters: int = 2,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    expand_dots: bool = False,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace PQ codebooks, trained as ONE grouped k-means: every
    Lloyd iteration runs a single Spark job covering all m subspaces (the
    subspace id is just another group key), with the codebook state held
    driver-side (m*ks*(dim/m) doubles = KBs of model state).

    Init per subspace: the ks sub-vectors with the smallest
    md5('<seed>_<sub>_<vec_id>').  Returns codebooks[sub] =
    [(code, centroid_subvector)], each list exactly ks long.
    """
    if dim is None:
        dim = embedding_dim(emb, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    from pyspark.sql import Window

    slices = F.array(
        *[F.slice("v", j * dsub + 1, dsub) for j in range(m)]
    )
    subs = (
        emb.select(
            F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
        )
        .select("vec_id", F.posexplode(slices).alias("sub", "sv"))
        .withColumn("snrm", F.sqrt(dot(F.col("sv"), F.col("sv"))))
        .localCheckpoint(eager=False)
    )
    # lazy checkpoint + count in ONE job (same rationale as
    # kmeans_centroids: the count action materializes the blocks)
    n_subs = subs.count()
    hk = F.md5(
        F.concat(
            F.lit(f"{seed}_"),
            F.col("sub").cast("string"),
            F.lit("_"),
            F.col("vec_id").cast("string"),
        )
    )
    # two-phase top-ks per subspace: a window partitioned by bare `sub`
    # would sort the whole exploded corpus in m partitions (the WindowExec
    # hot-partition shape).  Salting by a vec_id hash keeps partitions
    # narrow; each (sub, salt) cell's local top-ks is a superset of its
    # contribution to the global top-ks, so the tiny second pass over
    # m × 64 × ks survivors is exact.
    salt = F.pmod(F.xxhash64("vec_id"), F.lit(64))
    w1 = Window.partitionBy("sub", salt).orderBy("hk", "vec_id")
    w2 = Window.partitionBy("sub").orderBy("hk", "vec_id")
    # ONE training-exec scope around seed selection + every Lloyd
    # iteration (same rationale as kmeans_centroids; the count above
    # stays outside because the gate needs it)
    with _training_exec_conf(emb.sparkSession, n_subs):
        seed_rows = (
            subs.withColumn("hk", hk)
            .withColumn("rn1", F.row_number().over(w1))
            .where(F.col("rn1") <= ks)
            .withColumn("rn", F.row_number().over(w2))
            .where(F.col("rn") <= ks)
            .select("sub", "rn", "sv")
            .collect()
        )
        books: list[list[tuple[int, list[float]]]] = [[] for _ in range(m)]
        for r in sorted(seed_rows, key=lambda r: (r["sub"], r["rn"])):
            books[r["sub"]].append(
                (r["rn"] - 1, [float(x) for x in r["sv"]])
            )

        for _ in range(iters):
            branches = " ".join(
                f"WHEN {j} THEN "
                + _argmax_codeword_sql(
                    books[j], "sv", "snrm", expand=expand_dots, vec_is_exact=True
                )
                for j in range(m)
            )
            cluster = F.expr(f"CASE sub {branches} END").cast("int")
            rows = (
                subs.withColumn("cluster", cluster)
                .select("sub", "cluster", F.posexplode("sv").alias("pos", "x"))
                .groupBy("sub", "cluster", "pos")
                .agg(F.round(F.avg("x"), round_dp).alias("mv"))
                .collect()
            )
            means: dict[tuple[int, int], dict[int, float]] = {}
            for r in rows:
                means.setdefault((r["sub"], r["cluster"]), {})[r["pos"]] = float(
                    r["mv"]
                )
            books = [
                [
                    (
                        cid,
                        [means[(j, cid)][p] for p in sorted(means[(j, cid)])]
                        if (j, cid) in means
                        else cv,
                    )
                    for cid, cv in books[j]
                ]
                for j in range(m)
            ]
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expand_dots: bool = False,
    nrm_col: str | None = None,
) -> DataFrame:
    """(vec_id, codes array<int>, nrm): each vector's m codeword ids (the
    m-byte compressed representation) plus its exact norm — the only two
    things ADC scoring ever reads per candidate.

    ``nrm_col`` names an input column to pass through as the stored norm
    instead of computing sqrt(dot(v, v)) of ``vec_col`` — the residual-PQ
    path stores the ORIGINAL vector's norm next to codes that encode the
    residual (see :func:`residual_vectors` ``carry_nrm``)."""
    m = len(codebooks)
    dsub = dim // m
    exprs = []
    for j in range(m):
        off = j * dsub
        if expand_dots:
            # same sequential order as the fold → bit-identical
            nrm_sql = "sqrt(" + " + ".join(
                f"v[{off + i}]*v[{off + i}]" for i in range(dsub)
            ) + ")"
        else:
            sl = f"slice(v, {off + 1}, {dsub})"
            nrm_sql = (
                f"sqrt(aggregate(zip_with({sl}, {sl}, (x, y) -> x * y), "
                "0.0D, (acc, x) -> acc + x))"
            )
        exprs.append(
            _argmax_codeword_sql(
                codebooks[j], "v", nrm_sql, offset=off, expand=expand_dots
            )
        )
    codes = F.expr("array(" + ",".join(exprs) + ")")
    if nrm_col is not None:
        return emb.select(
            F.col(id_col).alias("vec_id"),
            as_double_array(vec_col).alias("v"),
            F.col(nrm_col).alias("nrm"),
        ).select("vec_id", codes.cast("array<int>").alias("codes"), "nrm")
    return (
        emb.select(
            F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
        )
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .select("vec_id", codes.cast("array<int>").alias("codes"), "nrm")
    )


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    centroids: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    dim: int,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    codes: DataFrame | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ANN: probe the coarse quantizer's inverted lists, score
    candidates by ASYMMETRIC distance — approx cosine = (sum over
    subspaces of table[sub][code]) / (|x| * |q|), where the per-query
    lookup table holds dot(q_sub, codeword) for every (sub, codeword).

    Scale shape: the lookup table is queries x m x ks rows (broadcast);
    candidates contribute m code rows each (the m-byte payload), never
    their full vectors — the scan side of the join reads codes + one norm.
    Output: (query_id, vec_id, sim, rank) with sim the ADC approximation.
    """
    from pyspark.sql import Window

    m = len(codebooks)
    dsub = dim // m
    spark = emb.sparkSession

    # codes/assignments are INDEX STATE: in production both are computed
    # once at ingest and stored (codes are the m-byte payload; cluster is
    # the partition key).  Passing them skips the per-search re-encode —
    # MEASURED_LEDGER_2026-10-17.md records the two phases separately.
    assign = (
        assignments
        if assignments is not None
        else ivf_assign(emb, centroids, id_col, vec_col)
    )
    if codes is None:
        codes = pq_encode(emb, codebooks, dim, id_col, vec_col)

    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    pw = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id")
    )
    probes = (
        vecs.where(F.col("vec_id").isin(query_ids))
        .crossJoin(F.broadcast(centroids))
        .withColumn(
            "csim",
            F.round(
                F.try_divide(
                    dot(F.col("v"), F.col("cv")),
                    F.col("nrm") * F.col("cnorm"),
                ),
                9,
            ),
        )
        .withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= nprobe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("nrm").alias("qnorm"),
            F.col("centroid_id").alias("qcluster"),
        )
    )

    # per-query ADC lookup table: dot(q_sub, codeword) for all (sub, code)
    cb = small_df(
        spark,
        [
            (j, cid, cv)
            for j, book in enumerate(codebooks)
            for cid, cv in book
        ],
        "sub int, code int, cw array<double>",
    )
    qslices = F.array(*[F.slice("v", j * dsub + 1, dsub) for j in range(m)])
    qsub = (
        vecs.where(F.col("vec_id").isin(query_ids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(qslices).alias("sub", "qsv"),
        )
    )
    table = qsub.join(F.broadcast(cb), "sub").select(
        "query_id",
        "sub",
        "code",
        F.round(dot(F.col("qsv"), F.col("cw")), 9).alias("pdot"),
    )

    pairs = (
        codes.join(assign, "vec_id")
        .join(
            F.broadcast(probes),
            (F.col("cluster") == F.col("qcluster"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", "codes", "nrm", "qnorm")
    )
    scored = (
        pairs.select(
            "query_id", "vec_id", "nrm", "qnorm",
            F.posexplode("codes").alias("sub", "code"),
        )
        .join(F.broadcast(table), ["query_id", "sub", "code"])
        .groupBy("query_id", "vec_id", "nrm", "qnorm")
        .agg(F.sum("pdot").alias("adot"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.try_divide(F.col("adot"), F.col("nrm") * F.col("qnorm")),
                round_dp,
            ).alias("sim"),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("sim").desc(), F.col("vec_id")
            )
        ),
    )
    return ranked.where(F.col("rank") <= k).withColumn(
        "rank", F.col("rank").cast("long")
    )


def ivfpq_rerank_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    centroids: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    dim: int,
    shortlist: int = 15,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    codes: DataFrame | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """Two-stage retrieval: IVF-PQ ADC shortlists ``shortlist``
    candidates per query from the compressed codes, then ONLY those
    candidates' full vectors are read for an exact cosine re-rank to
    top-``k`` — the standard production composition (compressed index
    narrows, exact math decides).

    Scale shape: stage 1 is :func:`ivfpq_topk` (codes + one norm per
    candidate); stage 2 touches ``len(query_ids) × shortlist`` full
    vectors via an equi-join on vec_id with the (tiny) query side
    broadcast — full-vector IO is proportional to the shortlist, never
    the corpus.  Output: (query_id, vec_id, sim, rank) with exact
    ``round_dp``-rounded cosine."""
    from pyspark.sql import Window

    short = ivfpq_topk(
        emb, query_ids, shortlist, centroids, codebooks, dim, nprobe,
        id_col, vec_col, round_dp, codes=codes, assignments=assignments,
    ).select("query_id", "vec_id")
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    qv = vecs.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnorm"),
    )
    # the shortlist is len(query_ids) x shortlist rows — broadcast it so
    # the corpus-sized vector table is probed in place, never shuffled
    exact = (
        vecs.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.try_divide(
                    dot(F.col("v"), F.col("qv")),
                    F.col("nrm") * F.col("qnorm"),
                ),
                round_dp,
            ).alias("sim"),
        )
    )
    ranked = exact.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("sim").desc(), F.col("vec_id")
            )
        ),
    )
    return ranked.where(F.col("rank") <= k).withColumn(
        "rank", F.col("rank").cast("long")
    )


class SemdedupClusterTooLarge(ValueError):
    """A k-means cluster exceeds ``max_cluster``: the within-cluster
    pairwise comparison would be quadratic in that cluster's size.  Raise
    k (more, smaller clusters — SemDeDup scales k with sqrt(N)) or raise
    ``max_cluster`` knowingly."""


def semdedup(
    emb: DataFrame,
    centroids: DataFrame,
    tau: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignments: DataFrame | None = None,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means clustering BLOCKS the corpus, then cosine
    comparisons run only WITHIN clusters — never across the full corpus.

    A vector is a semantic duplicate iff some lower-id member of its own
    cluster has 9-dp-rounded cosine >= ``tau`` (deterministic keep-lowest
    representative rule; the rounding is the kmeans_centroids cross-engine
    contract).  Returns one row per input vector:
    (vec_id, cluster, is_dup).

    Scale shape: assignment is a broadcast-centroid projection; the pair
    generation is an EQUI-join on the cluster id, so work is
    sum-over-clusters of c_l² instead of N² — with k ~ sqrt(N) clusters
    (the paper's regime) that is ~N^1.5 spread across the shuffle.
    ``max_cluster`` fails fast (one tiny aggregation) before any
    quadratic work if a cluster exceeds the bound.
    """
    assign = (
        assignments
        if assignments is not None
        else ivf_assign(emb, centroids, id_col, vec_col)
    )
    if max_cluster is not None:
        bound = (
            assign.groupBy("cluster").count()
            .agg(F.max("count").alias("mx"))
        )
        with one_job_collect(assign.sparkSession):
            top = bound.collect()[0]["mx"]
        if top is not None and top > max_cluster:
            raise SemdedupClusterTooLarge(
                f"largest cluster has {top} members > max_cluster="
                f"{max_cluster}"
            )
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    t = vecs.join(assign, "vec_id")
    left = t.select(
        F.col("cluster"), F.col("vec_id").alias("id1"),
        F.col("v").alias("v1"), F.col("nrm").alias("n1"),
    )
    right = t.select(
        F.col("cluster"), F.col("vec_id").alias("id2"),
        F.col("v").alias("v2"), F.col("nrm").alias("n2"),
    )
    csim = F.round(
        F.try_divide(dot(F.col("v1"), F.col("v2")), F.col("n1") * F.col("n2")),
        9,
    )
    dup_ids = (
        left.join(right, ["cluster"])
        .where(F.col("id1") < F.col("id2"))
        .where(csim >= tau)
        .select(F.col("id2").alias("vec_id"))
        .distinct()
    )
    return (
        t.select("vec_id", "cluster")
        .join(dup_ids.withColumn("is_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id", "cluster",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


def semdedup_index(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignments: DataFrame | None = None,
    probe_supers: int | None = None,
) -> DataFrame:
    """The standing SemDeDup state: (vec_id, v, nrm, cluster) — the
    corpus with its coarse assignment, the relation
    :func:`semdedup_incremental` probes per batch (the SemDeDup member of
    the standing-index family: ``minhash_index``, ``cosine_collapse_index``).

    ``probe_supers`` switches the ONE-TIME build to the hierarchical
    :func:`ivf_assign_pruned` path — at the SemDeDup regime (k ≈ √N)
    the flat assignment scores k×N = O(N^1.5) pairs, the pruned path
    ≈ (1+P)·√k per vector (r7 verdict's build finding; bounded
    deviation documented there).  The incremental batches that probe
    this index must then be assigned with the SAME pruned function so
    batch and standing rows follow one quantizer rule — pass the
    matching ``assignments`` into :func:`semdedup_incremental`."""
    if assignments is not None:
        assign = assignments
    elif probe_supers is not None:
        assign = ivf_assign_pruned(
            emb, centroids, probe_supers=probe_supers,
            id_col=id_col, vec_col=vec_col,
        )
    else:
        assign = ivf_assign(emb, centroids, id_col, vec_col)
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    return vecs.join(assign, "vec_id")


def semdedup_incremental(
    new_emb: DataFrame,
    centroids: DataFrame,
    index: DataFrame,
    tau: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup flags for a new batch against a standing corpus, without
    recomputing the corpus (the SemDeDup member of the incremental
    family: MinHash, spans, embeddings).

    WHY the standing flags never change (the exactness argument): the
    keep-lowest-id rule marks x a duplicate iff some LOWER-id same-cluster
    member has cosine >= tau.  Batch ids are all greater than standing ids
    (the caller owns id allocation, as everywhere in the family), and the
    quantizer is FROZEN (centroids trained on the standing corpus — the
    production shape: retraining would reshuffle every standing
    assignment), so a new batch changes no standing vector's lower-id
    neighbor set.  A batch vector b is a duplicate iff some same-cluster
    member of (corpus ∪ batch) with id < b has 9-dp cosine >= tau —
    whether that neighbor is itself a duplicate is irrelevant, exactly as
    in the full recompute.  Hence incremental == full semdedup over
    (corpus ∪ batch) restricted to batch rows. ∎

    Output: (vec_id, cluster, is_dup) for BATCH vectors only.

    Scale shape: the batch is assigned by the broadcast-centroid
    projection; the standing side is SEMI-JOINED down to the batch's
    clusters before the pair join, so per-batch cost is
    Σ_{touched clusters} batch_width·(standing_width + batch_width) —
    proportional to the batch and its touched clusters, never the corpus.
    ``max_cluster`` bounds the widest TOUCHED standing cluster and the
    widest batch cluster from one combined guard action.
    """
    bassign = (
        assignments
        if assignments is not None
        else ivf_assign(new_emb, centroids, id_col, vec_col)
    )
    bvecs = (
        new_emb.select(
            F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
        )
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .join(bassign, "vec_id")
        .localCheckpoint(eager=True)
    )
    bclusters = bvecs.select("cluster").distinct()
    touched = index.join(F.broadcast(bclusters), "cluster")
    if max_cluster is not None:
        checks = [
            (
                "touched_widest",
                touched.groupBy("cluster").count().agg(
                    F.max("count").alias("val")
                ),
            ),
            (
                "batch_widest",
                bvecs.groupBy("cluster").count().agg(
                    F.max("count").alias("val")
                ),
            ),
        ]
        totals = _guard_totals(checks)
        for key, label in (
            ("touched_widest", "touched standing"),
            ("batch_widest", "batch"),
        ):
            top = totals.get(key)
            if top is not None and int(top) > max_cluster:
                raise SemdedupClusterTooLarge(
                    f"largest {label} cluster has {int(top)} members "
                    f"> max_cluster={max_cluster}"
                )
    left = touched.select(
        "cluster", F.col("vec_id").alias("id1"),
        F.col("v").alias("v1"), F.col("nrm").alias("n1"),
    ).unionByName(
        bvecs.select(
            "cluster", F.col("vec_id").alias("id1"),
            F.col("v").alias("v1"), F.col("nrm").alias("n1"),
        )
    )
    right = bvecs.select(
        "cluster", F.col("vec_id").alias("id2"),
        F.col("v").alias("v2"), F.col("nrm").alias("n2"),
    )
    csim = F.round(
        F.try_divide(dot(F.col("v1"), F.col("v2")), F.col("n1") * F.col("n2")),
        9,
    )
    dup_ids = (
        left.join(right, ["cluster"])
        .where(F.col("id1") < F.col("id2"))
        .where(csim >= tau)
        .select(F.col("id2").alias("vec_id"))
        .distinct()
    )
    return (
        bvecs.select("vec_id", "cluster")
        .join(dup_ids.withColumn("is_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id", "cluster",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


def residual_vectors(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignments: DataFrame | None = None,
    carry_nrm: bool = False,
) -> DataFrame:
    """(vec_id, embedding) where embedding = v - coarse_centroid(v): the
    residuals that FAISS-style IVF-PQ quantizes.  Residuals concentrate
    near the origin regardless of which cluster a vector sits in, so one
    pooled codebook set fits them far better than the raw vectors —
    recall per code byte improves.  Subtraction is exact IEEE arithmetic,
    so the determinism contract is untouched.

    ``assignments`` injects stored (vec_id, cluster) index state — the
    same contract as :func:`ivfpq_topk`: the session's checkpointed
    inverted-list membership IS ivf_assign's output, so passing it skips
    re-deriving the assignment shuffle per call (r15).  ``carry_nrm``
    additionally emits the ORIGINAL vector's norm as ``orig_nrm``
    (computed in the same projection — the residual-PQ codes table
    stores exactly this norm, and computing it here saves the encode
    path a second corpus scan + join)."""
    assign = (
        assignments
        if assignments is not None
        else ivf_assign(emb, centroids, id_col, vec_col)
    )
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    )
    out_cols = [
        F.col("vec_id"),
        F.zip_with("v", "cv", lambda a, b: a - b).alias("embedding"),
    ]
    if carry_nrm:
        out_cols.append(F.sqrt(dot(F.col("v"), F.col("v"))).alias("orig_nrm"))
    return (
        vecs.join(assign, "vec_id")
        .join(
            F.broadcast(centroids.select("centroid_id", "cv")),
            F.col("cluster") == F.col("centroid_id"),
        )
        .select(*out_cols)
    )


def ivfpq_residual_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    centroids: DataFrame,
    m: int,
    ks: int,
    iters: int,
    seed: int,
    dim: int,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    books: list[list[tuple[int, list[float]]]] | None = None,
    codes: DataFrame | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """Residual IVF-PQ ANN: codebooks are trained on (and codes encode)
    the COARSE RESIDUAL v - c(v); scoring reconstructs
    dot(q, x) ≈ dot(q, c) + Σ_j table[sub][code_j], where dot(q, c) is a
    per-probe scalar on the broadcast centroid table and the Σ term is
    the same broadcast ADC lookup as :func:`ivfpq_topk`.  Candidates
    still contribute only their m-byte code plus one stored (exact,
    full-vector) norm.  Output: (query_id, vec_id, sim, rank).

    ``books``/``codes``/``assignments`` are INDEX STATE (same contract as
    :func:`ivfpq_topk`): in production they are built once at ingest and
    stored; passing them skips the per-search retrain/re-encode.  An
    injected ``codes`` must carry (vec_id, codes, nrm) with nrm the
    ORIGINAL full-vector norm."""
    from pyspark.sql import Window

    dsub = dim // m
    spark = emb.sparkSession

    assign = (
        assignments
        if assignments is not None
        else ivf_assign(emb, centroids, id_col, vec_col)
    )
    if codes is None:
        res = residual_vectors(emb, centroids, id_col, vec_col)
        if books is None:
            books = pq_codebooks(
                res, m=m, ks=ks, iters=iters, seed=seed, dim=dim,
                id_col="vec_id", vec_col="embedding",
            )
        # codes encode the residual; the stored norm is the ORIGINAL
        # vector's
        codes = pq_encode(res, books, dim, id_col="vec_id", vec_col="embedding")
        vecs0 = emb.select(
            F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
        ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        codes = codes.select("vec_id", "codes").join(
            vecs0.select("vec_id", "nrm"), "vec_id"
        )
    elif books is None:
        raise ValueError("injected codes require the codebooks they encode")
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))

    pw = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id")
    )
    probes = (
        vecs.where(F.col("vec_id").isin(query_ids))
        .crossJoin(F.broadcast(centroids))
        .withColumn(
            "csim",
            F.round(
                F.try_divide(
                    dot(F.col("v"), F.col("cv")),
                    F.col("nrm") * F.col("cnorm"),
                ),
                9,
            ),
        )
        .withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= nprobe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("nrm").alias("qnorm"),
            F.col("centroid_id").alias("qcluster"),
            # the coarse term of the reconstruction, rounded like every
            # other cross-engine dot in the contract
            F.round(dot(F.col("v"), F.col("cv")), 9).alias("qc_dot"),
        )
    )

    cb = small_df(
        spark,
        [
            (j, cid, cv)
            for j, book in enumerate(books)
            for cid, cv in book
        ],
        "sub int, code int, cw array<double>",
    )
    qslices = F.array(*[F.slice("v", j * dsub + 1, dsub) for j in range(m)])
    qsub = vecs.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(qslices).alias("sub", "qsv"),
    )
    table = qsub.join(F.broadcast(cb), "sub").select(
        "query_id",
        "sub",
        "code",
        F.round(dot(F.col("qsv"), F.col("cw")), 9).alias("pdot"),
    )

    pairs = (
        codes.join(assign, "vec_id")
        .join(
            F.broadcast(probes),
            (F.col("cluster") == F.col("qcluster"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", "codes", "nrm", "qnorm", "qc_dot")
    )
    scored = (
        pairs.select(
            "query_id", "vec_id", "nrm", "qnorm", "qc_dot",
            F.posexplode("codes").alias("sub", "code"),
        )
        .join(F.broadcast(table), ["query_id", "sub", "code"])
        .groupBy("query_id", "vec_id", "nrm", "qnorm", "qc_dot")
        .agg(F.sum("pdot").alias("rdot"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.try_divide(
                    F.col("qc_dot") + F.col("rdot"),
                    F.col("nrm") * F.col("qnorm"),
                ),
                round_dp,
            ).alias("sim"),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("sim").desc(), F.col("vec_id")
            )
        ),
    )
    return ranked.where(F.col("rank") <= k).withColumn(
        "rank", F.col("rank").cast("long")
    )


# --------------------------------------------------------- SQ8 quantization

def sq_train(
    emb: DataFrame, vec_col: str = "embedding"
) -> list[tuple[float, float]]:
    """Scalar-quantizer (SQ8) training: per-dimension (vmin, vmax) bounds
    — the FAISS-style SQ codec's whole model state (2·dim doubles, KBs),
    collected to the driver like the k-means centroids and embedded into
    encode/decode plans as literals.

    One explode + one map-side-combined min/max aggregation over the
    corpus — linear, single pass."""
    comps = emb.select(
        F.posexplode(as_double_array(vec_col)).alias("dim", "x")
    )
    agg = (
        comps.groupBy("dim")
        .agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"))
        .orderBy("dim")
    )
    # dim-sized model-state collect: one job, not 4 AQE stage-jobs
    with one_job_collect(emb.sparkSession):
        rows = agg.collect()
    return [(float(r["vmin"]), float(r["vmax"])) for r in rows]


def _sq_arrays(bounds: list[tuple[float, float]]) -> tuple[Column, Column]:
    vmin_arr = F.array(*[F.lit(float(a)) for a, _ in bounds])
    span_arr = F.array(*[F.lit(float(b - a)) for a, b in bounds])
    return vmin_arr, span_arr


def sq_encode(
    emb: DataFrame,
    bounds: list[tuple[float, float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 encoding: (vec_id, codes) with one uniform 8-bit code per
    dimension — c = floor((x − vmin)/(vmax − vmin)·255 + 0.5), clamped to
    [0, 255]; a constant dimension (span 0) codes to 0.  The explicit
    floor(x+0.5) (not round()) pins half-way behavior identically across
    engines.

    This is the 4× memory form between full vectors (8 B/dim) and PQ
    (sub-byte/dim): 1 B/dim logical width with NO codebook training and
    near-exact reconstruction — the right first step when an embedding
    store outgrows RAM but PQ's recall loss is unwanted.  Zero shuffle:
    the codec is a projection with literal bounds."""
    vmin_arr, span_arr = _sq_arrays(bounds)
    codes = F.transform(
        as_double_array(vec_col),
        lambda x, i: F.when(
            F.element_at(span_arr, i + 1) > 0,
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(255),
                    F.floor(
                        (x - F.element_at(vmin_arr, i + 1))
                        / F.element_at(span_arr, i + 1)
                        * 255
                        + 0.5
                    ).cast("int"),
                ),
            ),
        ).otherwise(F.lit(0)),
    )
    return emb.select(F.col(id_col).alias("vec_id"), codes.alias("codes"))


def sq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    bounds: list[tuple[float, float]] | None = None,
    codes: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Asymmetric SQ8 top-k: EXACT query vectors scored against the
    RECONSTRUCTED corpus (x̂ = vmin + c/255·span) — the standard SQ
    search (queries are few; only the corpus pays the memory cut).
    Output matches :func:`cosine_topk`'s shape: (query_id, vec_id, sim,
    rank), rank ties broken by vec_id after rounding.

    ``bounds``/``codes`` inject stored index state (the session
    index-cache discipline); omitted, they are derived in-plan.  Scale
    shape: decode is a literal-array projection over the codes table,
    then the same broadcast-queries + per-query window as brute force —
    the scan reads 1-byte codes instead of 8-byte doubles, which is the
    entire point at 100 TB."""
    from pyspark.sql import Window

    if bounds is None:
        bounds = sq_train(emb, vec_col=vec_col)
    if codes is None:
        codes = sq_encode(emb, bounds, id_col=id_col, vec_col=vec_col)
    vmin_arr, span_arr = _sq_arrays(bounds)
    xhat = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at(vmin_arr, i + 1)
        + c.cast("double") / 255.0 * F.element_at(span_arr, i + 1),
    )
    recon = codes.select("vec_id", xhat.alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    queries = (
        emb.where(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            as_double_array(vec_col).alias("qv"),
        )
        .withColumn("qnorm", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    )
    pairs = recon.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("query_id")
    )
    sim = F.try_divide(
        dot(F.col("v"), F.col("qv")), F.col("nrm") * F.col("qnorm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    ranked = pairs.select(
        "query_id", "vec_id", F.round(sim, round_dp).alias("sim")
    ).withColumn("rank", F.row_number().over(w))
    return ranked.where(F.col("rank") <= k).withColumn(
        "rank", F.col("rank").cast("long")
    )


def ivfsq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    bounds: list[tuple[float, float]] | None = None,
    codes: DataFrame | None = None,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    centroids: DataFrame | None = None,
    nprobe: int = 1,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF-SQ: inverted-list probing over an SQ8-quantized corpus — the
    FAISS ``IVF,SQ8`` composition between IVF-Flat (full vectors per
    list) and IVF-PQ (sub-byte codes): the coarse quantizer prunes the
    candidate set to the probed clusters, and candidates are scored
    against their 8-bit reconstruction (queries stay exact, as in
    :func:`sq_topk`).

    Scale shape = :func:`ivf_topk`'s with the 8× smaller candidate read:
    probe sets computed on the broadcast centroid table (same 9-dp
    assignment arithmetic, so nprobe=1 is exactly the query's own
    cluster), candidate generation an equi-join on the cluster id, and
    the per-list storage is 1-byte codes — the inverted lists fit where
    full vectors would not, without PQ codebook training."""
    from pyspark.sql import Window

    cent = (
        centroids
        if centroids is not None
        else ivf_centroids(emb, cluster_col, id_col, vec_col)
    )
    assign = (
        assignments
        if assignments is not None
        else ivf_assign(emb, cent, id_col, vec_col)
    )
    if bounds is None:
        bounds = sq_train(emb, vec_col=vec_col)
    if codes is None:
        codes = sq_encode(emb, bounds, id_col=id_col, vec_col=vec_col)
    vmin_arr, span_arr = _sq_arrays(bounds)
    xhat = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at(vmin_arr, i + 1)
        + c.cast("double") / 255.0 * F.element_at(span_arr, i + 1),
    )
    recon = codes.select("vec_id", xhat.alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    tagged = recon.join(assign, "vec_id")
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    pw = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id")
    )
    queries = (
        vecs.where(F.col("vec_id").isin(query_ids))
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "csim",
            F.round(
                F.try_divide(
                    dot(F.col("v"), F.col("cv")),
                    F.col("nrm") * F.col("cnorm"),
                ),
                9,
            ),
        )
        .withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= nprobe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnorm"),
            F.col("centroid_id").alias("qcluster"),
        )
    )
    cand = tagged.join(
        F.broadcast(queries),
        (F.col("cluster") == F.col("qcluster"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    sim = F.try_divide(
        dot(F.col("v"), F.col("qv")), F.col("nrm") * F.col("qnorm")
    )
    ranked = cand.select(
        "query_id", "vec_id", F.round(sim, round_dp).alias("sim")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("sim").desc(), F.col("vec_id")
            )
        ),
    )
    return ranked.where(F.col("rank") <= k).withColumn(
        "rank", F.col("rank").cast("long")
    )


def sq_decode_expr(bounds: list[tuple[float, float]]) -> Column:
    """The SQ8 reconstruction x̂ = vmin + c/255·span as a column
    expression over a ``codes`` array column — literal bounds, zero
    shuffle."""
    vmin_arr, span_arr = _sq_arrays(bounds)
    return F.transform(
        F.col("codes"),
        lambda c, i: F.element_at(vmin_arr, i + 1)
        + c.cast("double") / 255.0 * F.element_at(span_arr, i + 1),
    )


def ivfsq_topk_pruned(
    emb: DataFrame,
    clustered_codes: DataFrame,
    bounds: list[tuple[float, float]],
    centroids: DataFrame,
    query_ids: list[int],
    k: int,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """IVF-SQ search over a LOADED cluster-partitioned codes table
    (:func:`datayours_spark.functions.annindex.load_sq_index`) with
    LITERAL probe clusters — the partition-pruned production path the
    IVF-PQ rung already has.

    ``clustered_codes`` carries (cluster, vec_id, codes) straight from
    the stored inverted-list layout, so there is NO vec_id tag join
    (the r7 verdict's corpus×corpus finding), and the probe-cluster
    filter is a static ``cluster IN (...)`` literal — collected from the
    probe ranking at nprobe × |queries| ints of model-state scale — so
    partition pruning does the inverted-list seek: the scan AND the SQ
    decode projection touch only the probed partitions, ``nprobe/k`` of
    the index regardless of corpus size.

    Probe ranking is byte-identical to :func:`ivfsq_topk`'s (9-dp
    rounded cosine against the broadcast centroid table), so the stored
    path returns exactly the in-memory results."""
    from pyspark.sql import Window

    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    pw = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id")
    )
    queries = (
        vecs.where(F.col("vec_id").isin(query_ids))
        .crossJoin(F.broadcast(centroids))
        .withColumn(
            "csim",
            F.round(
                F.try_divide(
                    dot(F.col("v"), F.col("cv")),
                    F.col("nrm") * F.col("cnorm"),
                ),
                9,
            ),
        )
        .withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= nprobe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnorm"),
            F.col("centroid_id").alias("qcluster"),
        )
    )
    # nprobe × |queries| ints — model-state scale, the scalar guard that
    # buys STATIC partition pruning on the codes scan
    probe_list = sorted(
        int(r["qcluster"])
        for r in queries.select("qcluster").distinct().collect()
    )
    recon = (
        clustered_codes.where(F.col("cluster").isin(probe_list))
        .select("cluster", "vec_id", sq_decode_expr(bounds).alias("v"))
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    )
    cand = recon.join(
        F.broadcast(queries),
        (F.col("cluster") == F.col("qcluster"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    sim = F.try_divide(
        dot(F.col("v"), F.col("qv")), F.col("nrm") * F.col("qnorm")
    )
    ranked = cand.select(
        "query_id", "vec_id", F.round(sim, round_dp).alias("sim")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("sim").desc(), F.col("vec_id")
            )
        ),
    )
    return ranked.where(F.col("rank") <= k).withColumn(
        "rank", F.col("rank").cast("long")
    )


def ivf_assign_pruned(
    emb: DataFrame,
    centroids: DataFrame,
    probe_supers: int = 2,
    super_iters: int = 2,
    seed: int = 17,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hierarchical (two-level) coarse assignment for LARGE k — the
    pruned build path the r7 verdict asked for on ``semdedup_index``:
    with k ≈ √N centroids the flat :func:`ivf_assign` scores k×N pairs
    (O(N^1.5) at the SemDeDup regime), while this path scores
    ≈ (1 + probe_supers)·√k per vector:

    1. the k centroids are themselves k-means-grouped into s = ⌈√k⌉
       SUPER-centroids (k rows — model-state-scale training via the
       deterministic :func:`kmeans_centroids` contract);
    2. each vector scores the s supers in a zero-shuffle literal-array
       projection and shortlists its ``probe_supers`` best;
    3. only the shortlisted supers' member centroids are scored — a
       broadcast equi-join on the super id (explode of the size-P
       shortlist, never a corpus×k expansion) — and the argmax runs as
       the same map-side ``max_by`` as :func:`ivf_assign`.

    At k=1216: 35 + 2·35 ≈ 105 scored pairs per vector vs 1216 — an
    ~11× scoring cut, and the shuffle stays N rows.

    BOUNDED DEVIATION, not exact: a vector lands on its true nearest
    centroid unless that centroid's super is outside the vector's top-P
    shortlist (the standard IVF probe trade, here applied to the
    assignment itself).  ``probe_supers >= s`` degrades gracefully to
    EXACT :func:`ivf_assign` output (test-pinned).  Supers that own no
    centroid are dropped from the shortlist table, so every vector
    always scores ≥ 1 real centroid and the output covers every input
    row exactly once (test-pinned)."""
    cent_emb = centroids.select(
        F.col("centroid_id").cast("long").alias("vec_id"),
        F.col("cv").alias("embedding"),
    )
    crows = centroids.select("centroid_id").collect()  # k ids — model state
    k = len(crows)
    import math as _math

    s = max(int(_math.ceil(_math.sqrt(k))), 1)
    super_rows = kmeans_centroid_rows(
        cent_emb, k=s, iters=super_iters, seed=seed
    )
    super_cent = small_df(emb.sparkSession, super_rows, CENTROID_SCHEMA)
    c2s = ivf_assign(cent_emb, super_cent)  # (centroid_id, super) — k rows
    occupied_supers = {
        int(r["cluster"]) for r in c2s.select("cluster").distinct().collect()
    }
    sup_arr = F.array(*[
        F.struct(
            F.lit(sid).alias("sid"),
            F.array(*[F.lit(x) for x in sv]).alias("sv"),
            F.lit(snorm).alias("snorm"),
        )
        for sid, sv, snorm in super_rows
        if sid in occupied_supers
    ])
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    scored_sup = F.transform(
        sup_arr,
        lambda c: F.struct(
            (
                -F.round(
                    F.try_divide(
                        dot(F.col("v"), c["sv"]), F.col("nrm") * c["snorm"]
                    ),
                    9,
                )
            ).alias("ns"),
            c["sid"].alias("sid"),
        ),
    )
    shortlist = F.transform(
        F.slice(F.array_sort(scored_sup), 1, probe_supers), lambda x: x["sid"]
    )
    with_sup = vecs.select(
        "vec_id", "v", "nrm", F.explode(shortlist).alias("qsuper")
    )
    members = centroids.join(
        c2s.select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("cluster").cast("int").alias("qsuper"),
        ),
        "centroid_id",
    )
    cand = with_sup.join(F.broadcast(members), "qsuper").withColumn(
        "csim",
        F.round(
            F.try_divide(
                dot(F.col("v"), F.col("cv")), F.col("nrm") * F.col("cnorm")
            ),
            9,
        ),
    )
    return cand.groupBy("vec_id").agg(
        F.max_by(
            F.col("centroid_id"),
            F.struct(
                F.col("csim").alias("s"),
                (-F.col("centroid_id")).alias("nid"),
            ),
        )
        .cast("long")
        .alias("cluster")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int,
    rrf_k: int = 60,
    round_dp: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of N
    ranked lists: score(q, d) = Σ_lists 1/(rrf_k + rank_list(q, d)),
    missing-from-a-list contributes 0 — the standard hybrid-retrieval
    combiner (lexical BM25 + vector cosine) that needs NO score
    calibration because it only consumes ranks.

    Each input carries (query_id, doc_id, rank); output is
    (query_id, doc_id, rrf, rank) with the fused per-query top-``k``
    (ties by doc_id).  Deterministic: contributions are summed in list
    order and rounded to ``round_dp``, so any engine reproduces the
    ordering.

    Scale shape: the inputs are already per-query top-k lists (k·|Q|
    rows — model-state scale, not corpus scale), so the full-outer
    joins and the final window cost nothing at any corpus size; all the
    heavy lifting happened inside the input rankings."""
    from functools import reduce

    from pyspark.sql import Window

    contribs = [
        r.select(
            "query_id",
            "doc_id",
            (F.lit(1.0) / (rrf_k + F.col("rank"))).alias(f"_c{i}"),
        )
        for i, r in enumerate(rankings)
    ]
    fused = reduce(
        lambda a, b: a.join(b, ["query_id", "doc_id"], "full_outer"), contribs
    )
    score = F.round(
        reduce(
            lambda a, b: a + b,
            [F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
             for i in range(len(contribs))],
        ),
        round_dp,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.select("query_id", "doc_id", score.alias("rrf"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def knn_predict(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """k-NN label prediction over the embedding table: classify each
    query vector by majority vote of its k nearest LABELED neighbours
    (cosine), with every query id excluded from the candidate corpus —
    the standard embedding-space auto-labeling / label-propagation
    primitive (tag new documents with the domain/topic/quality label of
    their neighbourhood).

    Output: (query_id, pred_label, votes, top_sim) — the winning label,
    its vote count, and the best similarity among its voters.  Ties
    break by (votes DESC, label ASC) so the prediction is unique and
    engine-independent; ``sim`` is rounded before ranking, the
    :func:`cosine_topk` contract.

    Scale shape: the query side broadcasts (|Q| vectors of model-state
    scale), the corpus streams through one scan; the per-query top-k is
    the brute-force rank — the honest exact baseline, same as
    :func:`cosine_topk`.  At 100 TB swap the neighbour stage for the
    IVF-PQ shortlist + re-rank (:func:`ivfpq_rerank_topk`) and vote over
    its output; the vote itself is two tiny aggregates on k x |Q| rows.
    """
    from pyspark.sql import Window

    base = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).cast("long").alias("label"),
        as_double_array(vec_col).alias("v"),
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    queries = base.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    corpus = base.where(~F.col("vec_id").isin(query_ids))
    sim = F.round(
        F.try_divide(dot(F.col("v"), F.col("qv")), F.col("nrm") * F.col("qn")),
        round_dp,
    )
    ranked = (
        corpus.crossJoin(F.broadcast(queries))
        .select("query_id", "vec_id", "label", sim.alias("sim"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("sim").desc(), F.col("vec_id")
                )
            ),
        )
        .where(F.col("rank") <= k)
    )
    return _knn_vote(ranked)


def _knn_vote(scored: DataFrame) -> DataFrame:
    """Majority vote over a (query_id, label, sim) neighbour relation:
    two tiny aggregates on k × |Q| rows (model-state scale).  Ties break
    (votes DESC, label ASC) so the prediction is unique and
    engine-independent.  Shared by the exact and ANN-routed kNN paths so
    the vote semantics cannot drift between them."""
    votes = scored.groupBy("query_id", "label").agg(
        F.count("*").alias("votes"), F.max("sim").alias("top_sim")
    )
    return votes.groupBy("query_id").agg(
        F.max_by(
            F.struct("label", "votes", "top_sim"),
            F.struct(F.col("votes").alias("nv"), (-F.col("label")).alias("nl")),
        ).alias("w")
    ).select(
        "query_id",
        F.col("w.label").alias("pred_label"),
        F.col("w.votes").alias("votes"),
        F.col("w.top_sim").alias("top_sim"),
    )


def knn_predict_routed(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    centroids: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    dim: int,
    shortlist: int | None = None,
    nprobe: int = 1,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    codes: DataFrame | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """:func:`knn_predict` with the neighbour stage routed through the
    IVF-PQ index (:func:`ivfpq_rerank_topk`) instead of the brute-force
    rank — the scale path for batch auto-labeling, where brute force
    would scan the corpus once PER QUERY BATCH at full width.  The
    index args (centroids/codebooks/codes/assignments) come from the
    persisted lifecycle (``annindex.load_ann_index``) or the in-session
    builders; same (query_id, pred_label, votes, top_sim) contract.

    Exclusion parity with the exact form: every query id leaves the
    CANDIDATE relation (codes + assignments) BEFORE the ANN stages, via
    a broadcast anti-join on the |Q|-row query-id relation — so no
    shortlist slot is ever wasted on a query, the rerank depth stays k
    regardless of |Q|, and the path holds for batch labeling at
    |Q| = 100k+ (an over-fetch-then-filter formulation would need
    k + |Q| neighbours per query).

    Scale shape: the neighbour stage touches nprobe/k_clusters of the
    codes (partition-prunable when persisted) + ``shortlist`` full
    vectors per query; everything after is k × |Q| rows (broadcast into
    the labels scan, then :func:`_knn_vote`)."""
    if shortlist is None:
        shortlist = max(2 * k, 15)
    spark = emb.sparkSession
    qdf = small_df(
        spark, [(int(q),) for q in query_ids], "vec_id bigint"
    )
    if assignments is None:
        assignments = ivf_assign(emb, centroids, id_col, vec_col)
    if codes is None:
        codes = pq_encode(emb, codebooks, dim, id_col, vec_col)
    cand_codes = codes.join(F.broadcast(qdf), "vec_id", "left_anti")
    cand_assign = assignments.join(F.broadcast(qdf), "vec_id", "left_anti")
    neigh = ivfpq_rerank_topk(
        emb, query_ids, k, centroids, codebooks, dim,
        shortlist=shortlist, nprobe=nprobe, id_col=id_col,
        vec_col=vec_col, round_dp=round_dp, codes=cand_codes,
        assignments=cand_assign,
    ).select("query_id", "vec_id", "sim")
    labels = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).cast("long").alias("label"),
    )
    # neigh is k x |Q| rows — broadcast it into the labels scan
    scored = labels.join(F.broadcast(neigh), "vec_id").select(
        "query_id", "label", "sim"
    )
    return _knn_vote(scored)


def random_projection_matrix(
    in_dim: int, out_dim: int, seed: str = "rp"
) -> list[list[int]]:
    """Deterministic ±1 sign matrix for Johnson–Lindenstrauss random
    projection (the Achlioptas 2003 database-friendly form): entry
    (i, j) is +1 when md5("{seed}:{i}:{j}") has an even leading word,
    −1 otherwise — reproducible on any engine, no RNG state.  Model
    state: in_dim × out_dim ints, folded into the plan as literals
    (the hyperplane-LSH discipline; this is its dense dim-REDUCTION
    sibling — LSH keeps only the sign, projection keeps the value)."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[:8], 16
            )
            % 2
            == 0
            else -1
            for j in range(out_dim)
        ]
        for i in range(in_dim)
    ]


def _round_half_up(y, dp: int):
    """Vectorized decimal HALF_UP rounding matching Spark's ``F.round``
    on DOUBLE (BigDecimal HALF_UP over the value's shortest decimal
    repr).  ``np.round`` is half-to-even over the BINARY value — the
    two disagree exactly at .5 decimal boundaries, so the Arrow matmul
    form must not use it if it is to agree with the literal fold.

    Fast path: scale by 10^dp and IEEE nearest-int — exact except
    within float error of a .5 boundary; those rare suspects re-round
    through Python decimal on ``repr`` (the same shortest-repr string
    BigDecimal.valueOf sees), so boundary values round away from zero
    like the JVM side."""
    import numpy as np

    scale = 10.0 ** dp
    scaled = y * scale
    out = np.round(scaled) / scale
    frac = np.abs(scaled - np.floor(scaled) - 0.5)
    with np.errstate(invalid="ignore"):
        sus = frac <= np.spacing(np.abs(scaled)) * 8.0
    if sus.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-dp)
        flat = out.reshape(-1)
        yf = y.reshape(-1)
        for i in np.nonzero(sus.reshape(-1))[0]:
            flat[i] = float(
                Decimal(repr(float(yf[i]))).quantize(
                    q, rounding=ROUND_HALF_UP
                )
            )
    return out


def project_embeddings(
    emb: DataFrame,
    in_dim: int,
    out_dim: int,
    seed: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    max_fold_entries: int = 4096,
    force: str | None = None,
) -> DataFrame:
    """JL random projection of the embedding column to ``out_dim`` dims:
    y_j = Σ_i v_i · s(i,j) / √out_dim with the deterministic ±1 matrix
    of :func:`random_projection_matrix` — the standard preprocessing
    that cuts ANN/dedup footprint ~in_dim/out_dim× while approximately
    preserving pairwise distances (distance distortion concentrates
    around 1 at rate O(1/√out_dim)).

    Output: (vec_id, p01..p{out_dim}) as flat DOUBLE columns.

    Scale shape: a ZERO-SHUFFLE literal-array projection over the scan
    — the matrix enters as a plan literal, every output coordinate is a
    fixed-order fold over the input array (CodegenFallback like the SQ
    codec: interpreted-but-JVM-side, no exchange, no Python).  Rounding
    at ``round_dp`` pins the fixed-order float fold across engines.

    DISPATCH: the literal-fold form is for SMALL matrices only (the
    oracle-exact gate fixture runs 64→16 = 1,024 literals).  At
    production dims the interpreted fold re-evaluates the literal
    matrix inside the lambda per row — measured at 1024→64: ~92 s of
    Catalyst plan build on the 65,536 literals and ~4 rows/s execution,
    vs ~51k rows/s for :func:`project_embeddings_arrow`.  This function
    therefore AUTO-DISPATCHES on ``in_dim × out_dim``: at most
    ``max_fold_entries`` literals it folds in-plan; above, it delegates
    to the Arrow matmul form (decimal-HALF_UP rounding on both sides,
    so no caller can hit the plan-build cliff).  ``force`` pins a form
    explicitly (``"fold"`` / ``"arrow"``) for measurement harnesses.

    The two forms share the matrix, scaling, rounding MODE, and output
    schema; float ACCUMULATION order still differs (sequential fold vs
    blocked dgemm), so a sum landing within one ulp of a round_dp
    boundary can in principle still diverge — the byte-equality pin is
    empirical at the differential-test fixtures and the production-dims
    sample in MEASURED_LEDGER_2026-10-17.md, not an algebraic guarantee."""
    import math

    if force not in (None, "fold", "arrow"):
        raise ValueError(f"force must be 'fold' or 'arrow', got {force!r}")
    if force == "arrow" or (
        force is None and in_dim * out_dim > max_fold_entries
    ):
        return project_embeddings_arrow(
            emb, in_dim, out_dim, seed=seed, id_col=id_col,
            vec_col=vec_col, round_dp=round_dp,
        )

    mat = random_projection_matrix(in_dim, out_dim, seed)
    mat_col = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in mat]
    )
    v = as_double_array(vec_col)
    scale = math.sqrt(out_dim)
    def _fold(jj: int):
        return lambda acc, i: acc + F.element_at(v, i) * F.element_at(
            F.element_at(mat_col, i), F.lit(jj)
        )

    cols = [F.col(id_col).alias("vec_id")]
    for j in range(1, out_dim + 1):
        y = F.aggregate(
            F.sequence(F.lit(1), F.lit(in_dim)), F.lit(0.0), _fold(j)
        )
        cols.append(F.round(y / scale, round_dp).alias(f"p{j:02d}"))
    return emb.select(*cols)


def project_embeddings_arrow(
    emb: DataFrame,
    in_dim: int,
    out_dim: int,
    seed: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Arrow-batched matmul form of :func:`project_embeddings` — same
    contract, same deterministic ±1 matrix, same (vec_id, p01..pNN)
    output, same decimal-HALF_UP rounding (:func:`_round_half_up`
    mirrors ``F.round``'s BigDecimal semantics; equality at
    ``round_dp`` is differential-test-pinned empirically — see the
    accumulation-order caveat in :func:`project_embeddings`).

    Use this form at production dims: the literal fold evaluates
    in_dim × out_dim interpreted expression steps PER ROW (a 1024→64
    projection is 65,536 steps/row — CodegenFallback, no codegen), while
    this variant ships each Arrow batch to one BLAS dgemm
    (batch × in_dim) @ (in_dim × out_dim).  The sign matrix is
    rebuilt from the seed inside the closure — nothing corpus-sized or
    matrix-sized enters the plan, so Catalyst never folds 65k literals.
    Scale shape: zero shuffle (mapInPandas over the scan), Python only
    behind Arrow — the contracted slow-path surface."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    mat = np.asarray(
        random_projection_matrix(in_dim, out_dim, seed), dtype=np.float64
    )
    scale = math.sqrt(out_dim)
    names = [f"p{j:02d}" for j in range(1, out_dim + 1)]
    schema = T.StructType(
        [T.StructField("vec_id", T.LongType())]
        + [T.StructField(n, T.DoubleType()) for n in names]
    )

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf["__v"]]
            )
            y = _round_half_up(v @ mat / scale, round_dp)
            out = pd.DataFrame({"vec_id": pdf["__id"].to_numpy()})
            for j, n in enumerate(names):
                out[n] = y[:, j]
            yield out

    return emb.select(
        F.col(id_col).cast("long").alias("__id"),
        as_double_array(vec_col).alias("__v"),
    ).mapInPandas(run, schema=schema)


def prototype_prune(
    emb: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    drop_frac: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SSL-prototype data pruning (Sorscher et al. 2022, "Beyond neural
    scaling laws"): rank every vector by cosine to its OWN cluster
    centroid (its prototypicality) and flag the ``drop_frac`` MOST
    prototypical members of each cluster for removal — at scale, easy/
    redundant examples near a prototype teach the least, so keep-hard
    pruning beats random down-sampling.

    Output: (vec_id, cluster, proto_sim, thr, keep) — keep = False for
    the dropped top-``drop_frac`` slice; the threshold is exposed per
    row for auditability (the ppl_buckets convention).

    Scale shape: one vec_id-keyed join to the stored assignment, a
    broadcast join to the centroid table (model state), then the
    per-cluster threshold — a clusters-sized percentile aggregate
    broadcast back — NOT a per-cluster rank window (with k ≈ √N a
    cluster holds √N rows; fine, but the threshold form stays one tiny
    aggregate regardless of cluster skew, the ppl_buckets argument).
    Sims and thresholds round to 6 dp so the boundary comparison is
    engine-stable; ties at the threshold are KEPT on both engines."""
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    sc = (
        vecs.join(assignments, "vec_id")
        .join(
            F.broadcast(centroids),
            F.col("cluster") == F.col("centroid_id"),
        )
        .select(
            "vec_id",
            "cluster",
            F.round(
                F.try_divide(
                    dot(F.col("v"), F.col("cv")),
                    F.col("nrm") * F.col("cnorm"),
                ),
                6,
            ).alias("proto_sim"),
        )
    )
    thr = sc.groupBy("cluster").agg(
        F.round(
            F.percentile("proto_sim", float(1.0 - drop_frac)), 6
        ).alias("thr")
    )
    return sc.join(F.broadcast(thr), "cluster").select(
        "vec_id",
        "cluster",
        "proto_sim",
        "thr",
        (F.col("proto_sim") <= F.col("thr")).alias("keep"),
    )
