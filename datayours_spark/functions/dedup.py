"""Deduplication operators for large-scale document pipelines.

Beyond the reference surface (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup detection, SimHash fingerprints, n-gram Jaccard — each
designed for 100 TB scale:

- Exact: one hash aggregate on md5(text) — map-side combine, no driver state.
- MinHash: shingle→hash→K permuted mins computed in ONE aggregation pass
  (K min-aggregates, no per-permutation shuffle); LSH banding turns the
  quadratic all-pairs problem into an equi-join on (band_index, band_hash) —
  the classic shingle→minhash→band→bucket-join pipeline.
- All hashing is md5-derived integer arithmetic (no engine-specific hash
  functions), so results are bit-identical across Spark and the DuckDB
  oracle, and across cluster sizes/partitionings.

Determinism note: permutation constants come from a seeded generator and are
embedded as literals into the plan; hash domain is 32-bit (md5 prefix) so
``a*h + b`` stays far from int64 overflow.
"""

from __future__ import annotations

import contextlib
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datayours_spark.io import _observed_or_count, one_job_collect

#: prime just above 2^32 — modulus for the permutation universe
MINHASH_PRIME = 4_294_967_311


def minhash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """K deterministic (a, b) permutation pairs, a odd-ish nonzero < 2^31."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 2**31 - 1), rng.randrange(0, 2**31 - 1)) for _ in range(k)
    ]


def md5_int32(col: Column) -> Column:
    """First 8 hex chars of md5 as a BIGINT in [0, 2^32)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def md5_int60(col: Column) -> Column:
    """First 15 hex chars of md5 as a BIGINT in [0, 2^60) — for keys used
    as IDENTITY (no modular arithmetic): at 10^8 distinct values the
    expected birthday collisions are ~0.004 vs ~10^3 for the 32-bit
    prefix.  MinHash keeps md5_int32 (its permutation arithmetic needs
    the 32-bit domain)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: (h, canonical_id, n)."""
    return docs.groupBy(F.md5(text_col).alias("h")).agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("n")
    )


def token_shingles(
    text_col: str, n: int = 3, tokens: Column | None = None
) -> Column:
    """Token n-gram shingle array ("t1 t2 t3" strings) from a text column.

    Built as a zip_with chain over n shifted slices of the token array —
    higher-order functions are interpreted (not codegen'd) per element, so
    the per-element work must be a cheap concat; the earlier
    ``transform(idx, i -> concat_ws(slice(toks, i, n)))`` formulation
    allocated an array per shingle and measured ~3× slower.

    ``tokens``: pass an already-BOUND token-array column (from a prior
    projection) to stop the ``split`` appearing once per slice/size
    reference of this expression (~5 evaluations per row otherwise —
    r15); semantics identical.
    """
    toks = tokens if tokens is not None else F.split(text_col, " ")
    sz = F.size(toks)
    m = sz - (n - 1)  # shingle count when sz >= n
    chain = F.slice(toks, 1, m)
    for j in range(2, n + 1):
        chain = F.zip_with(
            chain, F.slice(toks, j, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    # guard: slice lengths go negative for sz < n; emit an explicit empty array
    return F.when(sz >= n, chain).otherwise(F.array().cast("array<string>"))


def minhash_signatures(
    docs: DataFrame,
    k: int = 20,
    shingle_n: int = 3,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, m0..m{k-1}) minhash signature columns.

    One explode + one aggregation: the K permuted minima are K independent
    min() aggregates over the same shingle-hash stream (partial aggregation
    keeps the shuffle at one row per doc).  ``array_distinct`` first —
    duplicate shingles cannot change a min, and repeated tokens are common,
    so it cuts the exploded row count (and its md5 work) before the explode.

    Plan-shape note: a per-row ``array_min(transform(hs, ...))`` formulation
    with a shared hashed-shingle array would avoid the explode entirely, but
    Catalyst's CollapseProject inlines the shared array into all K minima,
    recomputing the md5 per permutation (~K× slower, measured).  The md5 is
    PROJECTED to a column before the groupBy for the same reason: an ``h``
    expression referenced inside the K aggregate children is copied into
    each of them (subexpression elimination doesn't reach across aggregate
    buffers), re-hashing every shingle K times — measured ~1.8× slower at
    20k docs.
    """
    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(text_col, " ").alias("_toks"),
    ).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                token_shingles(text_col, shingle_n, tokens=F.col("_toks"))
            )
        ).alias("shingle"),
    ).select("doc_id", md5_int32(F.col("shingle")).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_params(k, seed))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _banded_rows(signatures: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band, bh) LSH index rows from signature columns."""
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"m{b * rows + r}").cast("string") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws(",", *parts)).alias("bh"))
        )
    return signatures.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def minhash_index(
    docs: DataFrame,
    bands: int = 5,
    rows: int = 4,
    shingle_n: int = 3,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persistable LSH index of a corpus: (doc_id, band, bh) rows.

    At scale this is a table bucketed by (band, bh) — incremental batches
    join against it without touching document text, and appending a batch's
    own index rows keeps it current (signatures are per-doc, so old rows
    never change)."""
    sigs = minhash_signatures(
        docs, k=bands * rows, shingle_n=shingle_n, seed=seed,
        text_col=text_col, id_col=id_col,
    )
    return _banded_rows(sigs, bands, rows)


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int,
    rows: int,
    collapse_identical: bool = False,
    max_group: int | None = 10_000,
) -> DataFrame:
    """Banding: docs sharing any band hash become candidate pairs (id1 < id2).

    The band hash join is an equi-join — at scale it shuffles on
    (band, band_hash) with bucket-local pair generation, never all-pairs.

    ``collapse_identical`` is the HOT-BUCKET GUARD: a boilerplate-heavy
    corpus puts thousands of identical signatures into every band bucket,
    and the bucket-local pair generation is quadratic in bucket width.  The
    guard groups identical signatures to one representative first, runs the
    banded self-join over DISTINCT signatures only (bucket width = distinct
    signatures, not documents), and reconstitutes the exact same pair set as
    intra-group pairs plus cross-group member products — output-sized work,
    no quadratic join.  Use :func:`lsh_collapsed_candidates` directly when
    clusters are an acceptable output and even the expanded pair set would
    be too large to materialize.
    """
    if collapse_identical:
        members, rep_pairs = lsh_collapsed_candidates(signatures, bands, rows)
        return _expand_collapsed(members, rep_pairs, max_group=max_group)
    banded = _banded_rows(signatures, bands, rows)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id1"), F.col("r.doc_id").alias("id2")
        )
        .distinct()
    )


def lsh_collapsed_candidates(
    signatures: DataFrame, bands: int, rows: int
) -> tuple[DataFrame, DataFrame]:
    """Signature-collapsed LSH candidates: (members, rep_pairs).

    members: (doc_id, rep) — every doc mapped to the least doc_id sharing
    its FULL signature (identical signatures are mutual candidates by
    construction: they agree in every band).
    rep_pairs: (id1, id2) candidate pairs between DISTINCT signatures'
    representatives, from the banded equi-join over one row per signature.

    Together they encode the exact candidate set of
    :func:`lsh_candidate_pairs` with join cost quadratic only in distinct
    signatures per bucket — the guard that survives a corpus where 30% of
    documents are the same boilerplate (one bucket would otherwise hold
    0.3·N docs and generate 0.045·N² pairs).
    """
    # materialize the signature relation ONCE: every downstream consumer
    # (groups, members, the banded join) would otherwise re-run the whole
    # shingle→hash→K-min pipeline — measured 20 parquet scans / 0 reused
    # exchanges in the expanded plan without this cut
    signatures = signatures.localCheckpoint(eager=True)
    sigcols = [c for c in signatures.columns if c != "doc_id"]
    groups = signatures.groupBy(*sigcols).agg(F.min("doc_id").alias("rep"))
    members = signatures.join(groups, sigcols).select(
        "doc_id", "rep"
    ).localCheckpoint(eager=True)
    rep_sigs = groups.select(F.col("rep").alias("doc_id"), *sigcols)
    rep_pairs = lsh_candidate_pairs(rep_sigs, bands, rows)
    return members, rep_pairs


class ExpandedPairsTooLarge(ValueError):
    """Expanding a collapsed pair set would materialize O(group²) rows.

    A boilerplate-heavy corpus can put millions of documents behind one
    representative; the explicit pair set is then quadratic BY CONSTRUCTION
    (200k docs with one 30% boilerplate group ≈ 1.8e9 pairs).  Consume the
    collapsed (members, rep_pairs) form instead — cluster membership carries
    the same information at linear size — or raise ``max_group`` knowingly.
    """


def _expand_collapsed(
    members: DataFrame,
    rep_pairs: DataFrame,
    extra_cols: list[str] | None = None,
    max_group: int | None = 10_000,
) -> DataFrame:
    """Explicit pair set from a collapsed representation: all pairs WITHIN a
    rep group plus the member products ACROSS each rep pair.  Groups are
    disjoint, so no pair is emitted twice; `extra_cols` (e.g. hamming) pass
    through from rep_pairs, with intra-group pairs taking 0.

    ``max_group`` bounds the widest rep group the expansion will accept
    (default 10k members ≈ 50M intra pairs): wider raises
    :class:`ExpandedPairsTooLarge` BEFORE any quadratic work, from one tiny
    aggregation over the (linear-sized) members table.  ``None`` disables
    the check."""
    extra = extra_cols or []
    if max_group is not None:
        bound = members.groupBy("rep").count().agg(F.max("count"))
        with one_job_collect(members.sparkSession):
            widest = bound.first()[0]
        if widest is not None and widest > max_group:
            raise ExpandedPairsTooLarge(
                f"widest identical-signature group has {widest} members "
                f"(> max_group={max_group}); expanding would materialize "
                f"~{widest * (widest - 1) // 2:,} intra-group pairs — "
                "consume the collapsed (members, rep_pairs) form, or pass "
                "a larger max_group deliberately"
            )
    m1, m2 = members.alias("m1"), members.alias("m2")
    intra = m1.join(
        m2,
        (F.col("m1.rep") == F.col("m2.rep"))
        & (F.col("m1.doc_id") < F.col("m2.doc_id")),
    ).select(
        F.col("m1.doc_id").alias("id1"),
        F.col("m2.doc_id").alias("id2"),
        *[F.lit(0).cast("bigint").alias(c) for c in extra],
    )
    cross = (
        rep_pairs.join(
            members.select(F.col("rep").alias("id1"), F.col("doc_id").alias("a")),
            "id1",
        )
        .join(
            members.select(F.col("rep").alias("id2"), F.col("doc_id").alias("b")),
            "id2",
        )
        .select(
            F.least("a", "b").alias("id1"),
            F.greatest("a", "b").alias("id2"),
            *extra,
        )
    )
    return intra.unionByName(cross)


def jaccard_pairs(
    pairs: DataFrame, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs: (id1, id2, jaccard)."""
    sets = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(F.split(text_col, " ")).alias("tokset"),
    )
    j = (
        pairs.join(sets.withColumnRenamed("doc_id", "id1").withColumnRenamed("tokset", "s1"), "id1")
        .join(sets.withColumnRenamed("doc_id", "id2").withColumnRenamed("tokset", "s2"), "id2")
    )
    inter = F.size(F.array_intersect("s1", "s2"))
    union = F.size(F.array_union("s1", "s2"))
    return j.select(
        "id1", "id2", F.round(inter / union, 4).alias("jaccard")
    )


def edit_verified_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    threshold: float = 0.8,
    prefix_len: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance verification of candidate pairs: (id1, id2, lev,
    edit_sim) for pairs with ``edit_sim >= threshold``.

    The exact-verify stage of the standard two-phase near-dup pipeline
    when ORDER matters: token-set Jaccard (:func:`jaccard_pairs`) is
    blind to word order and repetition, so "a b c" and "c b a" verify as
    identical — Levenshtein over the raw text catches exactly the
    reorder/edit cases Jaccard waves through.  ``edit_sim`` is the
    normalized similarity ``1 - lev / max(len1, len2)`` on the first
    ``prefix_len`` characters.

    Scale shape: ``levenshtein`` is O(len^2) PER PAIR, so two bounds keep
    the stage linear in the candidate count — the pair list itself is
    LSH-banded (never all-pairs; hot buckets collapsed upstream by
    ``collapse_identical``), and the prefix cap bounds the per-pair cost
    to prefix_len^2 regardless of document length (a 1 MB doc costs the
    same as a 1000-char one).  Both engines implement classic
    character-level Levenshtein, so the verify is engine-portable like
    every other verify stage here — the JVM evaluates it inside codegen,
    no UDF.
    """
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        F.substring(F.col(text_col), 1, prefix_len).alias("_t"),
    )
    # shuffle_hash on the DOC side: the docs table is the corpus and must
    # never be the broadcast build side (Catalyst's size guess for a
    # checkpointed/ExistingRDD input can pick BuildRight-broadcast —
    # measured 23.6s vs 3.2s at 20k candidates x 200k docs, and at real
    # scale the broadcast is simply impossible).  With shuffle joins the
    # threshold predicate Catalyst pushes into the join condition
    # evaluates in the join's own >=default-parallelism stage (AQE's
    # parallelismFirst floor), so the prefix_len^2 work stays spread.
    j = (
        pairs.join(
            t.select(F.col("doc_id").alias("id1"), F.col("_t").alias("_t1")).hint(
                "shuffle_hash"
            ),
            "id1",
        ).join(
            t.select(F.col("doc_id").alias("id2"), F.col("_t").alias("_t2")).hint(
                "shuffle_hash"
            ),
            "id2",
        )
    )
    lev = F.levenshtein("_t1", "_t2")
    sim = F.round(
        F.lit(1.0)
        - lev / F.greatest(F.length("_t1"), F.length("_t2"), F.lit(1)),
        4,
    )
    return (
        j.select(
            "id1",
            "id2",
            lev.cast("bigint").alias("lev"),
            sim.alias("edit_sim"),
        )
        .where(F.col("edit_sim") >= threshold)
    )


def minhash_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    corpus_docs: DataFrame,
    bands: int = 5,
    rows: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    seed: int = 42,
    new_signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs introduced by a new batch, against a standing LSH index.

    ``index`` is the (doc_id, band, bh) table from :func:`minhash_index` over
    the existing corpus; ``corpus_docs`` must cover the text of every doc a
    pair can touch (existing ∪ new — only matched candidates' text is read).
    Emits exactly the pairs the full pipeline would emit that involve at
    least one new doc: new×old via the index join, new×new among the batch.

    This is the 100 TB operational path: per-batch cost scales with the
    BATCH (signature one explode+agg over new docs; one equi-join against
    the bucketed index), not the corpus — the full recompute never reruns.
    Appending the batch's own index rows afterwards keeps the index current.
    """
    new_banded = (
        _banded_rows(new_signatures, bands, rows)
        if new_signatures is not None
        else minhash_index(
            new_docs, bands=bands, rows=rows, shingle_n=shingle_n, seed=seed
        )
    )
    both = index.unionByName(new_banded).alias("r")
    left = new_banded.alias("l")
    cand = (
        left.join(
            both,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc_id") != F.col("r.doc_id")),
        )
        .select(
            F.least("l.doc_id", "r.doc_id").alias("id1"),
            F.greatest("l.doc_id", "r.doc_id").alias("id2"),
        )
        .distinct()
    )
    return jaccard_pairs(cand, corpus_docs).where(F.col("jaccard") >= threshold)


def minhash_decontaminate(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    bands: int = 5,
    rows: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    seed: int = 42,
    train_signatures: DataFrame | None = None,
    eval_signatures: DataFrame | None = None,
) -> DataFrame:
    """FUZZY benchmark decontamination: MinHash-LSH near-dup join between
    a training corpus and an eval set — catches paraphrased/partially
    edited eval leakage that exact n-gram containment misses (the exact
    path is `q_contamination`'s broadcast shingle join).

    Scale shape: the eval side is small by construction (thousands of
    docs), so its banded LSH rows AND its token sets broadcast; the train
    corpus streams through one signature aggregation and a broadcast
    equi-join on (band, bucket-hash) — no corpus self-join anywhere, cost
    linear in the training corpus.  Doc-id spaces must be disjoint.
    Returns (train_id, eval_id, jaccard) with exact token-set
    jaccard >= ``threshold``.
    """
    k = bands * rows
    tsigs = (
        train_signatures
        if train_signatures is not None
        else minhash_signatures(train_docs, k=k, shingle_n=shingle_n, seed=seed)
    )
    esigs = (
        eval_signatures
        if eval_signatures is not None
        else minhash_signatures(eval_docs, k=k, shingle_n=shingle_n, seed=seed)
    )
    tb = _banded_rows(tsigs, bands, rows).withColumnRenamed("doc_id", "train_id")
    eb = _banded_rows(esigs, bands, rows).withColumnRenamed("doc_id", "eval_id")
    cand = (
        tb.join(F.broadcast(eb), ["band", "bh"])
        .select("train_id", "eval_id")
        .distinct()
    )

    def _sets(docs: DataFrame, out_id: str) -> DataFrame:
        return docs.select(
            F.col("doc_id").alias(out_id),
            F.array_distinct(F.split("text", " ")).alias(f"s_{out_id}"),
        )

    j = cand.join(_sets(train_docs, "train_id"), "train_id").join(
        F.broadcast(_sets(eval_docs, "eval_id")), "eval_id"
    )
    inter = F.size(F.array_intersect("s_train_id", "s_eval_id"))
    union = F.size(F.array_union("s_train_id", "s_eval_id"))
    return j.select(
        "train_id", "eval_id", F.round(inter / union, 4).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def minhash_dedup(
    docs: DataFrame,
    bands: int = 5,
    rows: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    seed: int = 42,
    collapse_identical: bool = False,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: (id1, id2, jaccard >= threshold).

    ``collapse_identical`` enables the hot-bucket guard (see
    :func:`lsh_candidate_pairs`) — identical signatures join once via their
    representative; the emitted pair set is provably identical.
    ``signatures`` injects a precomputed (stored) signature table — the
    index-state discipline: signatures are computed once at ingest and
    reused by every downstream dedup composition.
    """
    sigs = (
        signatures
        if signatures is not None
        else minhash_signatures(docs, k=bands * rows, shingle_n=shingle_n, seed=seed)
    )
    cand = lsh_candidate_pairs(sigs, bands, rows, collapse_identical=collapse_identical)
    return jaccard_pairs(cand, docs).where(F.col("jaccard") >= threshold)


def dup_clusters(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a near-dup pair graph: (doc_id, cluster_id)
    with cluster_id = the smallest doc_id reachable through dup pairs.

    Pair emission (MinHash-LSH & co.) finds EDGES; an actual corpus dedup
    needs the transitive closure — A~B and B~C must collapse to one cluster
    even when A~C was never emitted.  This is hash-min label propagation
    with pointer jumping: every node starts labelled with itself, and each
    round takes the min of its own and its neighbours' labels, then jumps to
    its label's label (path compression — labels are themselves node ids, so
    the lookup is a self-join).  Each round is two distributed join+agg
    steps, no driver-side graph state; the jump makes convergence
    O(log diameter) instead of O(diameter), so a 1000-hop chain needs ~10
    rounds, not 1000.  Convergence is detected by the monotone invariant
    sum(label): labels only ever decrease, so an unchanged sum means a
    fixpoint — one cheap action per round instead of a changed-rows
    anti-join.  Lineage is cut per round with localCheckpoint so the plan
    doesn't grow with iterations.

    The input pairs are materialized ONCE before the src/dst flip: both
    edge directions re-read the checkpointed rows, so an expensive upstream
    (the MinHash-LSH pipeline) is not evaluated twice.
    """
    from pyspark.sql import Observation

    from datayours_spark.functions.similarity import _training_exec_conf

    fwd = pairs.select(F.col(id1).alias("src"), F.col(id2).alias("dst")).localCheckpoint(
        eager=True
    )
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    # the edge count rides an Observation on the checkpoint job that runs
    # anyway; it gates the round-loop exec scope below
    obs = Observation()
    edges = (
        fwd.union(rev)
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = _observed_or_count(obs, "n", edges)
    # LAZY checkpoint: the convergence-sum collect right below is the
    # materializing action (labels is referenced exactly once in it, so
    # no branch can recompute the plan), fusing what was a separate
    # eager-materialization job with the sum into ONE action — the same
    # fusion is applied per round below (r15; ~2 scheduling round-trips
    # saved per CC round on the measured local floor)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    ).localCheckpoint(eager=False)
    # every round is a model-state-sized collect when the edge set is
    # small: the same row-gated scope the ANN training loops use (AQE
    # off so a round is ONE job instead of 2-4 adaptive stage-jobs, one
    # reduce partition, no codegen for once-evaluated round plans).
    # Above the row gate the scope is a no-op and AQE/defaults stay in
    # charge — a corpus-scale dup graph keeps its parallelism.
    with _training_exec_conf(pairs.sparkSession, n_edges):
        prev_total = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if prev_total is None:  # no pairs at all
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
            )
        for _ in range(max_iter):
            nbr_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            stepped = labels.join(nbr_min, labels.node == nbr_min.src, "left").select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            )
            # pointer jump: label ← label's label (labels are node ids, so this
            # is a self-join); halves the remaining path length every round
            lbl = stepped.select(F.col("node").alias("lnode"), F.col("label").alias("llabel"))
            labels = (
                stepped.join(lbl, stepped.label == lbl.lnode, "left")
                .select("node", F.least("label", F.coalesce("llabel", "label")).alias("label"))
                .localCheckpoint(eager=False)
            )
            # materializes the round's checkpoint AND reads the invariant in
            # one action (see the note above the initial labels checkpoint)
            total = labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)"))
            ).collect()[0][0]
            if total == prev_total:
                break
            prev_total = total
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash_fingerprint(
    docs: DataFrame,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash fingerprints at any width up to 60 bits: (doc_id, simhash).

    Per token hash, each bit contributes ±1; fingerprint bit j is 1 when the
    signed sum is strictly positive — computed as ``2*ones_j > n_tokens``
    (one plain bit-sum per position plus one count, no per-token branch).

    Scale shape: ONE aggregation keyed by doc — the per-bit sums are
    independent literal-shift sum() aggregates over the token stream, so the
    shuffle carries one row per document (map-side combined) instead of the
    bits× bit-exploded stream.  Width caps at 60 (15 md5 hex chars) so the
    fingerprint stays inside a signed BIGINT for engine-portable arithmetic.
    """
    if not 4 <= bits <= 60 or bits % 4:
        raise ValueError("bits must be a multiple of 4 in [4, 60]")
    h = F.conv(F.substring(F.md5("tok"), 1, bits // 4), 16, 10).cast("bigint")
    tokens = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(F.split(text_col, " ")).alias("tok")
    ).withColumn("h", h)
    ones = [
        F.sum(F.shiftright("h", j).bitwiseAND(F.lit(1))).alias(f"o{j}")
        for j in range(bits)
    ]
    sums = tokens.groupBy("doc_id").agg(F.count("*").alias("n"), *ones)
    simhash = None
    for j in range(bits):
        term = F.when(2 * F.col(f"o{j}") > F.col("n"), F.lit(1 << j)).otherwise(
            F.lit(0)
        )
        simhash = term if simhash is None else simhash + term
    return sums.select("doc_id", simhash.cast("bigint").alias("simhash"))


def simhash32(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """32-bit SimHash fingerprints: (doc_id, simhash)."""
    return simhash_fingerprint(docs, 32, text_col=text_col, id_col=id_col)


def simhash_collapsed_neardup(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
    fingerprints: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fingerprint-collapsed SimHash near-dup: (members, rep_pairs).

    members: (doc_id, rep) — docs grouped by IDENTICAL fingerprint (pairwise
    hamming 0, trivially near-dups); rep = least doc_id of the group.
    rep_pairs: (id1, id2, hamming) between representatives of DISTINCT
    fingerprints, 1 <= hamming <= max_hamming, via the banded join over one
    row per fingerprint.

    This is the hot-bucket guard for boilerplate-heavy corpora: the banded
    self-join's bucket width is the number of DISTINCT fingerprints sharing
    a slice, so 30% of a corpus being one boilerplate no longer creates a
    quadratic bucket.  :func:`simhash_neardup(collapse_identical=True)`
    expands this back to the exact explicit pair set; use the collapsed form
    directly when the expansion itself would be output-quadratic.
    """
    # one materialization of the fingerprints: groups, members, and the
    # banded join all consume it — without the cut each reference re-runs
    # the token explode + 60 bit-sum aggregation
    sig = (
        fingerprints
        if fingerprints is not None
        else simhash_fingerprint(
            docs, bits, text_col=text_col, id_col=id_col
        ).localCheckpoint(eager=True)
    )
    groups = sig.groupBy("simhash").agg(F.min("doc_id").alias("rep"))
    members = sig.join(groups, "simhash").select(
        "doc_id", "rep"
    ).localCheckpoint(eager=True)
    rep_sigs = groups.select(F.col("rep").alias("doc_id"), "simhash")
    rep_pairs = _simhash_banded_pairs(rep_sigs, max_hamming, bands, bits)
    return members, rep_pairs


def _simhash_banded_pairs(
    sig: DataFrame, max_hamming: int, bands: int, bits: int
) -> DataFrame:
    """Banded-blocking pair generation over a (doc_id, simhash) relation:
    (id1, id2, hamming) with hamming <= max_hamming."""
    width = bits // bands
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    banded = sig.select(
        "doc_id", "simhash", F.posexplode(slices).alias("band", "bv")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id1"),
            F.col("r.doc_id").alias("id2"),
            F.col("l.simhash").alias("h1"),
            F.col("r.simhash").alias("h2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("bigint")
    return cand.select("id1", "id2", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def simhash_neardup(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
    collapse_identical: bool = False,
    max_group: int | None = 10_000,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: (id1, id2, hamming) with hamming <= max_hamming.

    Banded blocking: the fingerprint splits into ``bands`` equal slices; by
    pigeonhole any pair within hamming distance < bands shares at least one
    identical slice, so candidates come from ``bands`` equality self-joins
    (one shuffle keyed by (band, slice-value)) — never an all-pairs
    comparison.  Candidates sharing several bands dedup BEFORE the verify so
    each pair's popcount runs once.

    Band width is what makes this survive scale: an 8-bit slice (32-bit
    fingerprint / 4) has only 256 buckets, so N docs put ~N/256 in each and
    the self-join grows as N²/256 — measured 539 s for 200k docs on 32
    threads.  15-bit slices (60-bit fingerprint, the BIGINT-safe analogue of
    the published 64-bit/4-band scheme) give 32k buckets and push the
    quadratic blow-up out by ~128×.  Residual skew (boilerplate corpora
    concentrating one fingerprint) is bounded by ``collapse_identical``:
    identical fingerprints pre-collapse to a representative before the join
    (see :func:`simhash_collapsed_neardup`) and the exact pair set is
    reconstituted by expansion — same output, no quadratic bucket.
    """
    if collapse_identical:
        members, rep_pairs = simhash_collapsed_neardup(
            docs, max_hamming, bands, bits, text_col=text_col, id_col=id_col,
            fingerprints=fingerprints,
        )
        return _expand_collapsed(
            members, rep_pairs, extra_cols=["hamming"], max_group=max_group
        )
    sig = (
        fingerprints
        if fingerprints is not None
        else simhash_fingerprint(docs, bits, text_col=text_col, id_col=id_col)
    )
    return _simhash_banded_pairs(sig, max_hamming, bands, bits)


# ---------------------------------------------------------------------------
# Span-level (substring) dedup: repeated-span detection via shingle
# posting lists.  Document-level dedup (above) keys whole docs; training
# pipelines also need repeated-SPAN removal — boilerplate headers/footers
# shared across otherwise-distinct documents (the exact-substring dedup of
# Lee et al., "Deduplicating Training Data Makes Language Models Better",
# approximated at shingle granularity so it runs as linear-cost
# aggregations + equi-joins instead of a distributed suffix array).
# ---------------------------------------------------------------------------


def shingle_postings(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The posting-list building block: one row per (doc, token offset)
    holding the hash of the k-token shingle starting there.

    `off` is the 0-based token offset — :func:`token_shingles` emits
    shingles in order, so ``posexplode`` positions ARE offsets.  Unlike
    :func:`minhash_signatures` there is no ``array_distinct``: offsets are
    the payload here, every occurrence matters.  The hash is the 60-bit
    md5 prefix: coverage treats hash equality as shingle identity with no
    verify step, and 32 bits would produce thousands of false "repeated"
    marks at 10^8 distinct shingles (review finding, round 4).
    """
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(text_col, " ").alias("_toks"),
    ).select(
        "doc_id",
        F.posexplode(
            token_shingles(text_col, k, tokens=F.col("_toks"))
        ).alias("off", "shingle"),
    ).select("doc_id", "off", md5_int60(F.col("shingle")).alias("h"))


def repeated_spans(
    docs: DataFrame,
    k: int = 8,
    min_span: int = 12,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize_posts: bool = True,
) -> DataFrame:
    """Maximal repeated token spans per document.

    Pipeline (every step linear in corpus size, no pair join anywhere):

    1. posting list: (doc, off, shingle-hash) — one explode.
    2. inverted-index aggregation: shingle hashes occurring in >=
       ``min_docs`` DISTINCT docs are "repeated" (cross-doc boilerplate;
       a shingle repeated only within one doc does not qualify).
    3. coverage: semi-equi-join the postings back on the hash — the
       covered offsets.  This join is the posting-list join the banded
       dedup discipline requires to be an equi-join: work scales with the
       number of covered postings, never with bucket².
    4. span assembly: a covered offset ``o`` covers tokens
       ``[o, o+k-1]``; merge overlapping-or-adjacent covered intervals
       per doc (gaps-and-islands: new span when the offset gap exceeds
       ``k``) into maximal covered token intervals.

    Returns (doc_id, start_tok, end_tok, span_tokens): inclusive 0-based
    token bounds of each maximal repeated span with at least ``min_span``
    tokens.  Spans of one doc never overlap, so masks sum cleanly.

    Scale: steps 1-3 are map-side-combinable aggregations and one
    equi-join; step 4 is a per-doc window (shuffle by doc_id, doc-sized
    partitions).  A corpus-wide hot shingle (the boilerplate itself)
    concentrates only its *posting count* — the aggregation in step 2 is
    a count, not a pair expansion, so hot shingles cost O(occurrences).
    """
    posts = shingle_postings(docs, k, text_col=text_col, id_col=id_col)
    if materialize_posts:
        # the posting list feeds BOTH the repeated-hash aggregation and
        # the coverage probe: without a cut Spark re-runs the
        # explode+md5 scan for each subtree (measured 2x detection cost
        # at sf0.1).  Materializing the index once is also what a real
        # deployment does — it persists the inverted index (the
        # incremental variant consumes it as a standing table).
        posts = posts.localCheckpoint(eager=True)
    rep = (
        posts.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
    )
    covered = posts.join(rep, "h").select("doc_id", "off")
    return _coverage_to_spans(covered, k, min_span)


def _coverage_to_spans(covered: DataFrame, k: int, min_span: int) -> DataFrame:
    """Step 4 of :func:`repeated_spans`, shared with the incremental
    variant: merge covered offsets into maximal token intervals
    (gaps-and-islands per doc) and apply the length threshold."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("off")
    brk = F.when(F.col("off") - F.lag("off").over(w) > k, 1).otherwise(0)
    run = Window.partitionBy("doc_id").orderBy("off").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    islands = covered.withColumn("brk", brk).withColumn(
        "span_id", F.sum("brk").over(run)
    )
    return (
        islands.groupBy("doc_id", "span_id")
        .agg(F.min("off").alias("start_tok"), F.max("off").alias("max_off"))
        .select(
            "doc_id",
            F.col("start_tok").cast("long").alias("start_tok"),
            (F.col("max_off") + F.lit(k - 1)).cast("long").alias("end_tok"),
        )
        .withColumn(
            "span_tokens", F.col("end_tok") - F.col("start_tok") + F.lit(1)
        )
        .where(F.col("span_tokens") >= min_span)
    )


def repeated_spans_incremental(
    new_docs: DataFrame,
    old_posts: DataFrame,
    k: int = 8,
    min_span: int = 12,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental span maintenance: a NEW batch of docs arrives against
    the standing posting-list index (`old_posts` — the persisted
    :func:`shingle_postings` of the corpus so far; at scale a table
    bucketed by ``h``).

    Emits the repeated spans of every AFFECTED doc — the batch's own docs
    plus any existing doc sharing a now-repeated shingle with the batch —
    exactly as a full recompute would produce them (differential-tested).
    The corpus is append-only, so repeated-status and coverage only grow:
    a doc not sharing a batch shingle cannot change, which is what makes
    the affected set (and the whole job) batch-proportional:

    1. batch postings (one explode over the batch);
    2. repeated-status for BATCH shingle hashes: an inverted-index probe —
       all postings of those hs via equi-join, then the count aggregate;
    3. affected docs = docs holding a posting of a now-repeated batch h;
    4. re-derive those docs' full coverage (their postings × the repeated
       status of THEIR hs, again h-equi-joined probes) and reassemble
       spans.  Appending the batch postings to the index keeps it current
       (`old_posts ∪ new postings`), like minhash_index maintenance.
    """
    # the union feeds FOUR consumers (rep_batch probe, affected set,
    # affected postings, rep_all probe): without a cut the batch explode
    # re-runs per consumer — and when the caller hands a lazily-derived
    # old_posts (instead of the persisted standing table this function
    # is documented against), the full-corpus explode re-runs with it
    # (the r15-open q_span_incremental plan carried 5 documents scans).
    # The batch postings are batch-proportional, so the checkpoint is
    # scale-safe; old_posts stays the caller's relation untouched.
    new_posts = shingle_postings(
        new_docs, k, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=True)
    posts = old_posts.select("doc_id", "off", "h").unionByName(new_posts)
    batch_hs = new_posts.select("h").distinct()
    rep_batch = (
        posts.join(batch_hs, "h")
        .groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
    )
    affected = posts.join(rep_batch, "h").select("doc_id").distinct()
    aposts = posts.join(affected, "doc_id")
    cand_hs = aposts.select("h").distinct()
    rep_all = (
        posts.join(cand_hs, "h")
        .groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
    )
    covered = aposts.join(rep_all, "h").select("doc_id", "off")
    return _coverage_to_spans(covered, k, min_span)


def span_mask(
    docs: DataFrame,
    k: int = 8,
    min_span: int = 12,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Per-doc repeated-span mask: how much of each document is covered by
    qualifying repeated spans.

    Returns one row per INPUT doc: (doc_id, n_tokens, n_spans,
    covered_tokens, covered_frac) — docs with no qualifying span report 0.
    The downstream span-removal decision (drop doc / cut spans / keep) is
    a filter on covered_frac; the spans themselves come from
    :func:`repeated_spans` (pass a precomputed ``spans`` table to reuse
    one detection across mask + removal).  Non-overlap of spans makes
    sum(span_tokens) the exact covered-token count.
    """
    if spans is None:
        spans = repeated_spans(
            docs, k, min_span, min_docs, text_col=text_col, id_col=id_col
        )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("span_tokens").alias("covered_tokens"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long")
            .alias("covered_tokens"),
        )
        .withColumn(
            "covered_frac",
            F.round(F.col("covered_tokens") / F.col("n_tokens"), 4),
        )
    )


def remove_spans(
    docs: DataFrame,
    k: int = 8,
    min_span: int = 12,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Cut every qualifying repeated span out of each document's text —
    the removal step that :func:`repeated_spans` (detection) and
    :func:`span_mask` (decision input) feed.  Pass a precomputed
    ``spans`` table to reuse one detection across mask + removal.

    Returns one row per INPUT doc: (doc_id, clean_text, kept_tokens,
    removed_tokens).  Documents without qualifying spans pass through
    verbatim.

    Shape: spans aggregate to ONE small array per affected doc (only
    boilerplate docs have rows — broadcastable), equi-joined onto the
    corpus; the cut itself is a pure projection — an indexed `filter`
    lambda keeps tokens whose position lies in no span.  No explode, no
    sort, no range join: work is linear in corpus tokens.
    """
    if spans is None:
        spans = repeated_spans(
            docs, k, min_span, min_docs, text_col=text_col, id_col=id_col
        )
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("spans")
    )
    empty = F.array().cast("array<struct<start_tok:bigint,end_tok:bigint>>")
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("toks")
    )
    joined = base.join(per_doc, "doc_id", "left").select(
        "doc_id", "toks", F.coalesce("spans", empty).alias("spans")
    )
    kept = F.filter(
        F.col("toks"),
        lambda tok, i: ~F.exists(
            F.col("spans"),
            lambda s: (i >= s["start_tok"]) & (i <= s["end_tok"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        F.size(kept).cast("long").alias("kept_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias("removed_tokens"),
    )


# ---------------------------------------------------------------- n-gram
# jaccard with a document-frequency guard against corpus-hot shingles


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    bucket_cols: tuple[str, ...] = ("lang", "source"),
    df_cap: int | None = None,
    max_hot_shingles: int = 10_000,
    max_hot_heavy_pairs: int = 2_000_000,
    round_dp: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact token-n-gram Jaccard pairs within (bucket_cols) buckets.

    Output: (id1, id2, jaccard) for every same-bucket pair with rounded
    jaccard >= ``threshold`` — identical for the guarded and unguarded
    paths.

    **Why the guard exists.** The inverted-index join's cost is
    Σ per-shingle df² — one corpus-hot shingle (boilerplate header, stop
    phrase) makes the candidate join quadratic in corpus size.  With
    ``df_cap`` set, shingles whose per-bucket document frequency exceeds
    the cap are pulled OUT of the join index, bounding every posting list
    at ``df_cap`` (join cost <= df_cap x total postings, linear in the
    corpus for fixed cap).

    **Why the guarded path is still exact.** Partition each bucket's
    shingles into COLD (df <= cap) and HOT (df > cap); for a pair (A, B)
    with rounded jaccard >= t:

    - if A and B share >= 1 cold shingle, the cold join finds them, and
      the exact intersection is inter_cold (from the join) + inter_hot
      (from the two docs' hot-shingle arrays — A∩B∩HOT ⊆ A_hot);
    - else A∩B ⊆ HOT, so |A∩B| <= |A_hot| while jaccard >= t' (t minus
      the rounding margin) forces |A∩B| >= t'·|A∪B| >= t'·|A| — hence
      |A_hot| >= t'·|A| and symmetrically for B: BOTH docs are
      "hot-heavy" (hot fraction >= t').  All same-bucket hot-heavy pairs
      are enumerated directly, so no qualifying pair is lost.

    Guards fail fast BEFORE any quadratic work: more than
    ``max_hot_shingles`` distinct hot shingles, or a hot-heavy pair
    volume above ``max_hot_heavy_pairs`` (Σ per-bucket c·(c-1)/2), raises
    :class:`ExpandedPairsTooLarge` — each check is one tiny aggregation.
    A corpus trippping the pair guard is boilerplate-dominated and needs
    span-level dedup (:func:`repeated_spans`) first, not a bigger join.
    """
    b = list(bucket_cols)
    # bind the token array first so the shingle chain's ~5 references
    # to it share one split per row (r15)
    sets = docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in b],
        F.split(text_col, " ").alias("_toks"),
    ).select(
        "doc_id",
        *b,
        F.array_distinct(
            token_shingles(text_col, n, tokens=F.col("_toks"))
        ).alias("sh"),
    ).select("doc_id", *b, "sh", F.size("sh").alias("n_sh"))
    ex = sets.select("doc_id", *b, "n_sh", F.explode("sh").alias("s"))

    def _finish(cand: DataFrame) -> DataFrame:
        jac = F.round(
            F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")),
            round_dp,
        )
        return (
            cand.select("id1", "id2", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold)
        )

    if df_cap is None:
        a, bb = ex.alias("a"), ex.alias("b")
        cond = (F.col("a.s") == F.col("b.s")) & (
            F.col("a.doc_id") < F.col("b.doc_id")
        )
        for c in b:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        inter = (
            a.join(bb, cond)
            .groupBy(
                F.col("a.doc_id").alias("id1"),
                F.col("b.doc_id").alias("id2"),
                F.col("a.n_sh").alias("n1"),
                F.col("b.n_sh").alias("n2"),
            )
            .agg(F.count("*").alias("inter"))
        )
        return _finish(inter)

    # ---- guarded path -------------------------------------------------
    # the per-doc shingle-set table is the pipeline's working set (one row
    # per doc) and feeds FOUR consumers (df count, both cold-join sides,
    # candidate metadata) — materialize it once, exactly like the span
    # module's posting lists, instead of recomputing token_shingles per
    # consumer (measured ~3x wall on the sf0.1 bench line).  LAZY mark:
    # the hot-set collect right below is the first action and references
    # sets exactly once, so it materializes the checkpoint as a side
    # effect — no separate materialization job (r15)
    sets = sets.localCheckpoint(eager=False)
    ex = sets.select("doc_id", *b, "n_sh", F.explode("sh").alias("s"))
    dfreq = ex.groupBy(*b, "s").agg(F.count("*").alias("df"))
    # the hot set is GUARD-BOUNDED (KBs) — collect it and make the hot
    # test a literal in-list predicate: no join, no broadcast exchange
    hot_q = (
        dfreq.where(F.col("df") > df_cap)
        .select(*b, "s")
        .limit(max_hot_shingles + 1)
    )
    with one_job_collect(docs.sparkSession):
        hot_rows = hot_q.collect()
    if len(hot_rows) > max_hot_shingles:
        raise ExpandedPairsTooLarge(
            f"over {max_hot_shingles} shingles exceed df_cap={df_cap} "
            "(max_hot_shingles); the hot set must stay driver-size — "
            "raise df_cap or pre-clean boilerplate"
        )
    sep = "\x1f"
    hot_keys = [sep.join([*(str(r[c]) for c in b), r["s"]]) for r in hot_rows]
    key = F.concat_ws(sep, *[F.col(c) for c in b], F.col("s"))
    is_hot = key.isin(*hot_keys) if hot_keys else F.lit(False)
    cold = ex.where(~is_hot)

    # per-doc hot-shingle arrays: <= len(hot_keys) entries per doc
    doc_hot = (
        ex.where(is_hot).groupBy("doc_id").agg(F.collect_set("s").alias("hs"))
    )
    margin = 10.0 ** (-round_dp)  # round(j, dp) >= t admits j >= t - margin
    t_eff = threshold - margin
    meta = sets.join(doc_hot, "doc_id", "left").select(
        "doc_id", *b, "n_sh",
        F.coalesce("hs", F.array().cast("array<string>")).alias("hs"),
    )
    hot_heavy = meta.where(
        (F.size("hs") > 0) & (F.size("hs") >= F.col("n_sh") * t_eff)
    )
    pv_q = (
        hot_heavy.groupBy(*b).agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("p"))
    )
    with one_job_collect(docs.sparkSession):
        pair_volume = pv_q.collect()[0]["p"]
    if pair_volume and pair_volume > max_hot_heavy_pairs:
        raise ExpandedPairsTooLarge(
            f"hot-heavy all-pairs volume {int(pair_volume)} > "
            f"max_hot_heavy_pairs={max_hot_heavy_pairs}; run span-level "
            "dedup first or raise df_cap"
        )

    ca, cb = cold.alias("a"), cold.alias("b")
    cond = (F.col("a.s") == F.col("b.s")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    for c in b:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cold_pairs = (
        ca.join(cb, cond)
        .groupBy(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .agg(F.count("*").alias("inter_cold"))
    )
    hha, hhb = hot_heavy.alias("a"), hot_heavy.alias("b")
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    for c in b:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    hh_pairs = hha.join(hhb, cond).select(
        F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
    )
    cand_ids = cold_pairs.select("id1", "id2").union(hh_pairs).distinct()
    m1 = meta.select(
        F.col("doc_id").alias("id1"), F.col("n_sh").alias("n1"),
        F.col("hs").alias("h1"),
    )
    m2 = meta.select(
        F.col("doc_id").alias("id2"), F.col("n_sh").alias("n2"),
        F.col("hs").alias("h2"),
    )
    cand = (
        cand_ids.join(cold_pairs, ["id1", "id2"], "left")
        .join(m1, "id1")
        .join(m2, "id2")
        .select(
            "id1", "id2", "n1", "n2",
            (
                F.coalesce("inter_cold", F.lit(0))
                + F.size(F.array_intersect("h1", "h2"))
            ).alias("inter"),
        )
        # parity with the unguarded join, which can only ever emit pairs
        # sharing >= 1 shingle: at threshold 0 a no-overlap hot-heavy
        # pair would otherwise pass the jaccard filter (review finding)
        .where(F.col("inter") > 0)
    )
    return _finish(cand)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
    the MOSS local fingerprinting algorithm): (doc_id, pos, h), one row
    per selected k-gram hash.

    Completes the fingerprinting family next to SimHash
    (:func:`simhash_fingerprint`) and MinHash signatures: winnowing keeps
    a POSITION-AWARE subset of the k-gram hashes — in every window of
    ``w`` consecutive k-gram hashes, the RIGHTMOST minimal hash is
    selected — with the guarantee that any shared substring of at least
    ``w + k - 1`` tokens contributes at least one shared fingerprint.
    That makes the fingerprints usable both for near-dup candidate
    generation (:func:`winnow_neardup`) and for locating WHERE the
    overlap is (``pos`` is the 1-based token index of the selected
    k-gram), which MinHash signatures cannot do.

    Determinism / engine parity: hashes are the md5-derived 32-bit
    integers used across this module, selection is the deterministic
    rightmost-min rule, and the short-document tail rule is fixed — a doc
    with at least one k-gram but fewer than ``w`` of them yields one
    window spanning all its k-gram hashes (so no non-empty document
    fingerprints to nothing); null/short texts yield zero rows (guarded
    sequences, no ANSI crash).

    Scale shape: ONE generator projection — the k-gram hashing, window
    minimization, and dedup all happen in array expressions inside the
    scan (O(tokens x w) expression work per doc, no shuffle at all); the
    only shuffle anywhere downstream is whatever consumes the
    fingerprints.  Output is bounded at ~2/(w+1) of the k-gram count per
    doc (the winnowing density bound), so the fingerprint table is a
    corpus-linear, several-fold-compressed index."""
    # The token array is BOUND in its own projection before the k-gram
    # lambda references it (r15): a lambda body that embeds the
    # ``split`` expression itself re-evaluates the split once per
    # ARRAY ELEMENT (O(tokens²) per doc — measured 5.7× on the sibling
    # n-gram generator at sf0.1); a bound attribute is computed once
    # per row.  Two references (the size guard + the lambda) keep
    # CollapseProject from inlining the split back into the lambda.
    docs = docs.select(F.col(id_col), F.split(text_col, " ").alias("_t"))
    t = F.col("_t")
    m = F.size(t) - (k - 1)
    gram_idx = F.when(m >= 1, F.sequence(F.lit(1), m)).otherwise(
        F.array().cast("array<int>")
    )
    # 60-bit k-gram hashes (was 32-bit until r11): at 100 TB the
    # 32-bit space itself became the noise floor — ~10^12 corpus
    # fingerprints × 10^9 batch fingerprints / 2^32 ≈ 10^11 accidental
    # exact-h collisions, which both inflated posting joins and made
    # the compacted index's bloom bucket prune vacuous (every bucket
    # ends up carrying a colliding h for any bulk batch).  At 2^60 the
    # same product is ~10^2.  Winnowing itself is hash-width-agnostic
    # (rightmost-min selection); the DuckDB oracles mirror the width
    # (substr(md5, 1, 15)).  The width is part of the streaming
    # stores' ON-DISK FORMAT: the maintainers stamp it (winnowstream
    # WINNOW_HASH_FORMAT marker) and refuse to reattach across a
    # mismatch, so a width change can never silently zero a resumed
    # stream's pair emissions (ADVICE r11).
    hashes = F.transform(
        gram_idx, lambda i: md5_int60(F.concat_ws(" ", F.slice(t, i, k)))
    )
    d = docs.select(F.col(id_col).alias("doc_id"), hashes.alias("_h"))
    mh = F.size("_h")
    win_idx = F.when(
        mh >= 1, F.sequence(F.lit(1), F.greatest(mh - (w - 1), F.lit(1)))
    ).otherwise(F.array().cast("array<int>"))

    def _rightmost_min(j):
        # scan the window left->right; <= keeps the rightmost minimum
        return F.aggregate(
            F.sequence(j, F.least(j + (w - 1), mh)),
            F.struct(
                F.lit(1 << 62).cast("bigint").alias("h"),
                F.lit(-1).cast("int").alias("pos"),
            ),
            lambda acc, i: F.when(
                F.element_at(F.col("_h"), i) <= acc["h"],
                F.struct(
                    F.element_at(F.col("_h"), i).alias("h"),
                    i.cast("int").alias("pos"),
                ),
            ).otherwise(acc),
        )

    fp = F.array_distinct(F.transform(win_idx, _rightmost_min))
    return d.select("doc_id", F.explode(fp).alias("f")).select(
        "doc_id",
        F.col("f.pos").cast("bigint").alias("pos"),
        F.col("f.h").alias("h"),
    )


def winnow_fingerprint_sets(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_count: bool = False,
) -> DataFrame:
    """DISTINCT winnowing fingerprint SET per doc — (doc_id, h), plus
    the doc's distinct-fingerprint count ``n_fp`` when ``with_count``.

    Same selection as :func:`winnow_fingerprints` with positions
    dropped, but the per-doc distinct (and the count) are computed
    row-locally in array expressions BEFORE the explode — the
    ``winnow_fingerprints(...).select('doc_id','h').distinct()``
    formulation shuffles the whole corpus-linear fingerprint table just
    to dedup rows that all come from one source row, and its consumers
    then pay a ``groupBy(doc_id)`` plus two join-backs for the same
    ``n_fp`` the array already knows (r15; guide §2.4).  Zero shuffle,
    distinct by construction, and ``n_fp`` rides with every posting row
    — the denormalized-denominator discipline the streaming winnow
    index (v2 format) already uses."""
    # Selection rule parity with winnow_fingerprints: the rightmost-min
    # rule only affects WHICH POSITION a window's minimal hash is
    # attributed to — the hash VALUE selected from a window is its
    # minimum either way, so the distinct-h set (and its size) is
    # identical to distincting the positional output (pinned by
    # tests/test_functions_dedup.py::TestWinnowing).
    docs = docs.select(F.col(id_col), F.split(text_col, " ").alias("_t"))
    t = F.col("_t")
    m = F.size(t) - (k - 1)
    gram_idx = F.when(m >= 1, F.sequence(F.lit(1), m)).otherwise(
        F.array().cast("array<int>")
    )
    hashes = F.transform(
        gram_idx, lambda i: md5_int60(F.concat_ws(" ", F.slice(t, i, k)))
    )
    d = docs.select(F.col(id_col).alias("doc_id"), hashes.alias("_h"))
    mh = F.size("_h")
    win_idx = F.when(
        mh >= 1, F.sequence(F.lit(1), F.greatest(mh - (w - 1), F.lit(1)))
    ).otherwise(F.array().cast("array<int>"))

    def _rightmost_min_h(j):
        return F.aggregate(
            F.sequence(j, F.least(j + (w - 1), mh)),
            F.lit(1 << 62).cast("bigint"),
            lambda acc, i: F.least(F.element_at(F.col("_h"), i), acc),
        )

    hs = F.array_distinct(F.transform(win_idx, _rightmost_min_h))
    # The set array is exploded as a RAW EXPRESSION, never pre-projected
    # to an attribute: explode(attribute) lets InferFiltersFromGenerate
    # add a `size(attr) > 0` filter that PushDownPredicates then
    # substitutes through the projections all the way to the scan —
    # re-evaluating the whole hash chain (with `split` inlined) inside
    # an interpreted per-row filter, O(tokens²·w) per doc (measured: a
    # single sf0.1 task burned >435 s there).  A non-cheap generator
    # input is exempt from that rule (the positional builder above has
    # always exploded the expression), so the plan stays the linear
    # 3-project + Generate shape.
    if with_count:
        # n_fp is bound to an attribute in its own projection BELOW the
        # Generate: selecting `size(hs)` alongside the explode would
        # place it in the Project ABOVE the Generate, re-evaluating the
        # whole window scan once per exploded OUTPUT row (O(set²) per
        # doc) instead of once per doc.  The set expression is thus
        # evaluated twice per doc (size + explode) — both linear.
        d = d.select(
            "doc_id", "_h", F.size(hs).cast("bigint").alias("n_fp")
        )
        return d.select("doc_id", F.explode(hs).alias("h"), "n_fp").select(
            "doc_id", "h", "n_fp"
        )
    return d.select("doc_id", F.explode(hs).alias("h"))


def winnow_neardup(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    threshold: float = 0.5,
    max_join_pairs: int | None = 50_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprints: DataFrame | None = None,
    fingerprints_distinct: bool = False,
    guard_one_job: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by winnowing-fingerprint containment:
    (id1, id2, shared, containment) for every pair whose shared distinct
    fingerprint count reaches ``threshold`` of the SMALLER doc's
    fingerprint set (containment — robust to length mismatch, the MOSS
    report metric).

    Scale shape: the fingerprint table is built in one generator
    projection (:func:`winnow_fingerprints`), then ONE posting-list
    equi-join on the fingerprint hash + one pair aggregate.  Join cost is
    sum over hashes of df² — the same hot-key exposure as every inverted
    index — so the ``max_join_pairs`` fail-fast measures sum(df·(df-1)/2)
    in ONE tiny aggregation BEFORE the join and raises
    :class:`ExpandedPairsTooLarge` on a boilerplate-dominated corpus
    (route those through span dedup / collapse first, the same guidance
    as :func:`ngram_jaccard_pairs`).

    ``guard_one_job`` wraps the fail-fast collect in ``one_job_collect``
    (AQE off for that one action).  Keep the default only when the
    fingerprint relation is already materialized (the session index
    tables) or the corpus is known-small; pass ``False`` when handing in
    lazily-derived corpus-scale fingerprints — the guard's materializing
    collect then keeps AQE for the corpus-scale groupBy('h') shuffle
    (ADVICE r15: the 'scale-neutral' claim does not hold when the tiny
    collect transitively materializes corpus-scale lazy checkpoints)."""
    base_fp = (
        fingerprints
        if fingerprints is not None
        else winnow_fingerprints(
            docs, k=k, w=w, id_col=id_col, text_col=text_col
        )
    )
    # ``fingerprints_distinct=True`` is the caller's promise of an
    # already-distinct (doc_id, h) relation (same contract as
    # winnow_decontaminate): `shared` counts rows, so the defensive
    # distinct is required for positional input, but for the composed
    # pipeline (which builds `.distinct().localCheckpoint()` itself) it
    # was a redundant full shuffle of the fingerprint table (r15).
    if fingerprints is not None and fingerprints_distinct:
        # may carry a denormalized n_fp column (the set-form builders
        # stamp it); the pair aggregate below rides it when present
        fp = base_fp
    elif fingerprints is not None:
        # positional (or otherwise unnormalized) input: ONE
        # groupBy(doc_id) collect_set computes the distinct h relation
        # AND its per-doc count together — the former
        # distinct + groupBy(doc_id).count() + two join-backs paid four
        # exchanges for the same facts (r15; guide §2.4).  Per-group
        # state is the doc's winnowed fingerprint set, bounded by the
        # ~2/(w+1) density bound exactly like the text row itself.
        sets = base_fp.groupBy("doc_id").agg(
            F.collect_set("h").alias("_hs")
        )
        fp = sets.select(
            "doc_id",
            F.explode("_hs").alias("h"),
            F.size("_hs").cast("bigint").alias("n_fp"),
        )
    else:
        # built from the docs: the set form is distinct by construction
        # (zero shuffle) and stamps n_fp row-locally
        fp = winnow_fingerprint_sets(
            docs, k=k, w=w, id_col=id_col, text_col=text_col,
            with_count=True,
        )
    # fp feeds FOUR consumers (guard, per-doc counts, both posting-join
    # sides).  LAZY mark when the guard collect below runs: that first()
    # references fp exactly once and materializes the checkpoint as a
    # side effect — no separate materialization job (r15); without the
    # guard the eager checkpoint keeps the multi-consumer reuse.
    fp = fp.localCheckpoint(eager=max_join_pairs is None)
    if max_join_pairs is not None:
        bound = (
            fp.groupBy("h")
            .count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("p"))
        )
        scope = (
            one_job_collect(fp.sparkSession)
            if guard_one_job
            else contextlib.nullcontext()
        )
        with scope:
            total = bound.first()["p"]
        if total is not None and total > max_join_pairs:
            raise ExpandedPairsTooLarge(
                f"winnowing posting-list join would compare ~{int(total):,} "
                f"pairs (> max_join_pairs={max_join_pairs:,}); the corpus "
                "is boilerplate-dominated — span-dedup or collapse it "
                "first, or raise max_join_pairs deliberately"
            )
    a, b = fp.alias("a"), fp.alias("b")
    cont = F.round(F.col("shared") / F.least("n1", "n2"), 4)
    if "n_fp" in fp.columns:
        # DENORMALIZED DENOMINATORS: n_fp rides with every posting row
        # (constant per doc), so the pair aggregate reads both
        # denominators with min() — no counts relation, no join-backs
        # (the r12 streaming-index discipline applied to the batch path)
        shared = (
            a.join(
                b,
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("id1"),
                F.col("b.doc_id").alias("id2"),
            )
            .agg(
                F.count("*").alias("shared"),
                F.min(F.col("a.n_fp")).alias("n1"),
                F.min(F.col("b.n_fp")).alias("n2"),
            )
        )
        return shared.select(
            "id1", "id2", F.col("shared").cast("bigint").alias("shared"),
            cont.alias("containment"),
        ).where(F.col("containment") >= threshold)
    cnt = fp.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    shared = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .agg(F.count("*").alias("shared"))
    )
    n1 = cnt.select(F.col("doc_id").alias("id1"), F.col("n_fp").alias("n1"))
    n2 = cnt.select(F.col("doc_id").alias("id2"), F.col("n_fp").alias("n2"))
    return (
        shared.join(n1, "id1")
        .join(n2, "id2")
        .select(
            "id1", "id2", F.col("shared").cast("bigint").alias("shared"),
            cont.alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def winnow_matches(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Overlap LOCALIZATION for winnowing near-dup pairs: for every
    (id1, id2) pair, the matched fingerprint co-occurrences
    (id1, id2, pos1, pos2, h) — ``pos1``/``pos2`` are the 1-based token
    indexes of the shared k-gram in each document.

    This is the step the position-blind families (MinHash/SimHash)
    cannot provide: the MOSS-style report of WHERE two documents
    overlap, ready for span extraction (consecutive matched positions
    with a constant offset form a shared run) or for review UIs.  A hash
    selected at several positions of one doc yields one row per
    co-occurrence — all alignments are reported.

    Scale shape: two equi-joins scoped BY THE PAIR LIST — the fingerprint
    table is joined down to the pair's documents first, so cost follows
    pairs x fingerprints-per-doc, never the corpus.

    ``fingerprints``: pass the stored positional table from
    :func:`winnow_fingerprints` to reuse one derivation across the
    neardup → matches → spans composition (index state, the
    minhash_dedup(signatures=...) discipline)."""
    fp = (
        fingerprints
        if fingerprints is not None
        else winnow_fingerprints(
            docs, k=k, w=w, id_col=id_col, text_col=text_col
        )
    )
    a = fp.select(
        F.col("doc_id").alias("id1"), F.col("pos").alias("pos1"), "h"
    )
    b = fp.select(
        F.col("doc_id").alias("id2"), F.col("pos").alias("pos2"), "h"
    )
    return (
        pairs.select("id1", "id2")
        .join(a, "id1")
        .join(b, ["id2", "h"])
        .select("id1", "id2", "pos1", "pos2", "h")
    )


def winnow_incremental(
    new_docs: DataFrame,
    index_fp: DataFrame,
    k: int = 4,
    w: int = 4,
    threshold: float = 0.5,
    max_join_pairs: int | None = 50_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing near-dup pairs introduced by a new batch against a
    standing fingerprint index (the winnowing member of the incremental
    family: MinHash, spans, embeddings, SemDeDup).

    ``index_fp`` is the (doc_id, h) DISTINCT fingerprint relation from
    :func:`winnow_fingerprints` over the existing corpus (positions
    dropped — the pairing index).  Emits exactly the
    :func:`winnow_neardup` pairs over (corpus ∪ batch) that involve at
    least one new doc: new×old via ONE equi-join of the batch's
    fingerprints against the index, new×new within the batch (the
    symmetric self-match is de-duplicated by least/greatest + a
    distinct-hash count).  Containment denominators come from per-doc
    fingerprint counts over index ∪ batch — a corpus-linear map-side
    aggregate (a production deployment stores the per-doc count next to
    the index and skips it).

    Per-batch join cost follows the batch's posting lists (Σ_h
    new_df(h)·both_df(h)), measured by the fail-fast BEFORE the join —
    a batch overlapping a boilerplate-dominated index raises
    :class:`ExpandedPairsTooLarge` at aggregation cost.

    Re-ingestion is replacement: a ``doc_id`` appearing in BOTH the
    index and the batch keeps only the batch's fresh fingerprints (a
    broadcast anti-join on the batch's doc_ids — no corpus shuffle), so
    per-doc ``n_fp`` denominators never double-count a re-ingested doc
    (ADVICE r7)."""
    pairs, _ = winnow_incremental_indexed(
        new_docs, index_fp, k=k, w=w, threshold=threshold,
        max_join_pairs=max_join_pairs, id_col=id_col, text_col=text_col,
    )
    return pairs


def winnow_incremental_indexed(
    new_docs: DataFrame,
    index_fp: DataFrame,
    k: int = 4,
    w: int = 4,
    threshold: float = 0.5,
    max_join_pairs: int | None = 50_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprints: DataFrame | None = None,
    fingerprints_distinct: bool = False,
    index_counts: DataFrame | None = None,
    broadcast_batch: bool | None = None,
    broadcast_batch_rows: int = 4_000_000,
    batch_h_values: list | None = None,
    batch_id_values: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """:func:`winnow_incremental` plus the batch's own distinct
    (doc_id, h) fingerprint relation, already localCheckpointed.

    Returns ``(pairs, batch_fp)``.  A streaming maintainer
    (:class:`~datayours_spark.streaming.winnowstream.WinnowStream`)
    appends ``batch_fp`` to its standing index instead of re-running
    :func:`winnow_fingerprints` over the batch a second time — the same
    build-once contract ``cosine_neardup_incremental_indexed`` gives
    ``EmbedStream`` (ADVICE r7).

    **Batch-proportional mode** (r9 verdict): against a TB-scale
    standing index, the per-batch path must never SHUFFLE the index —
    only scan it.

    - DENORMALIZED DENOMINATORS (r12, preferred at scale): when
      ``index_fp`` itself carries an ``n_fp`` column (the doc's
      distinct fingerprint count, stamped on every posting row at
      write time — the streaming maintainers' v2 index format), the
      containment denominator rides WITH the rows through the pair
      join: no counts relation is scanned, broadcast, or joined at
      all.  This removes the one corpus-sized read a small probe
      batch still paid (the docs-sized counts scan) and makes
      index/denominator drift structurally impossible — a version's
      rows are written in one batch with one n_fp, so the LWW view
      keeps row and denominator consistent by construction.
      ``index_counts`` is ignored in this mode; the batch side's
      n_fp comes from a batch-sized window count.
    - ``index_counts``: the standing per-doc DISTINCT fingerprint
      counts (doc_id, n_fp), consistent with the ``index_fp`` view (a
      streaming maintainer keeps them next to the index).  When given,
      containment denominators come from it plus the batch's own
      counts — skipping the full-index ``groupBy(doc_id)`` — and
      ``index_fp`` may safely be pruned to the batch's hash buckets
      (it then feeds only h-matching, never doc-level aggregates).
      CONSISTENCY CONTRACT (ADVICE r10/r11): ``index_counts`` must
      cover every doc_id in ``index_fp``, and a violation RAISES in
      BOTH modes (``assert_true`` on null-checked left joins) — in
      broadcast mode through the pair-ids-sized counts slice (ONE
      semi-filtered scan), in bulk mode through the full shuffle
      joins, so the failure behavior never flips from loud to silent
      when a pipeline crosses ``broadcast_batch_rows`` (ADVICE r11).
      An index store populated BEFORE its counts table existed must be
      rebuilt (or counts backfilled with
      ``index.groupBy(doc_id).count()``) before using this argument.
      The streaming maintainers write both tables from the same batch
      fingerprints, so they cannot drift.
    - ``broadcast_batch``: broadcast the batch's fingerprints into the
      posting join (index side streams, no exchange) and pre-filter the
      guard's posting-frequency aggregate to the batch's h set (the
      inner join with ``nw`` discards every other h anyway).  Default
      ``None`` auto-enables when the batch has at most
      ``broadcast_batch_rows`` fingerprints — bulk loads fall back to
      the shuffle join, whose cost the batch side itself dominates.

    Pair output is IDENTICAL in every mode (the rewrites are exact:
    semi-filtering the guard preserves its inner join, and the
    denominators join only touches doc_ids present in the pair set)."""
    # ``fingerprints`` lets a composed caller (the ingest pipeline's
    # decontamination stage shares one fingerprint pass) hand in the
    # batch's (doc_id, h) relation, already checkpointed.  The posting
    # join and the appended index both require DISTINCT (doc_id, h) —
    # normalized defensively so a positional winnow_fingerprints output
    # can't multi-count shared hashes (idempotent when already
    # distinct).  ``fingerprints_distinct=True`` is the caller's PROMISE
    # that the relation is already a materialized distinct (doc_id, h)
    # — the composed hot paths build it `.distinct().localCheckpoint()`
    # two lines up, and re-normalizing there costs an extra corpus
    # shuffle + copy per bulk batch (measured ~2 full exchanges at the
    # 1.5M smoke).  The normalized relation is checkpointed either way:
    # new_fp feeds many consumers (guard, posting join, counts, index
    # append), and an unmaterialized distinct would re-run per job.
    if fingerprints is not None and fingerprints_distinct:
        new_fp = fingerprints
    else:
        new_fp = (
            fingerprints.select("doc_id", "h").distinct()
            if fingerprints is not None
            # set form (r15): distinct by construction — zero-shuffle
            # checkpoint materialization; n_fp stamped when the index
            # carries it (the denormalized mode below then skips the
            # batch-side window count)
            else winnow_fingerprint_sets(
                new_docs, k=k, w=w, id_col=id_col, text_col=text_col,
                with_count="n_fp" in index_fp.columns,
            )
        ).localCheckpoint(eager=True)
    # Replacement semantics on re-ingest: drop index rows for batch
    # doc_ids (tiny broadcast side) before the union.  A small batch
    # whose complete doc_id / h sets are driver-known (the maintainers'
    # one-collect-per-batch stats carry them, capped) hands them in as
    # ``batch_id_values`` / ``batch_h_values`` LITERALS: the
    # replacement anti-join and the hits semi-join then become isin()
    # predicates — one less broadcast-exchange job each, and pushable
    # to the index scan's parquet row-group statistics (r11 verdict
    # #1, the trickle floor).  Exact rewrites of the joins they
    # replace; bulk batches (values=None) keep the broadcast joins.
    new_ids = new_fp.select("doc_id").distinct()
    # DENORMALIZED-DENOMINATOR mode (r12, the trickle floor): when the
    # index rows carry their doc's distinct-fingerprint count as an
    # ``n_fp`` column, containment denominators ride WITH the posting
    # rows through the pair join — no counts relation is scanned or
    # joined at all, which removes the one remaining corpus-sized read
    # a 3-doc probe paid (the docs-sized counts scan) and makes
    # index/counts drift structurally impossible on this path.  A
    # version's rows are all written in one batch with one n_fp, so
    # the LWW view keeps row and denominator consistent by
    # construction.  ``index_counts`` is ignored in this mode.
    carry_nfp = "n_fp" in index_fp.columns
    if carry_nfp:
        if "n_fp" not in new_fp.columns:
            from pyspark.sql import Window as _W

            new_fp = new_fp.withColumn(
                "n_fp",
                F.count("*")
                .over(_W.partitionBy("doc_id"))
                .cast("bigint"),
            )
        else:
            # set-form batch input already stamps n_fp row-locally —
            # no batch-sized window count needed (r15)
            new_fp = new_fp.select("doc_id", "h", "n_fp")
        index_fp = index_fp.select("doc_id", "h", "n_fp")
    elif "n_fp" in new_fp.columns:
        # batch rows stamped with n_fp against a v1 (count-less) index:
        # fall back to the counts path — drop the column so the union
        # below stays schema-consistent
        new_fp = new_fp.select("doc_id", "h")
    index_sel = index_fp.select(*new_fp.columns)
    both = (
        index_sel.where(~F.col("doc_id").isin(batch_id_values))
        if batch_id_values is not None
        else index_sel.join(F.broadcast(new_ids), "doc_id", "left_anti")
    ).unionByName(new_fp)
    if broadcast_batch is None:
        # the batch relation is checkpointed (or caller-materialized),
        # so the count is a cheap metadata-ish job over batch-sized data
        broadcast_batch = new_fp.count() <= broadcast_batch_rows
    if broadcast_batch:
        # ONE index scan per batch: materialize only the postings whose
        # h appears in the batch — exactly the rows BOTH the guard's
        # posting-frequency aggregate and the pair join consume (a row
        # with h outside the batch's set can never match either).
        # ``hits`` is pre-expansion (posting rows, not pairs), so
        # materializing it is linear and safe to do before the guard.
        # The checkpoint is LAZY: the guard's own aggregate job (the
        # very next action) materializes it — one job where the eager
        # form ran two (r10 verdict #1, the per-trigger floor).
        hits = (
            both.where(F.col("h").isin(batch_h_values))
            if batch_h_values is not None
            else both.join(
                F.broadcast(new_fp.select("h").distinct()), "h"
            )
        ).localCheckpoint(eager=False)
        pair_src = hits
    else:
        pair_src = both
    if max_join_pairs is not None:
        nw = new_fp.groupBy("h").count().withColumnRenamed("count", "nc")
        bw = pair_src.groupBy("h").count().withColumnRenamed("count", "bc")
        bound = (
            nw.join(bw, "h")
            .agg(F.sum(F.col("nc") * F.col("bc")).alias("p"))
        )
        with one_job_collect(new_fp.sparkSession):
            total = bound.first()["p"]
        if total is not None and total > max_join_pairs:
            raise ExpandedPairsTooLarge(
                f"batch-vs-index winnow join would compare ~{int(total):,} "
                f"posting pairs (> max_join_pairs={max_join_pairs:,}); "
                "span-dedup or collapse the boilerplate first, or raise "
                "max_join_pairs deliberately"
            )
    l, r = new_fp.alias("l"), pair_src.alias("r")
    lsrc = F.broadcast(l) if broadcast_batch else l
    sel = [
        F.least("l.doc_id", "r.doc_id").alias("id1"),
        F.greatest("l.doc_id", "r.doc_id").alias("id2"),
        F.col("l.h").alias("h"),
    ]
    aggs = [F.count_distinct("h").alias("shared")]
    if carry_nfp:
        # the denominator rides with the matched rows: every row of a
        # pair carries the same least(n_fp) regardless of orientation,
        # so the min() is a constant-per-group pick, not a real fold
        sel.append(F.least("l.n_fp", "r.n_fp").alias("den"))
        aggs.append(F.min("den").alias("den"))
    shared = (
        lsrc.join(
            r,
            (F.col("l.h") == F.col("r.h"))
            & (F.col("l.doc_id") != F.col("r.doc_id")),
        )
        .select(*sel)
        .groupBy("id1", "id2")
        .agg(*aggs)
    )
    if carry_nfp:
        pairs = shared.select(
            "id1", "id2",
            F.col("shared").cast("bigint").alias("shared"),
            F.round(F.col("shared") / F.col("den"), 4).alias("containment"),
        ).where(F.col("containment") >= threshold)
        return pairs, new_fp
    if index_counts is not None:
        # standing counts (docs-sized) + the batch's own, with the same
        # replacement anti-join the index side got — no index groupBy
        batch_cnt = new_fp.groupBy("doc_id").agg(
            F.count("*").alias("n_fp")
        )
        cnt = (
            index_counts.select("doc_id", "n_fp")
            .join(F.broadcast(new_ids), "doc_id", "left_anti")
            .unionByName(batch_cnt)
        )
    else:
        cnt = both.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    if broadcast_batch:
        # batch-proportional mode: the pair set is guard-bounded, so
        # semi-filter the docs-sized counts relation ONCE with the
        # broadcast pair-id set (it previously streamed TWICE, once per
        # denominator side — ~2 corpus-sized scans per micro-batch at
        # the 1.5M smoke), then resolve both denominators from the
        # pair-ids-sized slice via broadcast lookups.  The left joins +
        # per-row assert also close the silent-drop window the inner
        # joins had (ADVICE r10): an index doc missing from a
        # caller-supplied counts relation now RAISES instead of
        # silently suppressing its pairs.
        shared = shared.localCheckpoint(eager=False)
        pids = (
            shared.select(F.col("id1").alias("doc_id"))
            .unionByName(shared.select(F.col("id2").alias("doc_id")))
            .distinct()
        )
        cnt_small = cnt.join(F.broadcast(pids), "doc_id", "left_semi")
        n1 = cnt_small.select(
            F.col("doc_id").alias("id1"), F.col("n_fp").alias("n1")
        )
        n2 = cnt_small.select(
            F.col("doc_id").alias("id2"), F.col("n_fp").alias("n2")
        )
        p2 = shared.join(F.broadcast(n1), "id1", "left").join(
            F.broadcast(n2), "id2", "left"
        )
        checked = F.when(
            F.assert_true(
                F.col("n1").isNotNull() & F.col("n2").isNotNull(),
                F.lit(
                    "winnow index/counts inconsistency: a pair doc has "
                    "no fingerprint-count row — rebuild or backfill the "
                    "counts table (winnow_incremental_indexed docstring)"
                ),
            ).isNull(),
            F.round(F.col("shared") / F.least("n1", "n2"), 4),
        )
        pairs = p2.select(
            "id1", "id2", F.col("shared").cast("bigint").alias("shared"),
            checked.alias("containment"),
        ).where(F.col("containment") >= threshold)
        return pairs, new_fp
    # bulk mode: the pair set itself may be huge — shuffle joins
    # against the full counts relation, but LEFT + per-row assert so an
    # index/counts drift RAISES here exactly as it does in broadcast
    # mode (ADVICE r11: the failure behavior must not silently flip
    # from loud to quiet when a pipeline crosses broadcast_fp_rows).
    # A left SMJ shuffles the same bytes as the inner join did; only
    # the shuffled-hash build-side freedom is given up, negligible
    # against a bulk batch's own cost.
    n1 = cnt.select(F.col("doc_id").alias("id1"), F.col("n_fp").alias("n1"))
    n2 = cnt.select(F.col("doc_id").alias("id2"), F.col("n_fp").alias("n2"))
    checked_bulk = F.when(
        F.assert_true(
            F.col("n1").isNotNull() & F.col("n2").isNotNull(),
            F.lit(
                "winnow index/counts inconsistency: a pair doc has "
                "no fingerprint-count row — rebuild or backfill the "
                "counts table (winnow_incremental_indexed docstring)"
            ),
        ).isNull(),
        F.round(F.col("shared") / F.least("n1", "n2"), 4),
    )
    pairs = shared.join(n1, "id1", "left").join(n2, "id2", "left").select(
        "id1", "id2", F.col("shared").cast("bigint").alias("shared"),
        checked_bulk.alias("containment"),
    ).where(F.col("containment") >= threshold)
    return pairs, new_fp


def winnow_spans(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = 4,
    w: int = 4,
    gap: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Shared-RUN extraction from winnowing matches — the MOSS-style
    report as a usable span table: (id1, id2, start1, end1, start2,
    end2, n_matches), where [startN, endN] are 1-based token spans of
    one contiguous shared run in each document.

    Matched fingerprint positions with a CONSTANT OFFSET (pos1 − pos2)
    belong to the same alignment; within one alignment, winnowing
    guarantees a selected fingerprint at least every ``w`` positions of
    a true shared run (the w+k−1 coverage guarantee), so position gaps
    > ``gap`` (default ``w``) split islands — the standard
    islands-and-gaps pass, here per (pair, offset).  A run whose last
    matched k-gram starts at position e covers tokens through e+k−1.

    Scale shape: everything downstream of :func:`winnow_matches` is
    pair-scoped — the distinct + lag window + aggregation all partition
    by (id1, id2, offset), so cost follows matched co-occurrences,
    never the corpus."""
    from pyspark.sql import Window

    gap = w if gap is None else gap
    m = winnow_matches(
        docs, pairs, k=k, w=w, id_col=id_col, text_col=text_col,
        fingerprints=fingerprints,
    )
    d = m.select(
        "id1", "id2", (F.col("pos1") - F.col("pos2")).alias("offset"), "pos1"
    ).distinct()
    ww = Window.partitionBy("id1", "id2", "offset").orderBy("pos1")
    brk = F.when(
        F.col("pos1") - F.lag("pos1").over(ww) <= gap, F.lit(0)
    ).otherwise(F.lit(1))
    isl = d.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(ww)
    )
    return (
        isl.groupBy("id1", "id2", "offset", "island")
        .agg(
            F.min("pos1").alias("s"),
            F.max("pos1").alias("e"),
            F.count("*").alias("n_matches"),
        )
        .select(
            "id1",
            "id2",
            F.col("s").cast("long").alias("start1"),
            (F.col("e") + k - 1).cast("long").alias("end1"),
            (F.col("s") - F.col("offset")).cast("long").alias("start2"),
            (F.col("e") + k - 1 - F.col("offset")).cast("long").alias("end2"),
            F.col("n_matches").cast("long").alias("n_matches"),
        )
    )


def winnow_dedup(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = 4,
    w: int = 4,
    gap: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Overlap REMOVAL driven by winnowing spans — the families compose:
    :func:`winnow_neardup` finds WHICH docs overlap, :func:`winnow_spans`
    finds WHERE, and this op cuts those runs out of the HIGHER-id member
    of each pair (the lower id stays canonical, the asymmetric
    keep-first convention of :func:`exact_dedup`), reusing
    :func:`remove_spans`' indexed-filter projection for the cut.

    Returns one row per INPUT doc: (doc_id, clean_text, kept_tokens,
    removed_tokens) — docs in no pair pass through verbatim; a verbatim
    copy comes back near-empty (span endpoints come from SELECTED
    fingerprints, so up to w−1 tokens of edge slack can survive at each
    end of a run — winnowing's coverage guarantee is interior).

    Scale shape: span extraction is pair-scoped (cost follows matched
    co-occurrences); the cut-list aggregates to ONE small array per
    affected doc, equi-joined onto the corpus; the cut is a linear
    projection — no explode, no sort, no range join."""
    spans = winnow_spans(
        docs, pairs, k=k, w=w, gap=gap, id_col=id_col, text_col=text_col,
        fingerprints=fingerprints,
    )
    # winnow spans are 1-based inclusive token ranges; remove_spans cuts
    # by 0-based lambda index
    cut = spans.select(
        F.col("id2").alias("doc_id"),
        (F.col("start2") - 1).cast("long").alias("start_tok"),
        (F.col("end2") - 1).cast("long").alias("end_tok"),
    ).distinct()
    return remove_spans(docs, spans=cut, text_col=text_col, id_col=id_col)


def ngram_novelty(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    n-token shingles whose FIRST corpus occurrence (lowest doc_id) is
    this doc — the "how much new text does this doc contribute" signal
    behind novelty-based selection and dump-ordering decisions (a doc
    of 0.02 novelty is near-assembled from earlier material even when
    no single pair crosses a near-dup threshold; the complement of the
    pairwise families).

    Output: (doc_id, n_shingles, n_novel, novelty).  Docs with fewer
    than ``n`` tokens have no shingles and are dropped (same convention
    as the shingle-based dedup ops).

    Scale shape: one generator projection, ONE shingle-keyed
    min-aggregate (map-side combinable), and one shingle-keyed join
    back — the posting-list shape shared with every inverted-index op
    here; cost is corpus-linear in shingles, no pairwise term at all.
    First-occurrence is defined by doc_id order, so the score is
    deterministic on any engine and any partitioning."""
    # n_shingles is ROW-LOCAL (the doc's own distinct-shingle count) and
    # n_novel is one count over the min-aggregate's output keyed by the
    # winning doc — so the corpus-scale string-shingle stream crosses the
    # network ONCE (the min aggregate) instead of twice, and the former
    # shingle-keyed join-back of the full stream disappears (r15; guide
    # §2.3/§2.4).  Values are identical: sh was already per-doc distinct,
    # so count(*) after the join == size of the doc's distinct array, and
    # sum(first==doc) == the number of shingles this doc won min() on.
    # The shingle array is exploded as a raw expression with the count
    # bound BELOW the Generate (the winnow_fingerprint_sets discipline:
    # explode(attribute) invites an inferred pushed-down filter that
    # re-evaluates the whole chain per row).
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(text_col, " ").alias("_toks"),
    )
    sh_arr = F.array_distinct(token_shingles(text_col, n, tokens=F.col("_toks")))
    d = base.select(
        "doc_id", "_toks", F.size(sh_arr).cast("bigint").alias("n_shingles")
    )
    sh = d.select("doc_id", F.explode(sh_arr).alias("shingle"))
    novel = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count("*").cast("bigint").alias("n_novel"))
    )
    return (
        d.select("doc_id", "n_shingles")
        .where(F.col("n_shingles") > 0)
        .join(novel, F.col("doc_id") == F.col("first_doc"), "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_novel") / F.col("n_shingles"), 4)
        )
    )


def winnow_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 4,
    w: int = 4,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "doc_id",
    eval_text_col: str = "text",
    fingerprints: DataFrame | None = None,
    fingerprints_distinct: bool = False,
    eval_fingerprints: DataFrame | None = None,
    denom: str = "eval",
) -> DataFrame:
    """Fingerprint-level decontamination: which training docs share at
    least ``threshold`` of some eval doc's winnowing fingerprints — the
    sampled-fingerprint sibling of exact shingle containment
    (`decontaminate`) and MinHash-LSH (`minhash_decontaminate`), robust
    to edits BETWEEN the matched regions because winnowing guarantees a
    fingerprint in every w-window.

    Output: (doc_id, eval_id, shared, containment).  ``denom`` picks the
    containment denominator:

    - ``"eval"`` (default): shared / the EVAL doc's fingerprint count —
      the leak that matters is an eval doc living INSIDE a training doc,
      and a long doc quoting a whole short eval doc scores 1.0 here
      (the doc-side ratio would dilute it toward 0);
    - ``"doc"``: shared / the training doc's count — flags training docs
      that are MOSTLY eval material even when no single eval doc is
      fully contained.

    Scale shape: the eval side is model-state sized (eval sets are MBs
    at 100 TB) and BROADCASTS into the posting join against the
    training fingerprint generator; the eval-side denominator is a
    broadcast-sized count, the doc-side one a doc-keyed combine — no
    corpus×corpus relation anywhere."""
    if denom not in ("eval", "doc"):
        raise ValueError(f"denom must be 'eval' or 'doc', got {denom!r}")
    # Callers may hand in the positional winnow_fingerprints output;
    # `shared` counts rows, so a non-distinct relation would multi-count
    # hashes per position and inflate containment past 1.0 — normalize
    # defensively.  ``fingerprints_distinct=True`` is the caller's
    # promise of an already-distinct (doc_id, h) relation (the composed
    # pipeline builds it `.distinct().localCheckpoint()` itself; the
    # redundant exchange is a full corpus shuffle on bulk batches).
    if fingerprints is not None and fingerprints_distinct:
        # may carry a denormalized n_fp column (set-form builders stamp
        # it); the doc-side denominator rides it when present
        doc_fp = fingerprints
    else:
        doc_fp = (
            fingerprints.select("doc_id", "h").distinct()
            if fingerprints is not None
            # set form (r15): distinct by construction (zero shuffle),
            # n_fp stamped row-locally for the denom="doc" ride
            else winnow_fingerprint_sets(
                docs, k=k, w=w, id_col=id_col, text_col=text_col,
                with_count=True,
            )
        )
    # ``eval_fingerprints`` lets a standing caller (the streaming
    # pipeline decontaminating every batch against one static eval set)
    # fingerprint the eval side ONCE instead of per call — the same
    # build-once contract the ``fingerprints`` param gives the doc
    # side.  Expected columns: (eval_id, h); normalized defensively
    # like the doc side.
    # The internally-derived eval fingerprint table is consumed ONCE in
    # the set-form era: n_fp rides with the rows, so the eval-side
    # denominator is min(n_fp) inside the pair aggregate — no second
    # branch, no counts join.  The r15 eager checkpoint here protected a
    # two-branch plan that no longer exists; dropping it removes one
    # blocking pre-action job per composed-pipeline call (r16), and the
    # single broadcast build evaluates the (MB-scale at 100 TB) eval
    # generator exactly once per action that includes this subtree.
    # Standing callers that pass ``eval_fingerprints`` keep their own
    # build-once discipline untouched.
    eval_fp = (
        eval_fingerprints.select("eval_id", "h").distinct()
        if eval_fingerprints is not None
        # set form (r15): distinct by construction, zero-shuffle
        else winnow_fingerprint_sets(
            eval_docs, k=k, w=w, id_col=eval_id_col,
            text_col=eval_text_col, with_count=True,
        ).select(F.col("doc_id").alias("eval_id"), "h", "n_fp")
    )
    # DENORMALIZED DENOMINATORS (r15): when the denominator side carries
    # n_fp on its rows (constant per doc), read it with min() inside the
    # pair aggregate — no counts relation, no join-back.  Sides without
    # n_fp keep the legacy aggregate + join.
    doc_nfp = "n_fp" in doc_fp.columns
    eval_nfp = "n_fp" in eval_fp.columns
    if denom == "eval":
        if eval_nfp:
            ev = eval_fp.select(
                "eval_id", "h", F.col("n_fp").alias("_eval_nfp")
            )
            scored = (
                doc_fp.select("doc_id", "h")
                .join(F.broadcast(ev), "h")
                .groupBy("doc_id", "eval_id")
                .agg(
                    F.count("*").alias("shared"),
                    F.min("_eval_nfp").alias("n_fp"),
                )
            )
        else:
            shared = (
                doc_fp.select("doc_id", "h")
                .join(F.broadcast(eval_fp.select("eval_id", "h")), "h")
                .groupBy("doc_id", "eval_id")
                .agg(F.count("*").alias("shared"))
            )
            cnt = eval_fp.groupBy("eval_id").count().withColumnRenamed(
                "count", "n_fp"
            )
            scored = shared.join(F.broadcast(cnt), "eval_id")
    else:
        if doc_nfp:
            dc = doc_fp.select(
                "doc_id", "h", F.col("n_fp").alias("_doc_nfp")
            )
            scored = (
                dc.join(F.broadcast(eval_fp.select("eval_id", "h")), "h")
                .groupBy("doc_id", "eval_id")
                .agg(
                    F.count("*").alias("shared"),
                    F.min("_doc_nfp").alias("n_fp"),
                )
            )
        else:
            shared = (
                doc_fp.select("doc_id", "h")
                .join(F.broadcast(eval_fp.select("eval_id", "h")), "h")
                .groupBy("doc_id", "eval_id")
                .agg(F.count("*").alias("shared"))
            )
            cnt = doc_fp.groupBy("doc_id").count().withColumnRenamed(
                "count", "n_fp"
            )
            scored = shared.join(cnt, "doc_id")
    return (
        scored.withColumn(
            "containment",
            F.round(F.col("shared") / F.col("n_fp"), 4),
        )
        .where(F.col("containment") >= threshold)
        .select("doc_id", "eval_id", "shared", "containment")
    )
