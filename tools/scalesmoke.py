#!/usr/bin/env python
"""Scale smoke: core operators at 10M+ synthetic datapoints (100x the
bench fixtures) with a deliberately skewed hot series.

Answers the would-it-hold-at-1000x question with measurements instead of
claims: per-operator wall time and rows/s for the LWW slot aggregation,
rollup cascade, routed dense fetch, skew-safe chunked LOCF, and the carbon
aggregator — all over generated data (spark.range, never collected).

Also smokes the training-data ops on a generated document corpus
(SCALE_DOCS, default 200k — 40x the gate fixture): 20% of docs are paired
near-duplicates (48 of 50 tokens shared, shingle-Jaccard ≈ 0.92) so the
MinHash-LSH pipeline and cluster resolution do real pair work, not
empty-result work.

Usage: python tools/scalesmoke.py          [SCALE_ROWS=30000000 to go bigger]
       python tools/scalesmoke.py mixed_fetch     # isolated composition run
       python tools/scalesmoke.py refresh_routed  # isolated composition run
Prints one JSON line per run.  The named modes time ONE composition path in
a fresh session (concurrent Spark jobs skew shared-session timings).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import _cpu_probe_sec
from datayours_spark.kernel.rules import parse_aggregation_rules
from datayours_spark.operators.align import locf_chunked
from datayours_spark.operators.fetch import fetch_grid, lww_slots
from datayours_spark.operators.rollup import carbon_aggregate, rollup
from datayours_spark.session import get_spark

N = int(os.environ.get("SCALE_ROWS", 10_000_000))
N_DOCS = int(os.environ.get("SCALE_DOCS", 200_000))
N_SERIES = 500
T0 = 1_704_067_200


def smoke_prune_policy():
    """``summary_prune`` for the pipeline smokes from $SMOKE_PRUNE:
    "1" (default) -> True (both summary probes unconditional), "0" ->
    False (no summary), "auto" -> the production-default policy (both
    probes gated on the measured m_p crossovers,
    winnowstream.AUTO_BULK_MIN_M_P / AUTO_POINT_MIN_M_P — r14 verdict
    #6)."""
    v = os.environ.get("SMOKE_PRUNE", "1")
    return "auto" if v == "auto" else v == "1"


def synthetic_documents(spark, n_docs: int, boilerplate_pct: int = 0):
    """(doc_id, text) with 50 pseudo-random tokens per doc, fully
    column-expression generated (never collected).  Docs with id % 10 in
    {0, 1} form near-dup PAIRS: both share their family's first 48 tokens
    and keep 2 id-specific tokens, so exact dedup finds nothing but
    shingle-Jaccard ≈ 0.92 puts them squarely above the 0.5 near-dup
    threshold.

    ``boilerplate_pct`` (0-100) makes that share of the corpus ONE identical
    boilerplate document — the adversarial shape that concentrates a single
    fingerprint/band-hash and breaks unguarded LSH self-joins."""
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    family = F.when(
        F.col("doc_id") % 10 < 2, (F.col("doc_id") / 2).cast("bigint") * 2
    ).otherwise(F.col("doc_id"))
    # token j: family-seeded for j < 48, doc-seeded for the last 2.
    # The index formula must be (a) over a prime modulus >> n_docs — a small
    # vocab makes the seed periodic, i.e. seed and seed+vocab yield IDENTICAL
    # docs — and (b) non-linear in BOTH seed and j: a linear form makes doc
    # s2 a Δ-shifted copy of s1 whenever c·(s1−s2) ≡ r·Δ (mod p) lands on a
    # small Δ, which at 200k docs manufactured ~2M spurious near-dup pairs.
    # Quadratic terms kill shifted copies (2qΔ ≡ 0 forces Δ = 0) and cap
    # same-position copies at one mirror seed per doc.
    tok = lambda seed, j: F.concat(
        F.lit("w"),
        (
            (seed * seed + seed * 2_654_435_761 + j * j * 7_919 + j * 104_729)
            % 1_000_003
        ).cast("string"),
    )
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(50)),
        lambda j: F.when(j <= 48, tok(family, j)).otherwise(tok(F.col("doc_id"), j)),
    )
    text = F.concat_ws(" ", toks)
    if boilerplate_pct:
        boiler = " ".join(f"b{j}" for j in range(50))
        text = F.when(
            F.col("doc_id") % 100 < boilerplate_pct, F.lit(boiler)
        ).otherwise(text)
    return base.select("doc_id", text.alias("text"))


def main() -> None:
    # local mode: driver heap is the executor heap — size for the 100M run
    spark = get_spark(
        "datayours-scalesmoke",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )

    # one datapoint per (series, second); 30% of all rows hit ONE hot path —
    # the skew shape that breaks naive per-path processing
    base = spark.range(N)
    dp = base.select(
        F.when(F.col("id") % 10 < 3, F.lit("s.hot"))
        .otherwise(F.concat(F.lit("s.p"), (F.col("id") % N_SERIES).cast("string")))
        .alias("path"),
        (F.lit(T0) + (F.col("id") / N_SERIES).cast("bigint")).alias("ts_sec"),
        (F.lit(T0).cast("bigint") * 1_000_000 + F.col("id")).alias("ts_us"),
        (F.col("id") % 1_000).cast("double").alias("value"),
    )

    timings: dict[str, dict] = {}

    def bench(name: str, df, rows_in: int) -> None:
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
        timings[name] = {
            "sec": round(dt, 2),
            "rows_in": rows_in,
            "rows_per_sec": int(rows_in / dt),
        }

    bench("lww_slots_60s", lww_slots(dp, 60), N)
    fine = lww_slots(dp, 60)
    bench("rollup_60s_to_1h", rollup(fine, 60, 3_600, "average", 0.5), N)
    span = N // N_SERIES  # seconds of data generated
    bench(
        "fetch_one_series_1day",
        fetch_grid(spark, dp, "s.p7", T0 + span // 2, T0 + span // 2 + 86_400, 60),
        N,
    )
    # skewed LOCF: the hot series alone is ~30% of all rows
    hot = lww_slots(dp.where(F.col("path") == "s.hot"), 60)
    bench("locf_chunked_hot_series", locf_chunked(hot, chunk_span=3_600 * 24), N // 3)
    rules = parse_aggregation_rules("agg.all (600) = sum s.*")
    bench("carbon_aggregate_600s", carbon_aggregate(dp, rules), N)

    # approx-vs-exact profile aggregates in the regime that matters: a
    # HIGH-CARDINALITY distinct key (~N/3 unique "users").  Exact distinct
    # must shuffle one row per (group, user) pair — volume grows with the
    # user universe; HLL shuffles a fixed register block per group.  The
    # percentile pair is the same trade: exact buffers every value per
    # group, the t-digest sketch holds bounded state.  (With a tiny key
    # universe the exact paths win — measured — which is why the exact
    # variants stay the default and approx is the documented scale dial.)
    day = (F.col("ts_sec") - F.col("ts_sec") % 86_400).alias("day_sec")
    user = F.pmod(F.xxhash64("id"), F.lit(10_000_000)).alias("user")
    # continuous value domain: exact percentile's counts-map degenerates
    # to one entry per ROW (the real shape of latency/size columns), while
    # the t-digest sketch keeps bounded state per group
    du = dp.withColumn("id", F.monotonically_increasing_id()).select(
        day,
        user,
        (
            F.col("value")
            + F.pmod(F.xxhash64("ts_us"), F.lit(1_000_000)) / 1e6
        ).alias("value"),
    )
    bench(
        "daily_active_exact_distinct_hi_card",
        du.groupBy("day_sec").agg(
            F.count_distinct("user").alias("n"), F.count("*").alias("e")
        ),
        N,
    )
    bench(
        "daily_active_hll_hi_card",
        du.groupBy("day_sec").agg(
            F.approx_count_distinct("user").alias("n"), F.count("*").alias("e")
        ),
        N,
    )
    # the exact path is run on a 10% slice: at full N it measured 361 s vs
    # the sketch's 10 s (35x) — rows/s carries the comparison without
    # spending six minutes proving the losing side
    du_slice = du.where(F.pmod(F.xxhash64("user"), F.lit(10)) == 0)
    bench(
        "quantile_exact_percentile_10pct",
        du_slice.groupBy("day_sec").agg(
            F.percentile("value", 0.5).alias("p50"),
            F.percentile("value", 0.9).alias("p90"),
        ),
        N // 10,
    )
    bench(
        "quantile_approx_tdigest",
        du.groupBy("day_sec").agg(
            F.percentile_approx("value", 0.5, 10_000).alias("p50"),
            F.percentile_approx("value", 0.9, 10_000).alias("p90"),
        ),
        N,
    )
    # as-of resample: every series onto a 1h grid across the full span —
    # the union-merge + per-path LOCF window over ALL rows
    from datayours_spark.operators.align import asof_resample

    samples = dp.select("path", "ts_sec", "value")
    bench(
        "asof_resample_all_series_1h",
        asof_resample(spark, samples, T0, T0 + span, 3_600),
        N,
    )

    # ---- training-data ops over a generated document corpus ----
    from datayours_spark.functions.dedup import (
        dup_clusters,
        exact_dedup,
        minhash_dedup,
        simhash32,
        simhash_neardup,
    )
    from datayours_spark.functions.text import text_profile

    # materialize the corpus to parquet and read it back: joins over a
    # bare spark.range lineage carry no size stats, so AQE broadcasts the
    # 200k-doc token-set side and OOMs the driver — with file-backed input
    # the planner sees real sizes and picks shuffle joins, exactly as it
    # would on a real corpus
    import shutil
    import tempfile

    docs_dir = tempfile.mkdtemp(prefix="scalesmoke_docs_", dir="/root/repo/spark-warehouse")
    synthetic_documents(spark, N_DOCS).write.mode("overwrite").parquet(docs_dir)
    docs = spark.read.parquet(docs_dir)
    doc_timings: dict[str, dict] = {}

    def dbench(name: str, df) -> None:
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
        doc_timings[name] = {
            "sec": round(dt, 2),
            "docs": N_DOCS,
            "docs_per_sec": int(N_DOCS / dt),
        }

    dbench("text_profile", text_profile(docs))
    dbench("exact_dedup", exact_dedup(docs))
    dbench("simhash32", simhash32(docs))
    dbench("simhash_neardup", simhash_neardup(docs))
    dbench("minhash_lsh_neardup", minhash_dedup(docs))

    # round-4 session ops over the same 200k docs
    from datayours_spark.functions.dedup import minhash_decontaminate
    from datayours_spark.functions.sampling import shard_balance
    from datayours_spark.functions.text import bigram_logprob

    dbench("shard_balance_64shards", shard_balance(docs, n_shards=64))
    dbench("bigram_logprob", bigram_logprob(docs))
    # eval side = 1% of the corpus (eval benchmarks are small by
    # construction); the train side streams once, the eval side broadcasts
    is_eval = F.pmod(F.xxhash64("doc_id"), F.lit(100)) == 0
    dbench(
        "fuzzy_decontaminate_1pct_eval",
        minhash_decontaminate(docs.where(~is_eval), docs.where(is_eval)),
    )

    # span-level dedup on the ADVERSARIAL corpus below (30% share ONE
    # boilerplate text): the posting-list pipeline's cost must follow
    # occurrence counts, not bucket² — the hot shingles each have 0.3·N
    # postings but only feed a count aggregate and an equi-join
    from datayours_spark.functions.dedup import remove_spans, repeated_spans

    # ---- hot-bucket guard under an adversarial (boilerplate) corpus ----
    # 30% of docs are ONE identical document: unguarded banded self-joins
    # would put 0.3·N docs in one bucket (0.045·N² pairs — hours); the
    # collapsed form must stay within ~2× of the uniform corpus's time.
    from datayours_spark.functions.dedup import (
        lsh_collapsed_candidates,
        minhash_signatures,
        simhash_collapsed_neardup,
    )

    adv_dir = tempfile.mkdtemp(
        prefix="scalesmoke_adv_", dir="/root/repo/spark-warehouse"
    )
    synthetic_documents(spark, N_DOCS, boilerplate_pct=30).write.mode(
        "overwrite"
    ).parquet(adv_dir)
    adv_docs = spark.read.parquet(adv_dir)

    def collapsed_bench(name: str, docs_df) -> float:
        t = time.perf_counter()
        members, rep_pairs = simhash_collapsed_neardup(docs_df)
        members.write.format("noop").mode("overwrite").save()
        rep_pairs.write.format("noop").mode("overwrite").save()
        sigs = minhash_signatures(docs_df, k=20)
        m2, rp2 = lsh_collapsed_candidates(sigs, 5, 4)
        m2.write.format("noop").mode("overwrite").save()
        rp2.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
        doc_timings[name] = {
            "sec": round(dt, 2),
            "docs": N_DOCS,
            "docs_per_sec": int(N_DOCS / dt),
        }
        return dt

    def span_bench(name: str, docs_df) -> None:
        t = time.perf_counter()
        repeated_spans(docs_df, k=8, min_span=12).write.format("noop").mode(
            "overwrite"
        ).save()
        remove_spans(docs_df, k=8, min_span=12).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t
        doc_timings[name] = {
            "sec": round(dt, 2),
            "docs": N_DOCS,
            "docs_per_sec": int(N_DOCS / dt),
        }

    span_bench("span_dedup_and_removal_uniform", docs)
    span_bench("span_dedup_and_removal_boilerplate_30pct", adv_docs)

    t_uniform = collapsed_bench("collapsed_neardup_uniform", docs)
    t_adv = collapsed_bench("collapsed_neardup_adversarial_30pct", adv_docs)
    doc_timings["adversarial_over_uniform_ratio"] = {
        "ratio": round(t_adv / t_uniform, 2)
    }

    # ---- PII scrub + URL extraction: must run at scan speed ------------
    # plant matches in ~1/5 of docs (the review-noted honest-throughput
    # shape): replacement writes and per-URL explode rows do real work
    from datayours_spark.functions.text import pii_scrub, url_domains

    pii_docs = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" u"), F.col("doc_id").cast("string"),
                    F.lit("@ex.org 10.1.2.3 https://d"),
                    (F.col("doc_id") % 97).cast("string"),
                    F.lit(".example.net/p"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    dbench("pii_scrub_planted_20pct", pii_scrub(pii_docs))
    dbench(
        "url_domain_stats_planted_20pct",
        url_domains(pii_docs).groupBy("domain").count(),
    )

    # ---- guarded n-gram jaccard: planted corpus-hot shingle ------------
    # Every doc shares one leading 3-token phrase, so ONE shingle has
    # df = N_DOCS: the unguarded inverted-index join would generate
    # N_DOCS² pairs from that single posting list.  With df_cap the hot
    # shingle leaves the join (cost <= cap x postings) and the hot-heavy
    # set is EMPTY (1 hot of ~50 shingles per doc << threshold) — runtime
    # must stay in the same regime as the near-dup passes above.
    from datayours_spark.functions.dedup import (
        ExpandedPairsTooLarge,
        ngram_jaccard_pairs,
    )

    hot_docs = docs.select(
        "doc_id",
        F.concat(F.lit("hdr mid tail "), F.col("text")).alias("text"),
        F.lit("en").alias("lang"), F.lit("web").alias("source"),
    )
    dbench(
        "ngram_jaccard_guarded_planted_hot_shingle",
        ngram_jaccard_pairs(hot_docs, threshold=0.5, df_cap=1_000),
    )
    # the 30%-boilerplate corpus makes 0.3·N docs hot-heavy (their text IS
    # hot shingles): the pair-volume guard must FAIL FAST — measured as
    # time-to-trip, which stays at aggregation cost, never pair cost
    adv_b = adv_docs.select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
    )
    t = time.perf_counter()
    try:
        ngram_jaccard_pairs(
            adv_b, threshold=0.5, df_cap=1_000,
            max_hot_heavy_pairs=10_000_000,
        ).write.format("noop").mode("overwrite").save()
        doc_timings["ngram_jaccard_guard_trip_boilerplate_30pct"] = {
            "sec": round(time.perf_counter() - t, 2), "tripped": False,
        }
    except ExpandedPairsTooLarge:
        doc_timings["ngram_jaccard_guard_trip_boilerplate_30pct"] = {
            "sec": round(time.perf_counter() - t, 2), "tripped": True,
        }

    # ---- ANN at scale: PQ vs brute force over synthetic embeddings ----
    # N_VECS 64-dim vectors (md5-derived, never collected).  The claim to
    # verify: PQ candidate scoring reads m-byte codes + one norm, so its
    # per-query cost stays flat where brute force scales with N x d.
    from datayours_spark.functions.similarity import (
        cosine_topk,
        ivfpq_topk,
        kmeans_centroids,
        pq_codebooks,
    )

    n_vecs = int(os.environ.get("SCALE_VECS", 200_000))
    emb_dir = tempfile.mkdtemp(
        prefix="scalesmoke_emb_", dir="/root/repo/spark-warehouse"
    )
    dim = 64
    vec_expr = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.pmod(
                F.xxhash64(F.concat(F.col("id").cast("string"), F.lit("_"), d.cast("string"))),
                F.lit(2001),
            )
            - 1000
        )
        / 1000.0,
    )
    (
        spark.range(n_vecs)
        .select(F.col("id").alias("vec_id"), vec_expr.alias("embedding"))
        .write.mode("overwrite")
        .parquet(emb_dir)
    )
    emb_big = spark.read.parquet(emb_dir)
    ann_timings: dict[str, dict] = {}

    t = time.perf_counter()
    cent = kmeans_centroids(emb_big, k=8, iters=2)
    ann_timings["kmeans_coarse_2iter"] = {
        "sec": round(time.perf_counter() - t, 2), "vecs": n_vecs,
    }
    t = time.perf_counter()
    books = pq_codebooks(emb_big, m=4, ks=16, iters=2, dim=dim)
    ann_timings["pq_codebooks_2iter"] = {
        "sec": round(time.perf_counter() - t, 2), "vecs": n_vecs,
    }
    # index build (encode + assignment) happens ONCE at ingest in
    # production — codes are the stored m-byte payload; searches read them
    from datayours_spark.functions.similarity import ivf_assign, pq_encode

    t = time.perf_counter()
    codes_dir = emb_dir + "_codes"
    assign_dir = emb_dir + "_assign"
    # expand_dots on the encode scan: literal dots render as scalar
    # arithmetic — measured 2.5-4x faster than the fold at this scale
    # (A/B in similarity._lit_dot_sql); training keeps the fold, which
    # A/B'd faster there
    pq_encode(emb_big, books, dim, expand_dots=True).write.mode(
        "overwrite"
    ).parquet(codes_dir)
    ivf_assign(emb_big, cent).write.mode("overwrite").parquet(assign_dir)
    ann_timings["pq_index_build_encode_assign"] = {
        "sec": round(time.perf_counter() - t, 2), "vecs": n_vecs,
    }
    codes_df = spark.read.parquet(codes_dir)
    assign_df = spark.read.parquet(assign_dir)
    t = time.perf_counter()
    ivfpq_topk(
        emb_big, [0, 1, 2, 3, 4], 10, cent, books, dim,
        codes=codes_df, assignments=assign_df,
    ).write.format("noop").mode("overwrite").save()
    ann_timings["ivfpq_search_5q_prebuilt_index"] = {
        "sec": round(time.perf_counter() - t, 2), "vecs": n_vecs,
    }
    # two-stage: ADC shortlist of 100 -> exact re-rank reads 5x100 full
    # vectors (broadcast shortlist), the production retrieval shape
    from datayours_spark.functions.similarity import ivfpq_rerank_topk

    t = time.perf_counter()
    ivfpq_rerank_topk(
        emb_big, [0, 1, 2, 3, 4], 10, cent, books, dim, shortlist=100,
        codes=codes_df, assignments=assign_df,
    ).write.format("noop").mode("overwrite").save()
    ann_timings["ivfpq_rerank_5q_shortlist100"] = {
        "sec": round(time.perf_counter() - t, 2), "vecs": n_vecs,
    }
    t = time.perf_counter()
    cosine_topk(emb_big, [0, 1, 2, 3, 4], 10).write.format("noop").mode(
        "overwrite"
    ).save()
    ann_timings["brute_cosine_5q"] = {
        "sec": round(time.perf_counter() - t, 2), "vecs": n_vecs,
    }
    # recall@10 at scale: the quality number next to the wall-clock ones
    # (both result sets are 5x10 rows — driver-size).  The synthetic
    # corpus is structureless (hash-derived vectors have no cluster
    # structure), so this is the HARD regime for a 1-probe IVF — real
    # embedding corpora cluster and recall improves; the re-rank line
    # shows what the shortlist recovers on the same index.
    truth = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb_big, [0, 1, 2, 3, 4], 10).collect()
    }
    for label, got_df in (
        (
            "ivfpq",
            ivfpq_topk(
                emb_big, [0, 1, 2, 3, 4], 10, cent, books, dim,
                codes=codes_df, assignments=assign_df,
            ),
        ),
        (
            "ivfpq_rerank100",
            ivfpq_rerank_topk(
                emb_big, [0, 1, 2, 3, 4], 10, cent, books, dim,
                shortlist=100, codes=codes_df, assignments=assign_df,
            ),
        ),
    ):
        got = {(r["query_id"], r["vec_id"]) for r in got_df.collect()}
        ann_timings[f"recall_at_10_{label}"] = {
            "recall": round(len(got & truth) / len(truth), 3), "vecs": n_vecs,
        }
    # ---- index lifecycle: persist -> load -> append -> search ----------
    # The production shape (annindex.py): the index is cluster-partitioned
    # parquet; a probe-limited search must read ONLY the probed clusters'
    # partitions (partition pruning = the inverted-list seek), and an
    # append touches only the clusters the batch lands in.  Persist reuses
    # the codes/assignments already materialized above — encode/assign
    # cost is the pq_index_build_encode_assign line; this line measures
    # the join + cluster-partitioned layout write itself.
    from datayours_spark.functions.annindex import (
        append_to_ann_index,
        load_ann_index,
        save_ann_index,
    )

    idx_dir = tempfile.mkdtemp(
        prefix="scalesmoke_idx_", dir="/root/repo/spark-warehouse"
    )
    t = time.perf_counter()
    save_ann_index(
        idx_dir,
        cent,
        books,
        codes_df,
        assign_df,
        {"dim": dim, "m": 4, "ks": 16, "k": 8, "residual": False},
    )
    ann_timings["index_persist"] = {
        "sec": round(time.perf_counter() - t, 2), "vecs": n_vecs,
    }
    batch_n = max(n_vecs // 100, 1)
    batch = spark.range(n_vecs, n_vecs + batch_n).select(
        F.col("id").alias("vec_id"), vec_expr.alias("embedding")
    )
    t = time.perf_counter()
    append_to_ann_index(idx_dir, batch)
    ann_timings["index_append_1pct"] = {
        "sec": round(time.perf_counter() - t, 2), "batch": batch_n,
    }
    t = time.perf_counter()
    idx = load_ann_index(spark, idx_dir)
    full = spark.read.parquet(emb_dir).unionByName(batch)
    searched = ivfpq_topk(
        full, [0, 1, 2, 3, 4], 10, idx["centroids"], idx["codebooks"], dim,
        codes=idx["codes"], assignments=idx["assignments"],
    )
    got_after = {
        (r["query_id"], r["vec_id"]) for r in searched.collect()
    }
    ann_timings["index_search_after_append"] = {
        "sec": round(time.perf_counter() - t, 2),
        "vecs": n_vecs + batch_n,
        "rows": len(got_after),
        # appended vectors are visible to the loaded index (vec_ids past
        # the build range can appear); the persisted index returns the
        # same top-10 recall as the in-memory one did above
        "recall_vs_exact": round(len(got_after & truth) / len(truth), 3),
    }
    # the candidates-read-codes-only claim, checked from the plan: the
    # stored codes scan prunes to the probed cluster partitions
    idx_plan = searched._jdf.queryExecution().executedPlan().toString()
    ann_timings["index_search_partition_pruned"] = {
        "pruned": "PartitionFilters" in idx_plan and "cluster" in idx_plan,
    }
    shutil.rmtree(idx_dir, ignore_errors=True)
    shutil.rmtree(codes_dir, ignore_errors=True)
    shutil.rmtree(assign_dir, ignore_errors=True)

    # the same pipeline on CLUSTERED vectors — the shape real embedding
    # corpora have (planted centers + noise).  Exact top-10 inside a
    # planted cluster is decided by noise far below PQ resolution (every
    # same-center vector is a near-tie), so the meaningful quality metric
    # here is CENTER PURITY: does retrieval land in the query's planted
    # cluster?  That must be ~1.0 — it isolates the low structureless
    # top-10 number above as a data property, not a pipeline defect.
    nc_vecs = min(n_vecs, 100_000)
    center = F.pmod(F.col("id"), F.lit(32))
    cvec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.pmod(
                F.xxhash64(F.concat(center.cast("string"), F.lit("c"), d.cast("string"))),
                F.lit(2001),
            )
            - 1000
        )
        / 1000.0,
    )
    noise = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.pmod(
                F.xxhash64(F.concat(F.col("id").cast("string"), F.lit("n"), d.cast("string"))),
                F.lit(2001),
            )
            - 1000
        )
        / 5000.0,
    )
    cl_dir = tempfile.mkdtemp(
        prefix="scalesmoke_embc_", dir="/root/repo/spark-warehouse"
    )
    (
        spark.range(nc_vecs)
        .select(
            F.col("id").alias("vec_id"),
            F.zip_with(cvec, noise, lambda a, b: a + b).alias("embedding"),
        )
        .write.mode("overwrite").parquet(cl_dir)
    )
    emb_cl = spark.read.parquet(cl_dir)
    cent_cl = kmeans_centroids(emb_cl, k=8, iters=2)
    books_cl = pq_codebooks(emb_cl, m=4, ks=16, iters=2, dim=dim)
    got_cl = [
        (r["query_id"], r["vec_id"])
        for r in ivfpq_rerank_topk(
            emb_cl, [0, 1, 2, 3, 4], 10, cent_cl, books_cl, dim,
            shortlist=100, nprobe=2,
        ).collect()
    ]
    purity = sum(1 for q, v in got_cl if v % 32 == q % 32) / max(len(got_cl), 1)
    ann_timings["center_purity_clustered_rerank100_probe2"] = {
        "purity": round(purity, 3), "vecs": nc_vecs, "retrieved": len(got_cl),
    }
    shutil.rmtree(cl_dir, ignore_errors=True)

    # SemDeDup cost shape at scale: within-cluster pairwise only — cost is
    # sum of cluster-size squares, so what matters is the CLUSTER SIZE
    # DISTRIBUTION, not which quantizer produced it.  The paper's regime is
    # k ~ sqrt(N) clusters; a hash stand-in assignment reproduces exactly
    # those sizes (uniform N/k) without training a 1024-centroid literal
    # argmax, so the measured join/dot cost is the deployment's.
    from datayours_spark.functions.similarity import semdedup

    sem_k = int(os.environ.get("SCALE_SEMDEDUP_CLUSTERS", 1024))
    sem_assign = spark.read.parquet(emb_dir).select(
        "vec_id", F.pmod(F.xxhash64("vec_id"), F.lit(sem_k)).cast("int").alias("cluster")
    )
    dummy_cent = spark.createDataFrame(
        [(0, [0.0] * dim, 1.0)], "centroid_id int, cv array<double>, cnorm double"
    )
    t = time.perf_counter()
    semdedup(
        emb_big, dummy_cent, tau=0.9, assignments=sem_assign,
        max_cluster=10 * (n_vecs // sem_k),
    ).write.format("noop").mode("overwrite").save()
    ann_timings[f"semdedup_{sem_k}clusters"] = {
        "sec": round(time.perf_counter() - t, 2), "vecs": n_vecs,
        "pairs_order": int(sem_k * (n_vecs / sem_k) ** 2 / 2),
    }
    shutil.rmtree(emb_dir, ignore_errors=True)
    doc_timings["ann"] = ann_timings

    # ---- guarded cosine near-dup: exact-duplicate-heavy corpus ---------
    # The image-dedup regime: 30% of vectors are BIT-IDENTICAL copies of
    # 1,000 templates (one logo repeated everywhere).  The unguarded
    # bucket self-join is quadratic in copies; the collapse guard joins
    # DISTINCT vectors only, so the dup-heavy corpus must run in the same
    # regime as an all-distinct one (ratio line).  A single 30%-wide group
    # must FAIL FAST at the expansion guard (time-to-trip = aggregation
    # cost), and a pathological bucket concentration at the hot-bucket
    # guard.
    from datayours_spark.functions.similarity import (
        HotBucketPairsTooLarge,
        cosine_neardup,
        cosine_neardup_collapsed,
    )

    def _nd_vec(key_col):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: (
                F.pmod(
                    F.xxhash64(
                        F.concat(key_col.cast("string"), F.lit("nd"), d.cast("string"))
                    ),
                    F.lit(2001),
                )
                - 1000
            )
            / 1000.0,
        )

    nd_timings: dict[str, dict] = {}
    nd_secs: dict[str, float] = {}
    dup_key = F.when(
        F.pmod(F.col("id"), F.lit(10)) < 3, F.pmod(F.col("id"), F.lit(1000))
    ).otherwise(F.col("id") + F.lit(1_000_000_000))
    for label, key in (
        ("uniform", F.col("id")),
        ("dupheavy_30pct_1000groups", dup_key),
    ):
        nd_dir = tempfile.mkdtemp(
            prefix="scalesmoke_nd_", dir="/root/repo/spark-warehouse"
        )
        (
            spark.range(n_vecs)
            .select(F.col("id").alias("vec_id"), _nd_vec(key).alias("embedding"))
            .write.mode("overwrite")
            .parquet(nd_dir)
        )
        nd = spark.read.parquet(nd_dir)
        t = time.perf_counter()
        members, rep_pairs = cosine_neardup_collapsed(
            nd, n_planes=20, threshold=0.9, dim=dim
        )
        members.write.format("noop").mode("overwrite").save()
        rep_pairs.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
        nd_secs[label] = dt
        nd_timings[f"collapsed_neardup_{label}"] = {
            "sec": round(dt, 2), "vecs": n_vecs,
            "vecs_per_sec": int(n_vecs / dt),
        }
        shutil.rmtree(nd_dir, ignore_errors=True)
    nd_timings["dupheavy_over_uniform_ratio"] = {
        "ratio": round(
            nd_secs["dupheavy_30pct_1000groups"] / nd_secs["uniform"], 2
        )
    }
    # one 30%-wide identical group: the explicit-pair expansion must trip
    # ExpandedPairsTooLarge from the linear members aggregation, never
    # starting the quadratic expansion
    wide_key = F.when(
        F.pmod(F.col("id"), F.lit(10)) < 3, F.lit(0)
    ).otherwise(F.col("id") + F.lit(1_000_000_000))
    wide = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"), _nd_vec(wide_key).alias("embedding")
    )
    t = time.perf_counter()
    try:
        cosine_neardup(
            wide, n_planes=20, threshold=0.9, dim=dim
        ).write.format("noop").mode("overwrite").save()
        nd_timings["expand_guard_trip_30pct_one_group"] = {
            "sec": round(time.perf_counter() - t, 2), "tripped": False,
        }
    except ExpandedPairsTooLarge:
        nd_timings["expand_guard_trip_30pct_one_group"] = {
            "sec": round(time.perf_counter() - t, 2), "tripped": True,
        }
    # hot-bucket fail-fast: tiny pair budget trips at bucket-count cost
    t = time.perf_counter()
    try:
        cosine_neardup_collapsed(
            spark.range(n_vecs).select(
                F.col("id").alias("vec_id"), _nd_vec(F.col("id")).alias("embedding")
            ),
            n_planes=4, threshold=0.9, dim=dim, max_bucket_pairs=1_000,
        )
        nd_timings["hot_bucket_guard_trip"] = {
            "sec": round(time.perf_counter() - t, 2), "tripped": False,
        }
    except HotBucketPairsTooLarge:
        nd_timings["hot_bucket_guard_trip"] = {
            "sec": round(time.perf_counter() - t, 2), "tripped": True,
        }
    doc_timings["cosine_neardup_guard"] = nd_timings

    # last: dup_clusters pins localCheckpoint RDD blocks in executor memory
    # for the rest of the session, which skews any timing run after it
    t = time.perf_counter()
    n_clustered = dup_clusters(minhash_dedup(docs)).count()
    doc_timings["dup_clusters"] = {
        "sec": round(time.perf_counter() - t, 2),
        "docs": N_DOCS,
        "clustered_docs": n_clustered,
    }

    shutil.rmtree(adv_dir, ignore_errors=True)
    shutil.rmtree(docs_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "scale smoke (synthetic datapoints + documents)",
                "rows": N,
                "series": N_SERIES + 1,
                "ops": timings,
                "docs": N_DOCS,
                "doc_ops": doc_timings,
            }
        )
    )
    spark.stop()


def _scale_datapoints(spark, spread: int = 1):
    """The main run's synthetic shape: N rows over 500 series + one hot
    path taking 30% of all rows.  `spread` stretches the per-series sample
    interval (seconds) so the same row count covers `spread`× the span —
    used by the refresh smoke to cross date-partition boundaries."""
    base = spark.range(N)
    return base.select(
        F.when(F.col("id") % 10 < 3, F.lit("s.hot"))
        .otherwise(F.concat(F.lit("s.p"), (F.col("id") % N_SERIES).cast("string")))
        .alias("path"),
        (F.lit(T0) + (F.col("id") / N_SERIES).cast("bigint") * spread)
        .alias("ts_sec"),
        (F.lit(T0).cast("bigint") * 1_000_000 + F.col("id")).alias("ts_us"),
        (F.col("id") % 1_000).cast("double").alias("value"),
    )


def smoke_mixed_fetch() -> None:
    """Isolated: single-pass mixed-timebase fetch (plans/router.mixed_fetch)
    over the full synthetic table — three retention specs, one scan, per-row
    cascade hops, mixed output cadences."""
    spark = get_spark(
        "scalesmoke-mixed",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.kernel.rules import rule_engine_from_confs
    from datayours_spark.plans.router import mixed_fetch

    dp = _scale_datapoints(spark)
    span = N // N_SERIES
    now = T0 + span
    engine = rule_engine_from_confs(
        schemas_conf="""
[fine-short]
pattern = ^s\\.p[0-3]
retentions = 1m:1h,10m:1d

[fine-long]
pattern = ^s\\.hot
retentions = 1m:6h,1h:1d

[default]
pattern = .
retentions = 10m:1d
""",
        aggregation_conf="""
[hot]
pattern = ^s\\.hot
xFilesFactor = 0
aggregationMethod = max
""",
    )
    paths = ["s.hot"] + [f"s.p{i}" for i in range(N_SERIES)]
    # 3h-old window: past the 1m:1h archives (those specs cascade to their
    # 10m level) but inside s.hot's 1m:6h (served at 1m) — mixed cadences
    t = time.perf_counter()
    out = mixed_fetch(spark, dp, engine, paths, now - 3 * 3_600, now, now)
    out.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t
    steps = sorted(
        r["step"] for r in out.select("step").distinct().collect()
    )
    print(
        json.dumps(
            {
                "metric": "scale smoke: single-pass mixed_fetch",
                "rows": N,
                "paths": len(paths),
                "distinct_steps": steps,
                "sec": round(dt, 2),
                "rows_per_sec": int(N / dt),
            }
        )
    )
    spark.stop()


def smoke_refresh_routed() -> None:
    """Isolated: rollup maintenance with per-series method/xff dispatch
    (IngestPipeline.refresh_rollups with a rule engine) — full refresh and
    a one-date incremental over a date-partitioned 30M-row table."""
    import shutil
    import tempfile

    spark = get_spark(
        "scalesmoke-refresh",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.kernel.rules import rule_engine_from_confs
    from datayours_spark.streaming.ingest import IngestPipeline

    out_root = tempfile.mkdtemp(
        prefix="scalesmoke_refresh_", dir="/root/repo/spark-warehouse"
    )
    # 7s per-series cadence → ~5 days of data → real date partitions for
    # the incremental (one changed date out of several)
    dp = (
        _scale_datapoints(spark, spread=7)
        .withColumn("batch_seq", F.lit(0))
        .withColumn("date", F.to_date(F.timestamp_seconds("ts_sec")))
    )
    (
        dp.repartition("date")
        .write.mode("overwrite")
        .partitionBy("date")
        .parquet(f"{out_root}/datapoints")
    )
    engine = rule_engine_from_confs(
        aggregation_conf="""
[hot]
pattern = ^s\\.hot
xFilesFactor = 0
aggregationMethod = max

[evens]
pattern = ^s\\.p\\d*[02468]$
xFilesFactor = 0.2
aggregationMethod = sum
"""
    )
    pipe = IngestPipeline(
        spark=spark,
        input_dir=out_root,  # unused by refresh
        output_dir=out_root,
        checkpoint_dir=out_root,
        rollup_steps=(60, 3_600),
        rule_engine=engine,
    )
    t = time.perf_counter()
    levels = pipe.refresh_rollups()
    full_sec = time.perf_counter() - t
    level_rows = {step: df.count() for step, df in levels.items()}

    dates = sorted(
        r["date"].isoformat()
        for r in spark.read.parquet(f"{out_root}/datapoints")
        .select("date").distinct().collect()
    )
    t = time.perf_counter()
    pipe.refresh_rollups(changed_dates=[dates[0]])
    incr_sec = time.perf_counter() - t
    print(
        json.dumps(
            {
                "metric": "scale smoke: routed rollup maintenance",
                "rows": N,
                "series": N_SERIES + 1,
                "full_refresh_sec": round(full_sec, 2),
                "full_rows_per_sec": int(N / full_sec),
                "level_rows": level_rows,
                "incremental_one_date_sec": round(incr_sec, 2),
                "dates": len(dates),
            }
        )
    )
    shutil.rmtree(out_root, ignore_errors=True)
    spark.stop()


def smoke_banded() -> None:
    """Isolated: banded (OR-amplified) cosine near-dup vs the
    single-signature path at SCALE_VECS, with PLANTED near-dup pairs —
    every odd id is its even predecessor plus ~1/15-amplitude noise
    (cos ≈ 0.998), so the ground truth is known and RECALL is measured,
    not asserted.  At that angle one 20-plane signature catches ~65% of
    planted pairs; 3 OR-ed bands of the same selectivity ~96% — the
    banded pair set is a strict superset (band 0 IS the single
    signature's plane slice) at ~n_bands× the blocking cost."""
    import shutil
    import tempfile

    spark = get_spark(
        "scalesmoke-banded",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.similarity import (
        cosine_neardup,
        cosine_neardup_banded,
    )

    n_vecs = int(os.environ.get("SCALE_VECS", 200_000))
    dim = 64
    anchor = (F.col("id") - F.pmod(F.col("id"), F.lit(2))).cast("string")
    base = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.pmod(
                F.xxhash64(F.concat(anchor, F.lit("nd"), d.cast("string"))),
                F.lit(2001),
            )
            - 1000
        )
        / 1000.0,
    )
    noise = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.when(
            F.pmod(F.col("id"), F.lit(2)) == 1,
            (
                F.pmod(
                    F.xxhash64(
                        F.concat(F.col("id").cast("string"), F.lit("nz"), d.cast("string"))
                    ),
                    F.lit(2001),
                )
                - 1000
            )
            / 15000.0,
        ).otherwise(F.lit(0.0)),
    )
    nd_dir = tempfile.mkdtemp(
        prefix="scalesmoke_band_", dir="/root/repo/spark-warehouse"
    )
    (
        spark.range(n_vecs)
        .select(
            F.col("id").alias("vec_id"),
            F.zip_with(base, noise, lambda a, b: a + b).alias("embedding"),
        )
        .write.mode("overwrite")
        .parquet(nd_dir)
    )
    nd = spark.read.parquet(nd_dir)
    # warm the session (codegen, shuffle machinery) so run order doesn't
    # bill the first measured pipeline the one-time setup
    cosine_neardup(nd.limit(2_000), n_planes=20, threshold=0.9, dim=dim).count()

    def _planted_recall(pairs_df) -> float:
        caught = (
            pairs_df.where(
                (F.col("id2") == F.col("id1") + 1)
                & (F.pmod(F.col("id1"), F.lit(2)) == 0)
            ).count()
        )
        return round(caught / (n_vecs // 2), 4)

    out: dict[str, dict] = {}
    t = time.perf_counter()
    single = cosine_neardup(nd, n_planes=20, threshold=0.9, dim=dim)
    single.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t
    out["single_20planes"] = {
        "sec": round(dt, 2), "vecs": n_vecs,
        "planted_recall": _planted_recall(single),
    }
    t = time.perf_counter()
    banded = cosine_neardup_banded(
        nd, n_planes=20, n_bands=3, threshold=0.9, dim=dim
    )
    banded.write.format("noop").mode("overwrite").save()
    dt_b = time.perf_counter() - t
    out["banded_3x20planes"] = {
        "sec": round(dt_b, 2), "vecs": n_vecs,
        "planted_recall": _planted_recall(banded),
        "over_single_ratio": round(dt_b / dt, 2),
    }
    shutil.rmtree(nd_dir, ignore_errors=True)
    print(json.dumps({"metric": "banded cosine near-dup smoke", "ops": out}))
    spark.stop()


def smoke_edit_verify() -> None:
    """Isolated: the Levenshtein verify stage over MinHash-LSH candidates
    at SCALE_DOCS, with PLANTED near-dup pairs (synthetic_documents pairs
    ids f/f+1 for f%10==0: 48 of 50 tokens shared, so edit_sim ≈ 0.96 ≫
    the 0.6 gate) — measures candidate count, verified count, planted
    recall, and verify-stage pair throughput.  The claim under test:
    stage cost is LINEAR in candidates (prefix-capped per-pair work),
    so pairs/s should hold as SCALE_DOCS grows."""
    spark = get_spark(
        "scalesmoke-editverify",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.dedup import (
        edit_verified_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = synthetic_documents(spark, N_DOCS).localCheckpoint(eager=True)
    sigs = minhash_signatures(docs, k=20)
    t0 = time.time()
    cand = lsh_candidate_pairs(
        sigs, bands=5, rows=4, collapse_identical=True
    ).localCheckpoint(eager=True)
    n_cand = cand.count()
    dt_cand = time.time() - t0

    t0 = time.time()
    ver = edit_verified_pairs(cand, docs, threshold=0.6).localCheckpoint(eager=True)
    n_ver = ver.count()
    dt_ver = time.time() - t0

    planted = docs.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id1"), (F.col("doc_id") + 1).alias("id2")
    )
    n_planted = planted.count()
    hit = ver.join(planted, ["id1", "id2"], "left_semi").count()

    out = {
        "n_docs": N_DOCS,
        "candidates": n_cand,
        "candidate_s": round(dt_cand, 1),
        "verified": n_ver,
        "verify_s": round(dt_ver, 1),
        "verify_pairs_per_s": int(n_cand / max(dt_ver, 1e-9)),
        "planted_recall": round(hit / max(n_planted, 1), 4),
    }
    print(json.dumps({"metric": "edit-distance verify smoke", "ops": out}))
    spark.stop()


def smoke_incremental() -> None:
    """Isolated: the round-6 incremental embedding family at SCALE_VECS —
    `cosine_neardup_incremental_indexed` and `semdedup_incremental`
    against a STANDING index over the full corpus, with batches of
    0.5% / 1% / 2%.  The claim under test: per-batch wall follows the
    BATCH (the standing side contributes one bucket/cluster-pruned
    equi-join), so doubling the batch should roughly double the batch
    wall while the corpus stays fixed.  Planted cross-batch duplicates
    (every 3rd batch vector copies a corpus vector bit-for-bit) prove
    the new×old path actually fires at scale."""
    import shutil
    import tempfile

    spark = get_spark(
        "scalesmoke-incremental",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.similarity import (
        cosine_collapse_index,
        cosine_neardup_incremental_indexed,
        kmeans_centroids,
        semdedup_incremental,
        semdedup_index,
    )

    n_vecs = int(os.environ.get("SCALE_VECS", 200_000))
    dim = 64

    def _vec(prefix: str, key_col):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: (
                F.pmod(
                    F.xxhash64(
                        F.concat(
                            key_col.cast("string"), F.lit(prefix),
                            d.cast("string"),
                        )
                    ),
                    F.lit(2001),
                )
                - 1000
            )
            / 1000.0,
        )

    work = tempfile.mkdtemp(
        prefix="scalesmoke_incr_", dir="/root/repo/spark-warehouse"
    )
    corpus_dir = f"{work}/corpus"
    (
        spark.range(n_vecs)
        .select(
            F.col("id").alias("vec_id"), _vec("iv", F.col("id")).alias("embedding")
        )
        .write.mode("overwrite")
        .parquet(corpus_dir)
    )
    corpus = spark.read.parquet(corpus_dir)
    out: dict[str, dict] = {}

    # ---- standing state builds (one-time, corpus-linear) -----------------
    t = time.perf_counter()
    members, reps = cosine_collapse_index(corpus, n_planes=20, dim=dim)
    members.write.mode("overwrite").parquet(f"{work}/members")
    reps.write.mode("overwrite").parquet(f"{work}/reps")
    out["cosine_index_build"] = {
        "sec": round(time.perf_counter() - t, 2), "vecs": n_vecs,
    }
    members = spark.read.parquet(f"{work}/members")
    reps = spark.read.parquet(f"{work}/reps")

    # k ~ sqrt(N) (the SemDeDup cost rule: within-cluster pair count stays
    # ~N^1.5); a small fixed k at 1.5M would make every batch's
    # within-cluster comparison set ~1e9 pairs
    k = max(32, int(n_vecs ** 0.5) // 32 * 32)
    t = time.perf_counter()
    cent = kmeans_centroids(
        corpus.where(F.col("vec_id") % 23 == 0), k=k, iters=2
    ).localCheckpoint(eager=True)
    out["quantizer_train_on_sample"] = {
        "sec": round(time.perf_counter() - t, 2),
        "sample": n_vecs // 23, "k": k,
    }
    t = time.perf_counter()
    semdedup_index(corpus, cent).write.mode("overwrite").parquet(f"{work}/semidx")
    out["semdedup_index_build"] = {
        "sec": round(time.perf_counter() - t, 2), "vecs": n_vecs,
    }
    semidx = spark.read.parquet(f"{work}/semidx")

    # ---- per-batch cost vs batch size ------------------------------------
    for frac_label, denom in (("0.5pct", 200), ("1pct", 100), ("2pct", 50)):
        b = n_vecs // denom
        # every 3rd batch vector copies corpus vector j bit-for-bit (the
        # cross-batch duplicate path); the rest are fresh random vectors
        batch = (
            spark.range(b)
            .select(
                (F.col("id") + n_vecs).alias("vec_id"),
                F.when(
                    F.pmod(F.col("id"), F.lit(3)) == 0, _vec("iv", F.col("id"))
                )
                .otherwise(_vec(f"fresh_{frac_label}", F.col("id")))
                .alias("embedding"),
            )
            .localCheckpoint(eager=True)
        )
        t = time.perf_counter()
        pairs, bm, br = cosine_neardup_incremental_indexed(
            batch, members, reps, n_planes=20, threshold=0.9, dim=dim
        )
        n_pairs = pairs.count()
        cos_s = round(time.perf_counter() - t, 2)
        t = time.perf_counter()
        flags = semdedup_incremental(batch, cent, semidx, tau=0.9)
        n_dup = flags.where(F.col("is_dup")).count()
        sem_s = round(time.perf_counter() - t, 2)
        out[f"batch_{frac_label}"] = {
            "batch_vecs": b,
            "cosine_incremental_s": cos_s,
            "cosine_pairs": n_pairs,
            "planted_dups_expected": (b + 2) // 3,
            "semdedup_incremental_s": sem_s,
            "semdedup_flagged": n_dup,
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"metric": "incremental family smoke", "ops": out}))
    spark.stop()


def smoke_sq() -> None:
    """Isolated: SQ8 scalar quantization at SCALE_VECS — train bounds
    (one min/max pass), encode the corpus, and run the asymmetric top-k
    against the brute-force baseline: wall times plus top-10 overlap on
    5 queries.  The claims under test: the codec is corpus-linear with
    tiny model state, and the quantized search matches brute force's
    shape (same broadcast-queries + window plan over 1-byte codes)."""
    import shutil
    import tempfile

    spark = get_spark(
        "scalesmoke-sq",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.similarity import (
        cosine_topk,
        sq_encode,
        sq_topk,
        sq_train,
    )

    n_vecs = int(os.environ.get("SCALE_VECS", 200_000))
    dim = 64
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.pmod(
                F.xxhash64(
                    F.concat(F.col("id").cast("string"), F.lit("sq"),
                             d.cast("string"))
                ),
                F.lit(2001),
            )
            - 1000
        )
        / 1000.0,
    )
    work = tempfile.mkdtemp(
        prefix="scalesmoke_sq_", dir="/root/repo/spark-warehouse"
    )
    (
        spark.range(n_vecs)
        .select(F.col("id").alias("vec_id"), vec.alias("embedding"))
        .write.mode("overwrite")
        .parquet(f"{work}/emb")
    )
    emb = spark.read.parquet(f"{work}/emb")
    out: dict[str, dict] = {}

    t = time.perf_counter()
    bounds = sq_train(emb)
    out["train"] = {"sec": round(time.perf_counter() - t, 2), "vecs": n_vecs}
    t = time.perf_counter()
    sq_encode(emb, bounds).write.mode("overwrite").parquet(f"{work}/codes")
    out["encode"] = {"sec": round(time.perf_counter() - t, 2)}
    codes = spark.read.parquet(f"{work}/codes")

    qids = list(range(5))
    t = time.perf_counter()
    sq = sq_topk(emb, qids, 10, bounds=bounds, codes=codes)
    sq_sets: dict[int, set] = {}
    for r in sq.collect():
        sq_sets.setdefault(r.query_id, set()).add(r.vec_id)
    sq_s = round(time.perf_counter() - t, 2)
    t = time.perf_counter()
    ex_sets: dict[int, set] = {}
    for r in cosine_topk(emb, qids, 10).collect():
        ex_sets.setdefault(r.query_id, set()).add(r.vec_id)
    ex_s = round(time.perf_counter() - t, 2)
    overlap = sum(len(sq_sets[q] & ex_sets[q]) for q in ex_sets) / (
        10 * len(ex_sets)
    )
    out["search"] = {
        "sq8_s": sq_s, "brute_s": ex_s,
        "top10_overlap_vs_exact": round(overlap, 3),
    }

    # ---- IVF-SQ index lifecycle (r8): persist -> append -> pruned
    # search, mirroring the IVF-PQ rows.  The stored codes are the
    # cluster-partitioned inverted lists; the search must read ONLY the
    # probed partitions (static PartitionFilters from the literal probe
    # list) and never tag-join the corpus on vec_id.
    from datayours_spark.functions.annindex import (
        append_to_sq_index,
        load_sq_index,
        save_sq_index,
    )
    from datayours_spark.functions.similarity import (
        ivf_assign,
        ivfsq_topk_pruned,
        kmeans_centroids,
    )

    k_clusters = max(int(n_vecs ** 0.5) // 8, 8)
    t = time.perf_counter()
    cent = kmeans_centroids(emb, k=k_clusters, iters=2)
    out["ivfsq_coarse_train"] = {
        "sec": round(time.perf_counter() - t, 2), "k": k_clusters,
    }
    idx_dir = f"{work}/sqindex"
    t = time.perf_counter()
    save_sq_index(
        idx_dir, cent, bounds, codes, ivf_assign(emb, cent),
        {"dim": dim, "k": k_clusters, "seed": 42},
    )
    out["ivfsq_index_persist"] = {"sec": round(time.perf_counter() - t, 2)}
    batch_n = max(n_vecs // 100, 1)
    batch = spark.range(n_vecs, n_vecs + batch_n).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )
    t = time.perf_counter()
    append_to_sq_index(idx_dir, batch)
    out["ivfsq_index_append_1pct"] = {
        "sec": round(time.perf_counter() - t, 2), "batch": batch_n,
    }
    t = time.perf_counter()
    idx = load_sq_index(spark, idx_dir)
    full = emb.unionByName(batch)
    searched = ivfsq_topk_pruned(
        full, idx["codes"], idx["bounds"], idx["centroids"], qids, 10
    )
    got = {(r.query_id, r.vec_id) for r in searched.collect()}
    truth = {(q, v) for q, vs in ex_sets.items() for v in vs}
    # recall here is the single-probe IVF dial on STRUCTURELESS random
    # vectors (true top-10 spreads across the k lists) — compare the
    # sq8-codec overlap above (brute over codes, 0.98) and the clustered
    # center-purity analysis in the IVF-PQ smoke; the lifecycle claim
    # under test is persist/append/pruned-read, not absolute recall
    out["ivfsq_pruned_search"] = {
        "sec": round(time.perf_counter() - t, 2),
        "vecs": n_vecs + batch_n,
        "nprobe": 1,
        "recall_at_10_vs_exact": round(
            len(got & truth) / max(len(truth), 1), 3
        ),
    }
    idx_plan = searched._jdf.queryExecution().executedPlan().toString()
    out["ivfsq_search_partition_pruned"] = {
        "pruned": "PartitionFilters" in idx_plan and "cluster" in idx_plan,
    }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"metric": "sq8 smoke", "ops": out}))
    spark.stop()


def smoke_vocab() -> None:
    """Isolated: vocabulary induction + per-doc OOV scoring at SCALE_DOCS.
    The synthetic corpus has a ~1M-token raw vocabulary (the token
    formula runs mod 1_000_003), i.e. vocabulary ≈ corpus at 1.5M docs —
    exactly the regime where the pre-round-7 global-window formulation
    would sort the whole count table in ONE task.  The smoke (a) asserts
    the bounded top-k operator (TakeOrderedAndProject) is in the executed
    plan at scale, (b) measures induction and scoring wall."""
    spark = get_spark(
        "scalesmoke-vocab",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.text import oov_rate, vocab_topv

    n_docs = int(os.environ.get("SCALE_DOCS", 200_000))
    docs = synthetic_documents(spark, n_docs).localCheckpoint(eager=True)
    v = 50_000

    vocab = vocab_topv(docs, v)
    plan = vocab._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, (
        "vocab induction lost its bounded top-k plan"
    )
    t = time.perf_counter()
    vocab = vocab.localCheckpoint(eager=True)
    n_vocab = vocab.count()
    induct_s = round(time.perf_counter() - t, 2)

    t = time.perf_counter()
    scored = oov_rate(docs, vocab)
    n_scored = scored.count()
    high_oov = scored.where(F.col("oov_ratio") > 0.5).count()
    score_s = round(time.perf_counter() - t, 2)
    out = {
        "n_docs": n_docs,
        "v": v,
        "vocab_rows": n_vocab,
        "induction_s": induct_s,
        "bounded_topk_plan": True,
        "scored_docs": n_scored,
        "high_oov_docs": high_oov,
        "scoring_s": score_s,
    }
    print(json.dumps({"metric": "vocab induction smoke", "ops": out}))
    spark.stop()


def smoke_winnow() -> None:
    """Isolated: winnowing fingerprints + containment near-dup at
    SCALE_DOCS.  Fingerprinting is a zero-shuffle generator projection,
    so docs/s should hold (or rise) with corpus size; the near-dup join
    runs over the ~2/(w+1)-compressed index, and the planted near-dup
    pairs (synthetic_documents ids f/f+1 share their first 48 of 50
    tokens — dozens of shared winnowed k-grams) give a measured recall.
    The boilerplate corpus must trip the Σdf² fail-fast at aggregation
    cost, never join cost."""
    spark = get_spark(
        "scalesmoke-winnow",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.dedup import (
        ExpandedPairsTooLarge,
        winnow_fingerprints,
        winnow_neardup,
    )

    docs = synthetic_documents(spark, N_DOCS).localCheckpoint(eager=True)
    out: dict[str, dict] = {}

    t = time.perf_counter()
    n_fp = winnow_fingerprints(docs, k=4, w=4).count()
    dt = time.perf_counter() - t
    out["fingerprints"] = {
        "n_docs": N_DOCS, "fingerprints": n_fp,
        "sec": round(dt, 1), "docs_per_s": int(N_DOCS / max(dt, 1e-9)),
        "fp_per_doc": round(n_fp / N_DOCS, 2),
    }

    t = time.perf_counter()
    nd = winnow_neardup(docs, k=4, w=4, threshold=0.5).localCheckpoint(
        eager=True
    )
    n_pairs = nd.count()
    dt = time.perf_counter() - t
    planted = docs.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id1"), (F.col("doc_id") + 1).alias("id2")
    )
    n_planted = planted.count()
    hit = nd.join(planted, ["id1", "id2"], "left_semi").count()
    out["neardup"] = {
        "pairs": n_pairs, "sec": round(dt, 1),
        "planted_recall": round(hit / max(n_planted, 1), 4),
    }

    boiler = synthetic_documents(
        spark, N_DOCS, boilerplate_pct=30
    ).localCheckpoint(eager=True)
    t = time.perf_counter()
    try:
        winnow_neardup(boiler, k=4, w=4).count()
        out["boilerplate_guard"] = {"tripped": False}
    except ExpandedPairsTooLarge:
        out["boilerplate_guard"] = {
            "tripped": True, "sec": round(time.perf_counter() - t, 1),
        }
    print(json.dumps({"metric": "winnowing smoke", "ops": out}))
    spark.stop()


def smoke_winnowstream() -> None:
    """Isolated: winnowing at the STREAMING horizon (r7 verdict task #7)
    — a standing (doc_id, h) fingerprint index over SCALE_DOCS docs,
    probed by batches of 0.5% / 1% / 2% via
    ``winnow_incremental_indexed`` (the WinnowStream per-micro-batch
    operator), mirroring the embedding-family rows: per-batch wall must
    follow the BATCH (the standing side contributes one posting-list
    equi-join), and every 3rd batch doc copies a corpus doc verbatim so
    the new×old path provably fires.  Also times one forced
    ``BatchStore`` compaction cycle over the accumulated per-batch
    index dirs — the small-files fold a long-running stream depends
    on."""
    import shutil
    import tempfile

    spark = get_spark(
        "scalesmoke-winnowstream",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.dedup import (
        winnow_fingerprints,
        winnow_incremental_indexed,
    )
    from datayours_spark.streaming.store import BatchStore

    n_docs = int(os.environ.get("SCALE_DOCS", 200_000))
    docs = synthetic_documents(spark, n_docs).localCheckpoint(eager=True)
    work = tempfile.mkdtemp(
        prefix="scalesmoke_wstream_", dir="/root/repo/spark-warehouse"
    )
    out: dict[str, dict] = {}

    t = time.perf_counter()
    (
        winnow_fingerprints(docs, k=4, w=4)
        .select("doc_id", "h")
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{work}/index")
    )
    idx = spark.read.parquet(f"{work}/index")
    out["standing_index_build"] = {
        "sec": round(time.perf_counter() - t, 1), "docs": n_docs,
        "fingerprints": idx.count(),
    }

    for frac_label, denom in (("0.5pct", 200), ("1pct", 100), ("2pct", 50)):
        b = n_docs // denom
        # every 3rd batch doc re-uses corpus doc id%n_docs's token stream
        # (same family seed) -> a planted new×old containment pair
        copy_of = F.pmod(F.col("id"), F.lit(n_docs))
        batch = (
            synthetic_documents(spark, n_docs)
            .join(
                spark.range(b).select(
                    (F.col("id") + n_docs).alias("new_id"),
                    copy_of.alias("doc_id"),
                    F.pmod(F.col("id"), F.lit(3)).alias("m3"),
                ),
                "doc_id",
            )
            .select(
                F.col("new_id").alias("doc_id"),
                F.when(
                    F.col("m3") == 0, F.col("text")
                ).otherwise(
                    F.concat(F.lit(f"fresh {frac_label} "), F.col("text"),
                             F.lit(" tailx"))
                ).alias("text"),
            )
            .localCheckpoint(eager=True)
        )
        t = time.perf_counter()
        pairs, batch_fp = winnow_incremental_indexed(
            batch, idx, k=4, w=4, threshold=0.5
        )
        n_pairs = pairs.count()
        out[f"batch_{frac_label}"] = {
            "batch_docs": b,
            "sec": round(time.perf_counter() - t, 2),
            "pairs": n_pairs,
            "planted_copies": (b + 2) // 3,
        }

    # ---- compaction cycle: fold 16 per-batch index dirs into the
    # watermark dir (the BatchStore discipline under WinnowStream)
    store = BatchStore(spark, f"{work}/store", compact_every=16)
    bfp = batch_fp.localCheckpoint(eager=True)
    per_batch = bfp.count()
    for i in range(16):
        bfp.write.mode("overwrite").parquet(store.batch_dest("index", i))
    t = time.perf_counter()
    folded = store.compact("index", "doc_id bigint, h bigint", 15)
    rows_after = store.read_or_empty("index", "doc_id bigint, h bigint").count()
    out["compaction_cycle"] = {
        "dirs_folded": folded, "rows_per_dir": per_batch,
        "sec": round(time.perf_counter() - t, 2), "rows_after": rows_after,
    }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"metric": "winnow stream smoke", "ops": out}))
    spark.stop()


def smoke_semdedup_build() -> None:
    """Isolated: the SemDeDup STANDING-INDEX one-time build at
    SCALE_VECS with the paper-regime k ≈ √N centroids — the r7 verdict's
    `weak` finding (flat ivf_assign scores k×N = O(N^1.5) pairs;
    measured 1054 s at 1.5M/1216 in r7).

    Measures the r8 fixes: (a) the flat path re-measured with the
    map-side max_by argmax (shuffle N rows instead of N×k — set
    SCALE_SKIP_EXACT=1 to skip it), and (b) the hierarchical
    ivf_assign_pruned path (≈(1+P)·√k scored pairs per vector), with
    the assignment-agreement fraction on a 10k sample quantifying the
    documented bounded deviation.  Centroids are hash-fabricated and the
    corpus is CLUSTERED around them (vector i = centroid (i mod k) +
    noise at 1/5 amplitude — the shape clusterable embedding corpora
    have, which is SemDeDup's operating assumption; on structureless
    random vectors every cosine is a noise-level near-tie and ANY
    pruned assignment decoheres, measured at 0.46 agreement — that
    regime is where semantic dedup itself is meaningless).  The build
    cost under test is ASSIGNMENT, not centroid training."""
    spark = get_spark(
        "scalesmoke-semdedup-build",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.similarity import (
        ivf_assign,
        ivf_assign_pruned,
    )

    n_vecs = int(os.environ.get("SCALE_VECS", 200_000))
    k = int(os.environ.get("SCALE_K", max(int(n_vecs ** 0.5), 8)))
    dim = 64
    def _hash_vec(tag, denom):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: (
                F.pmod(
                    F.xxhash64(F.concat(F.col("id").cast("string"),
                                        F.lit(tag), d.cast("string"))),
                    F.lit(2001),
                )
                - 1000
            )
            / denom,
        )
    # clustered corpus: vector i sits near centroid (i mod k) — the
    # center vector re-derives from the SAME hash formula the centroid
    # table uses, plus per-vector noise at 1/5 amplitude
    center = F.pmod(F.col("id"), F.lit(k))
    cvec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.pmod(
                F.xxhash64(F.concat(center.cast("string"), F.lit("cent"),
                                    d.cast("string"))),
                F.lit(2001),
            )
            - 1000
        )
        / 1000.0,
    )
    emb = (
        spark.range(n_vecs)
        .select(
            F.col("id").alias("vec_id"),
            F.zip_with(
                cvec, _hash_vec("sb", 5000.0), lambda a, b: a + b
            ).alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    cent = (
        spark.range(k)
        .select(
            F.col("id").cast("int").alias("centroid_id"),
            _hash_vec("cent", 1000.0).alias("cv"),
        )
        .withColumn(
            "cnorm",
            F.sqrt(F.aggregate(F.transform(F.col("cv"), lambda x: x * x),
                               F.lit(0.0), lambda a, b: a + b)),
        )
        .localCheckpoint(eager=True)
    )
    out: dict[str, dict] = {}
    t = time.perf_counter()
    pruned = ivf_assign_pruned(emb, cent, probe_supers=2).localCheckpoint(
        eager=True
    )
    n_assigned = pruned.count()
    out["pruned_build"] = {
        "sec": round(time.perf_counter() - t, 1), "vecs": n_vecs, "k": k,
        "assigned": n_assigned,
    }
    sample = emb.where(F.col("vec_id") % max(n_vecs // 10_000, 1) == 0)
    ex_s = {
        r.vec_id: r.cluster for r in ivf_assign(sample, cent).collect()
    }
    pr_s = {
        r.vec_id: r.cluster
        for r in pruned.join(
            sample.select("vec_id"), "vec_id", "left_semi"
        ).collect()
    }
    agree = sum(1 for v, c in pr_s.items() if ex_s[v] == c) / max(len(ex_s), 1)
    out["sample_agreement_vs_exact"] = {
        "sample": len(ex_s), "agree_frac": round(agree, 4),
    }
    if os.environ.get("SCALE_SKIP_EXACT", "") != "1":
        # materialize via checkpoint like the pruned path above — a bare
        # count() would let Catalyst prune the max_by aggregate (and the
        # scoring with it) down to a group count
        t = time.perf_counter()
        n_exact = ivf_assign(emb, cent).localCheckpoint(eager=True).count()
        out["flat_build_maxby"] = {
            "sec": round(time.perf_counter() - t, 1), "assigned": n_exact,
        }
    print(json.dumps({"metric": "semdedup build smoke", "ops": out}))
    spark.stop()


def smoke_prototype() -> None:
    """Isolated: SSL-prototype pruning at SCALE_VECS — one scoring pass
    over the assigned corpus (cosine to OWN centroid), then the
    per-cluster percentile threshold as a clusters-sized broadcast.  The
    smoke pins that the threshold formulation stays Window-free in the
    executed plan at scale and that the realized drop fraction matches
    drop_frac (clustered corpus, same recipe as the semdedup-build
    smoke; assignment via the hierarchical pruned path)."""
    spark = get_spark(
        "scalesmoke-prototype",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.similarity import (
        ivf_assign_pruned,
        prototype_prune,
    )

    n_vecs = int(os.environ.get("SCALE_VECS", 200_000))
    k = int(os.environ.get("SCALE_K", max(int(n_vecs ** 0.5), 8)))
    dim = 64

    def _hash_vec(tag, denom):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: (
                F.pmod(
                    F.xxhash64(F.concat(F.col("id").cast("string"),
                                        F.lit(tag), d.cast("string"))),
                    F.lit(2001),
                )
                - 1000
            )
            / denom,
        )

    center = F.pmod(F.col("id"), F.lit(k))
    cvec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.pmod(
                F.xxhash64(F.concat(center.cast("string"), F.lit("cent"),
                                    d.cast("string"))),
                F.lit(2001),
            )
            - 1000
        )
        / 1000.0,
    )
    emb = (
        spark.range(n_vecs)
        .select(
            F.col("id").alias("vec_id"),
            F.zip_with(
                cvec, _hash_vec("sb", 5000.0), lambda a, b: a + b
            ).alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    cent = (
        spark.range(k)
        .select(
            F.col("id").cast("int").alias("centroid_id"),
            _hash_vec("cent", 1000.0).alias("cv"),
        )
        .withColumn(
            "cnorm",
            F.sqrt(F.aggregate(F.transform(F.col("cv"), lambda x: x * x),
                               F.lit(0.0), lambda a, b: a + b)),
        )
        .localCheckpoint(eager=True)
    )
    t = time.perf_counter()
    assign = ivf_assign_pruned(emb, cent, probe_supers=2).localCheckpoint(
        eager=True
    )
    assign.count()
    t_assign = time.perf_counter() - t

    t = time.perf_counter()
    pruned = prototype_prune(emb, cent, assign, drop_frac=0.2)
    counts = pruned.agg(
        F.count("*").alias("n"),
        F.sum(F.col("keep").cast("int")).alias("kept"),
    ).first()
    t_score = time.perf_counter() - t
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    print(json.dumps({
        "metric": "prototype prune smoke",
        "vecs": n_vecs, "k": k,
        "assign_sec": round(t_assign, 1),
        "score_sec": round(t_score, 1),
        "drop_frac_realized": round(1 - counts["kept"] / counts["n"], 4),
        "window_free": "Window" not in plan,
    }))
    spark.stop()


def smoke_packids() -> None:
    """Isolated: materialized training sequences at SCALE_DOCS — the
    q_pack_ids composition (id stream ⋈ packing manifest → chunk-keyed
    aggregate with capacity-bounded collect) over a ~50-token/doc
    corpus.  The claims under test: the whole materialization is two
    data shuffles (plan-pinned at unit scale), chunk group state is
    bounded by the capacity, and the emitted chunks cover exactly the
    corpus's token count with every non-final chunk full."""
    spark = get_spark(
        "scalesmoke-packids",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from pyspark.sql import Window as W

    from datayours_spark.functions.sampling import hash_bucket
    from datayours_spark.functions.text import tokenize_ids, vocab_topv

    n_docs = int(os.environ.get("SCALE_DOCS", 200_000))
    shards = int(os.environ.get("SCALE_PACK_SHARDS", 64))
    capacity = int(os.environ.get("SCALE_PACK_CAP", 2048))
    docs = synthetic_documents(spark, n_docs).localCheckpoint(eager=True)

    t = time.perf_counter()
    ids = tokenize_ids(docs, vocab_topv(docs, 1000))
    staged = docs.select(
        "doc_id",
        hash_bucket(F.col("doc_id"), "pack", shards).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    manifest = staged.select(
        "doc_id", "shard",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("offset"),
    )
    tok = ids.join(manifest, "doc_id").select(
        "shard",
        F.expr(f"(offset + pos) div {capacity}").alias("chunk"),
        (F.col("offset") + F.col("pos")).alias("goff"),
        "tid",
    )
    chunks = tok.groupBy("shard", "chunk").agg(
        F.count("*").cast("long").alias("n_ids"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("goff", "tid"))),
            lambda s: s.getField("tid"),
        ).alias("ids"),
    ).localCheckpoint(eager=True)
    stats = chunks.agg(
        F.count("*").alias("n_chunks"),
        F.sum("n_ids").alias("total_ids"),
        F.sum((F.col("n_ids") == capacity).cast("int")).alias("full"),
    ).first()
    wall = time.perf_counter() - t
    print(json.dumps({
        "metric": "pack ids smoke",
        "docs": n_docs,
        "shards": shards, "capacity": capacity,
        "sec": round(wall, 1),
        "tokens_per_sec": int(stats["total_ids"] / wall),
        "chunks": stats["n_chunks"],
        "total_ids": stats["total_ids"],
        "full_chunks": stats["full"],
        # every shard has at most one partial (tail) chunk
        "partial_chunks_bounded_by_shards":
            int(stats["n_chunks"] - stats["full"]) <= shards,
    }))
    spark.stop()


def smoke_shuffle() -> None:
    """Isolated: the deterministic offline chunk shuffle
    (`sampling.shuffle_chunks`) at the SCALE_DOCS chunk grid — the
    last pass before a sharded dataloader (r10 verdict #6).  Claims
    under test: (1) the plan is ONE hash exchange on out_shard plus a
    per-shard position window — task state is one output shard's keys,
    never a single-task global sort; (2) positions are an exact
    permutation 0..n-1 within every output shard; (3) the layout is a
    pure function of (keys, seed): a same-seed rerun is byte-identical
    (order-insensitive row checksum), a different seed reorders."""
    import re as _re

    spark = get_spark(
        "scalesmoke-shuffle",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.sampling import shuffle_chunks

    n_chunks = int(os.environ.get("SCALE_DOCS", 200_000))
    out_shards = int(os.environ.get("SCALE_OUT_SHARDS", 1024))
    # the chunk grid a packed corpus of this size would carry
    chunks = (
        spark.range(n_chunks)
        .select(
            F.pmod(F.col("id"), F.lit(64)).cast("int").alias("shard"),
            (F.col("id") / 64).cast("long").alias("chunk"),
        )
        .localCheckpoint(eager=True)
    )

    def run(seed):
        return shuffle_chunks(chunks, ["shard", "chunk"], out_shards, seed)

    def checksum(df) -> int:
        # order-insensitive, overflow-free row digest
        return df.agg(
            F.expr("bit_xor(xxhash64(shard, chunk, out_shard, pos))")
        ).first()[0]

    t = time.perf_counter()
    out = run("s1").localCheckpoint(eager=True)
    wall = time.perf_counter() - t
    per = out.groupBy("out_shard").agg(
        F.count("*").alias("n"),
        F.count_distinct("pos").alias("nd"),
        F.max("pos").alias("mx"),
        F.min("pos").alias("mn"),
    ).localCheckpoint(eager=True)
    bad = per.where(
        (F.col("nd") != F.col("n"))
        | (F.col("mx") != F.col("n") - 1)
        | (F.col("mn") != 0)
    ).count()
    stats = per.agg(
        F.count("*").alias("shards"),
        F.max("n").alias("max_shard_rows"),
        F.sum("n").alias("rows"),
    ).first()
    c1 = checksum(out)
    c2 = checksum(run("s1"))       # full recompute, same seed
    c3 = checksum(run("s2"))
    plan_buf = []
    import contextlib
    import io as _io

    b = _io.StringIO()
    with contextlib.redirect_stdout(b):
        run("s1").explain("formatted")
    plan = b.getvalue()
    n_exch = len(_re.findall(r"Arguments: hashpartitioning\(out_shard", plan))
    n_exch_all = len(_re.findall(r"Arguments: hashpartitioning\(", plan))
    print(json.dumps({
        "metric": "chunk shuffle smoke",
        "chunks": n_chunks,
        "out_shards": out_shards,
        "sec": round(wall, 1),
        "chunks_per_sec": int(n_chunks / wall),
        # task state = one output shard's keys (thousands of shards at
        # 100 TB keeps this constant as the corpus grows)
        "max_shard_rows": int(stats["max_shard_rows"]),
        "bad_permutation_shards": bad,
        "out_shards_used": int(stats["shards"]),
        "same_seed_identical": c1 == c2,
        "diff_seed_differs": c1 != c3,
        "single_out_shard_exchange":
            n_exch == 1 and n_exch_all == 1,
    }))
    spark.stop()


def smoke_summary() -> None:
    """Isolated: the compacted winnow index's bloom bucket prune
    (r10 verdict #5) at SCALE_DOCS — a standing index is built,
    compacted and summarized; a 10%-of-corpus batch of FRESH text
    (plus planted copies, which must keep pairing) is then probed
    with and without the summary.  Claims under test: pair outputs
    are byte-identical, the pruned pair path reads measurably fewer
    compacted index bytes (PartitionFilters at the scan), and the
    probe's own cost is a small fraction of the scan it saves."""
    import contextlib
    import io as _io
    import re as _re
    import shutil
    import tempfile

    spark = get_spark(
        "scalesmoke-summary",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.dedup import (
        winnow_fingerprints,
        winnow_incremental_indexed,
    )
    from datayours_spark.streaming.winnowstream import (
        WinnowStream,
        standing_counts_view,
        standing_index_view,
        summary_hit_buckets,
    )

    n_docs = int(os.environ.get("SCALE_DOCS", 200_000))
    buckets = 256
    work = tempfile.mkdtemp(
        prefix="scalesmoke_summary_", dir="/root/repo/spark-warehouse"
    )
    ws = WinnowStream(
        spark=spark,
        input_dir=f"{work}/in",
        store_dir=f"{work}/store",
        checkpoint_dir=f"{work}/ckpt",
        k=4, w=4, threshold=0.5,
        # the synthetic corpus's planted dup families exceed the
        # default guard at the 1.5M grid — raised deliberately (the
        # documented escape hatch, same as the pipeline smoke)
        max_join_pairs=500_000_000,
        index_buckets=buckets,
        compact_every=1,          # compaction + summary after batch 0
        summary_prune=True,
    )
    corpus = synthetic_documents(spark, n_docs).localCheckpoint(eager=True)
    t = time.perf_counter()
    ws._process(corpus, 0)
    standing_sec = round(time.perf_counter() - t, 1)

    # 10% batch: genuinely fresh docs + 20 planted copies.  The
    # synthetic token formula is periodic mod 1,000,003, so HIGH SEEDS
    # alias back onto corpus texts (the documented saturation
    # artifact) — re-prefixing the tokens ('w…' → 'f…') keeps the
    # 4-gram structure while guaranteeing zero true fingerprint
    # overlap, the fresh-crawl shape the bloom prune is for.
    b = n_docs // 10
    fresh = (
        synthetic_documents(spark, b)
        .select(
            (F.col("doc_id") + n_docs * 20).alias("doc_id"),
            F.regexp_replace("text", "w", "f").alias("text"),
        )
    )
    copies = (
        synthetic_documents(spark, 20)
        .select((F.col("doc_id") + n_docs * 30).alias("doc_id"), "text")
    )
    batch = fresh.unionByName(copies).localCheckpoint(eager=True)
    fp = (
        winnow_fingerprints(batch, k=4, w=4)
        .select("doc_id", "h").distinct().localCheckpoint(eager=True)
    )
    n_fp = fp.count()
    t = time.perf_counter()
    hit = summary_hit_buckets(ws.store, fp, buckets, probe_rows=n_fp)
    probe_sec = round(time.perf_counter() - t, 2)
    # the copies' PRESENT fingerprints legitimately mark most buckets
    # readable (true positives, spread uniformly); probe the fresh-only
    # slice too — the clean-crawl case the prune exists for
    fresh_fp = (
        winnow_fingerprints(fresh, k=4, w=4)
        .select("doc_id", "h").distinct()
    )
    hit_fresh = summary_hit_buckets(ws.store, fresh_fp, buckets)

    # compacted index bytes: all buckets vs the bloom-hit buckets
    comp_root = None
    for sub in sorted(os.listdir(f"{work}/store/index")):
        if sub.startswith("compacted-"):
            comp_root = f"{work}/store/index/{sub}"
    def dir_bytes(d):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _dirs, files in os.walk(d) for f in files
        )
    total_bytes = dir_bytes(comp_root)
    hit_bytes = sum(
        dir_bytes(f"{comp_root}/hb={hb}") for hb in (hit or [])
        if os.path.isdir(f"{comp_root}/hb={hb}")
    )

    counts = standing_counts_view(ws.store)
    out_pairs = {}
    walls = {}
    for label, hb in (("full", None), ("pruned", hit)):
        iv = standing_index_view(
            ws.store, fp, buckets, bks=list(range(buckets)), hit_bks=hb
        )
        t = time.perf_counter()
        pairs, _ = winnow_incremental_indexed(
            batch, iv.select("doc_id", "h"), k=4, w=4, threshold=0.5,
            max_join_pairs=500_000_000,
            fingerprints=fp, fingerprints_distinct=True,
            index_counts=counts.select("doc_id", "n_fp"),
        )
        rows = {tuple(r) for r in pairs.collect()}
        walls[label] = round(time.perf_counter() - t, 1)
        out_pairs[label] = rows
    # the pruned comp scan carries PartitionFilters on hb
    buf = _io.StringIO()
    iv = standing_index_view(
        ws.store, fp, buckets, bks=list(range(buckets)), hit_bks=hit
    )
    with contextlib.redirect_stdout(buf):
        iv.explain("formatted")
    pf = bool(_re.search(r"PartitionFilters: \[[^\]]*hb", buf.getvalue()))
    copy_pairs = sum(
        1 for a, b2, *_ in out_pairs["pruned"]
        if a < n_docs and b2 >= n_docs * 30
    )
    print(json.dumps({
        "metric": "bloom summary smoke",
        "cpu_probe_sec": _cpu_probe_sec(),
        "docs": n_docs,
        "batch_docs": b + 20,
        "standing_ingest_sec": standing_sec,
        "probe_sec": probe_sec,
        "buckets_hit": len(hit) if hit is not None else buckets,
        "buckets_hit_fresh_only": (
            len(hit_fresh) if hit_fresh is not None else buckets
        ),
        "buckets_total": buckets,
        "index_bytes_total": total_bytes,
        "index_bytes_read_pruned": hit_bytes,
        "bytes_saved_pct": round(100 * (1 - hit_bytes / total_bytes), 1),
        "pairs_identical": out_pairs["full"] == out_pairs["pruned"],
        "planted_copy_pairs_found": copy_pairs,
        "pair_wall_full_sec": walls["full"],
        "pair_wall_pruned_sec": walls["pruned"],
        "partition_filters_pinned": pf,
    }))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


def smoke_bpe() -> None:
    """Isolated: BPE merge induction at SCALE_DOCS — the claim under
    test is the standard BPE reduction: after ONE corpus-sized
    word-frequency aggregate, every merge round touches only the
    vocabulary (here ~1M distinct synthetic words, the worst case:
    vocabulary ≈ corpus), so per-round wall is corpus-INDEPENDENT and
    bounded by the vocab.  Reports the base-aggregate time and the
    per-round time across SCALE_BPE_MERGES rounds."""
    spark = get_spark(
        "scalesmoke-bpe",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.text import bpe_merges

    n_docs = int(os.environ.get("SCALE_DOCS", 200_000))
    n_merges = int(os.environ.get("SCALE_BPE_MERGES", 16))
    docs = synthetic_documents(spark, n_docs).localCheckpoint(eager=True)

    t = time.perf_counter()
    merges = bpe_merges(docs, n_merges=n_merges)
    wall = time.perf_counter() - t

    # application: the merge table is a literal replace chain — the
    # segmentation must stream the corpus at projection speed
    from datayours_spark.functions.text import bpe_segment

    t = time.perf_counter()
    n_syms = bpe_segment(docs, merges).count()
    seg_wall = time.perf_counter() - t
    print(json.dumps({
        "metric": "bpe smoke",
        "docs": n_docs,
        "merges_learned": len(merges),
        "total_sec": round(wall, 1),
        "sec_per_round": round(wall / max(len(merges), 1), 2),
        "top_merge": list(merges[0]) if merges else None,
        "segment": {
            "sec": round(seg_wall, 1),
            "symbols": n_syms,
            "docs_per_sec": int(n_docs / seg_wall),
        },
    }))
    spark.stop()


def smoke_pipeline() -> None:
    """Isolated: the COMPOSED streaming ingest DAG (gate → winnow dedup
    → pack, `streaming.pipeline.IngestPipeline`) at the streaming
    horizon — batch 0 ingests the SCALE_DOCS standing corpus through
    the full composition, then 1% batches (with planted gate failures
    and planted copies of corpus docs) probe the standing state, then
    the BatchStore compaction folds the accumulated dirs.  The claims
    under test: per-batch wall follows the BATCH once the standing
    state exists (the index enters via the posting equi-join, the pack
    cursor via a shards-sized read — no corpus rescan), planted
    failures are gated, planted copies are dropped, everything else is
    packed with contiguous per-shard offsets."""
    import shutil
    import tempfile

    spark = get_spark(
        "scalesmoke-pipeline",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.streaming.pipeline import IngestPipeline

    n_docs = int(os.environ.get("SCALE_DOCS", 200_000))

    def _with_gate_cols(df, fail_mod: int | None):
        # the Gopher stopword rule needs English stopwords, but a FIXED
        # prefix would be boilerplate: identical leading shingles give
        # one winnow posting shared by EVERY doc, and the pair guard
        # (correctly) refuses the quadratic join.  Interleave the
        # stopwords with the doc's own tokens so every shingle stays
        # doc-specific.
        toks = F.split(F.col("text"), " ")
        text = F.concat(
            F.lit("the "), F.element_at(toks, 1),
            F.lit(" and "), F.element_at(toks, 2),
            F.lit(" with "), F.element_at(toks, 3),
            F.lit(" of "), F.element_at(toks, 4),
            F.lit(" to "),
            F.array_join(F.slice(toks, 5, 1_000_000), " "),
        )
        if fail_mod:
            # planted gate failure: every fail_mod-th doc truncated to
            # two gibberish words (fails word count AND stop words)
            text = F.when(
                F.pmod(F.col("doc_id"), F.lit(fail_mod)) == 0,
                F.lit("w1 w2"),
            ).otherwise(text)
        return df.select(
            "doc_id", text.alias("text"), F.lit("web").alias("source")
        )

    work = tempfile.mkdtemp(
        prefix="scalesmoke_pipe_", dir="/root/repo/spark-warehouse"
    )
    # eval set: 1/1000th of the corpus copied verbatim under fresh ids
    # — every eval doc must contaminate its corpus twin at containment
    # 1.0, so the decon stage's hit count is a planted expectation
    n_eval = max(n_docs // 1000, 10)
    eval_docs = (
        _with_gate_cols(synthetic_documents(spark, n_eval), None)
        .select(
            (F.col("doc_id") + n_docs * 10).alias("doc_id"),
            "text",  # woven identically -> corpus twin containment 1.0
        )
        .localCheckpoint(eager=True)
    )
    pipe = IngestPipeline(
        spark=spark,
        input_dir=f"{work}/in",
        store_dir=f"{work}/store",
        checkpoint_dir=f"{work}/ckpt",
        min_words=50,
        k=4, w=4, threshold=0.5,
        shards=32, capacity=2048,
        # the synthetic corpus's planted dup families produce ~104M
        # real posting pairs at 1.5M docs — raise the guard
        # deliberately (its documented escape hatch) for this corpus
        max_join_pairs=500_000_000,
        eval_docs=eval_docs,
        decon_threshold=0.8,
        index_buckets=256,
        # compaction is amortized (every compact_every batches in
        # production) — measured as its own op below instead of being
        # billed into a single unlucky batch's wall
        compact_every=None,
        # bloom bucket pruning of the compacted index (SMOKE_PRUNE=0
        # to measure the unpruned baseline); the summary rebuild runs
        # inside the compaction wall and is timed separately below
        summary_prune=smoke_prune_policy(),
    )
    corpus = _with_gate_cols(
        synthetic_documents(spark, n_docs), fail_mod=97
    ).localCheckpoint(eager=True)
    out: dict[str, dict] = {}

    from datayours_spark.streaming.pipeline import (
        SCHEMAS as PIPE_SCHEMAS,
    )
    from datayours_spark.streaming.winnowstream import (
        _index_lww,
        rebuild_index_summary,
    )

    def _compact(upto: int) -> dict:
        """Compaction wall, with the bloom summary rebuild (which
        production runs inside the same maybe_compact hook) timed as
        its OWN line — r11 verdict #3.  A store before its FIRST
        compaction has no summary, and needs none: the bloom describes
        only the COMPACTED side, and pre-compaction there is no
        compacted side to skip — the unpruned window is exactly the
        tail, already bounded by compact_every batches."""
        t0 = time.perf_counter()
        for name, schema in PIPE_SCHEMAS.items():
            pipe.store.compact(
                name, schema, upto,
                fold=_index_lww if name in ("index", "counts") else None,
            )
        fold_sec = round(time.perf_counter() - t0, 1)
        out = {"sec": fold_sec}
        if pipe.summary_prune:
            t1 = time.perf_counter()
            m_p = rebuild_index_summary(pipe.store, pipe.index_buckets)
            out["summary_rebuild_sec"] = round(time.perf_counter() - t1, 1)
            out["summary_m_p"] = m_p
            out["sec"] = round(fold_sec + out["summary_rebuild_sec"], 1)
            out["fold_sec"] = fold_sec
        return out

    t = time.perf_counter()
    pipe._process(corpus, 0)
    out["standing_ingest"] = {
        "docs": n_docs,
        "sec": round(time.perf_counter() - t, 1),
        "gated_out": pipe.gates().where("NOT pass_all").count(),
        "contaminated": pipe.contamination()
        .select("doc_id").distinct().count(),
        "planted_eval_twins": n_eval,
        "dup_pairs": pipe.pairs().count(),
        "packed": pipe.packed().count(),
    }
    # fold the bulk load into the compacted view (production does the
    # same: batch-proportional follow-up cost requires the standing
    # state to live on the compacted side, not in the tail)
    out["compaction_after_bulk"] = _compact(0)

    b = n_docs // 100
    packed_before = out["standing_ingest"]["packed"]
    for i in (1, 2, 3):
        # even new ids copy corpus docs VERBATIM (planted new×old
        # containment, must be dropped); odd new ids are genuinely
        # fresh docs from a disjoint seed range (must be kept) — note
        # an appended-to copy would ALSO be a drop by containment, so
        # fresh means fresh seeds, not corpus text with extra words
        fresh = (
            synthetic_documents(spark, n_docs * i + b)
            .where(F.col("doc_id") >= n_docs * i)
            .where(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        )
        copies = (
            synthetic_documents(spark, n_docs)
            .join(
                spark.range(0, b, 2).select(
                    (F.col("id") + n_docs * i).alias("new_id"),
                    F.pmod(F.col("id") * 7 + i, F.lit(n_docs)).alias(
                        "doc_id"
                    ),
                ),
                "doc_id",
            )
            .select(F.col("new_id").alias("doc_id"), "text")
        )
        batch = _with_gate_cols(
            fresh.unionByName(copies), fail_mod=None
        ).localCheckpoint(eager=True)
        t = time.perf_counter()
        pipe._process(batch, i)
        sec = round(time.perf_counter() - t, 1)
        packed_now = pipe.packed().count()
        out[f"batch_{i}_1pct"] = {
            "batch_docs": b,
            "sec": sec,
            "packed_delta": packed_now - packed_before,
        }
        packed_before = packed_now

    # trickle probe A: a targeted 3-doc re-check of docs 0-2 (copies
    # of corpus docs that are ALSO eval twins — the decontamination
    # stage drops all three, so the batch keeps nothing and takes the
    # all-empty early exit: gates + decon + one stats collect, then
    # marker-only commits).  Trickles arrive as ONE file → one
    # partition (a 32-partition 3-doc relation is a harness artifact).
    trickle = (
        _with_gate_cols(synthetic_documents(spark, 3), None)
        .select(
            (F.col("doc_id") + n_docs * 50).alias("doc_id"),
            "text", "source",
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    t = time.perf_counter()
    pipe._process(trickle, 4)
    sec = round(time.perf_counter() - t, 1)
    out["trickle_3docs"] = {
        "sec": sec,
        "packed_delta": pipe.packed().count() - packed_before,
    }

    # trickle probe B: 3-doc copies of corpus docs OUTSIDE the eval
    # range — they survive gate + decon and reach the DEDUP posting
    # join against the standing index ("is this already in the
    # corpus?").  Their few fingerprints prune the compacted scan to
    # their hb buckets (PartitionFilters), ride as isin() literals
    # into the row-group statistics, and (prune on) the bloom summary
    # skips every provably h-match-free bucket; all 3 must drop as
    # near-dups at containment 1.0.
    trickle_dd = (
        _with_gate_cols(synthetic_documents(spark, n_eval + 3), None)
        .where(F.col("doc_id") >= n_eval)
        .select(
            (F.col("doc_id") + n_docs * 60).alias("doc_id"),
            "text", "source",
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    t = time.perf_counter()
    pipe._process(trickle_dd, 5)
    sec = round(time.perf_counter() - t, 1)
    out["trickle_3docs_dedup"] = {
        "sec": sec,
        "packed_delta": pipe.packed().count()
        - packed_before
        - out["trickle_3docs"]["packed_delta"],
    }

    # trickle probe C: 3 genuinely FRESH docs (disjoint alphabet — the
    # regexp re-prefix guarantees zero true fingerprint overlap, the
    # summary smoke's saturation-proof shape).  This is the COMMON
    # steady-crawl trickle: survives every stage, pairs with nothing,
    # gets packed.  With summary_prune on, the literal bloom verdict
    # (driver-side positions, one pushdown-pruned summary scan) proves
    # every h absent and the compacted posting scan drops out of the
    # pair plan entirely (r12 verdict #3) — the last index-sized term
    # a fresh trickle paid.
    trickle_fresh = (
        _with_gate_cols(
            synthetic_documents(spark, 3).select(
                "doc_id",
                F.regexp_replace("text", "w", "q").alias("text"),
            ),
            None,
        )
        .select(
            (F.col("doc_id") + n_docs * 70).alias("doc_id"),
            "text", "source",
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    t = time.perf_counter()
    pipe._process(trickle_fresh, 6)
    sec = round(time.perf_counter() - t, 1)
    out["trickle_3docs_fresh"] = {
        "sec": sec,
        "packed_delta": pipe.packed().count()
        - packed_before
        - out["trickle_3docs"]["packed_delta"]
        - out["trickle_3docs_dedup"]["packed_delta"],
    }

    # steady-state compaction, timed as its own amortized op (folds
    # every table, LWW on index/counts)
    out["compaction"] = _compact(6)

    # offsets stay contiguous per shard across the whole horizon
    from pyspark.sql import Window as W

    packed = pipe.packed()
    lagged = packed.withColumn(
        "prev_end",
        F.lag(F.col("offset") + F.col("n_tokens")).over(
            W.partitionBy("shard").orderBy("offset")
        ),
    )
    gaps = lagged.where(
        F.col("prev_end").isNotNull()
        & (F.col("offset") != F.col("prev_end"))
    ).count()
    out["pack_contiguity"] = {"offset_gaps": gaps}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"metric": "pipeline smoke",
                      "cpu_probe_sec": _cpu_probe_sec(), "ops": out}))
    spark.stop()


def smoke_pipeline_scale() -> None:
    """Isolated: the composed IngestPipeline a DECADE past the 1.5M
    smoke — SCALE_DOCS (default 15M) standing docs — to validate the
    batch-proportionality claim with measurements (r11 verdict #4):
    once the standing state is compacted, a probe batch's wall must
    follow the BATCH, not the corpus.  Two follow-up batches make the
    claim testable: a 15k-doc batch (the SAME absolute size as the
    1.5M smoke's 1% batch — its wall should be in the same band, not
    10x) and a 150k-doc batch (1% of this corpus).

    Fixture alias trap: the synthetic token formula is periodic mod
    1,000,003, so 15M raw seeds alias onto each other and would
    manufacture unplanned dup families.  The corpus is therefore built
    as SCALE_SLICES disjoint 1/N-slices, each re-prefixed to its own
    token alphabet ('w…' → '<letter>…', the summary smoke's
    precedent): within-slice structure matches the 1.5M fixture
    exactly (planted families, gate failures), across slices there is
    ZERO true fingerprint overlap.  Planted follow-up copies draw from
    the sliced corpus verbatim; fresh docs use yet another prefix."""
    import shutil
    import tempfile

    spark = get_spark(
        "scalesmoke-pipeline-scale",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.streaming.pipeline import (
        SCHEMAS as PIPE_SCHEMAS,
        IngestPipeline,
    )
    from datayours_spark.streaming.winnowstream import (
        _index_lww,
        rebuild_index_summary,
    )

    n_docs = int(os.environ.get("SCALE_DOCS", 15_000_000))
    slices = int(os.environ.get("SCALE_SLICES", 10))
    per = n_docs // slices

    def _with_gate_cols(df, fail_mod):
        toks = F.split(F.col("text"), " ")
        text = F.concat(
            F.lit("the "), F.element_at(toks, 1),
            F.lit(" and "), F.element_at(toks, 2),
            F.lit(" with "), F.element_at(toks, 3),
            F.lit(" of "), F.element_at(toks, 4),
            F.lit(" to "),
            F.array_join(F.slice(toks, 5, 1_000_000), " "),
        )
        if fail_mod:
            text = F.when(
                F.pmod(F.col("doc_id"), F.lit(fail_mod)) == 0,
                F.lit("w1 w2"),
            ).otherwise(text)
        return df.select(
            "doc_id", text.alias("text"), F.lit("web").alias("source")
        )

    def sliced_corpus(fail_mod):
        """SCALE_SLICES alias-free 1/N slices under disjoint ids and
        token alphabets — lazily unioned, never collected."""
        parts = []
        for i in range(slices):
            pref = chr(ord("a") + i)
            parts.append(
                synthetic_documents(spark, per).select(
                    (F.col("doc_id") + i * per).alias("doc_id"),
                    F.regexp_replace("text", "w", pref).alias("text"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return _with_gate_cols(out, fail_mod)

    def slice_copies(n, id_base, off0=0, stride=1):
        """n verbatim copies of corpus docs spread across ALL slices
        (copy j draws slice j%slices, in-slice offset
        (off0 + j·stride) % per), under fresh ids — planted new×old
        near-dups at containment 1.0 (copies of gate-failed or
        eval-twin source docs drop at their own earlier stage, which
        is equally a drop)."""
        src = spark.range(n).select(
            (
                F.pmod(F.col("id"), F.lit(slices)) * per
                + F.pmod(
                    F.lit(off0) + F.floor(F.col("id") / slices) * stride,
                    F.lit(per),
                )
            ).cast("bigint").alias("doc_id"),
            (F.col("id") + id_base).cast("bigint").alias("new_id"),
        )
        return sliced_corpus(97).join(src, "doc_id").select(
            F.col("new_id").alias("doc_id"), "text", "source"
        )

    work = tempfile.mkdtemp(
        prefix="scalesmoke_pscale_", dir="/root/repo/spark-warehouse"
    )
    n_eval = max(n_docs // 1000, 10)
    # eval set: copies of slice-0 docs 0..n_eval-1 (the decon twins)
    eval_docs = (
        _with_gate_cols(
            synthetic_documents(spark, n_eval).select(
                "doc_id", F.regexp_replace("text", "w", "a").alias("text")
            ),
            None,
        )
        .select((F.col("doc_id") + n_docs * 10).alias("doc_id"), "text")
        .localCheckpoint(eager=True)
    )
    pipe = IngestPipeline(
        spark=spark,
        input_dir=f"{work}/in",
        store_dir=f"{work}/store",
        checkpoint_dir=f"{work}/ckpt",
        min_words=50,
        k=4, w=4, threshold=0.5,
        shards=32, capacity=2048,
        # ~104M real posting pairs per 1.5M slice (planted families)
        # x SCALE_SLICES — raise the guard deliberately for this
        # corpus (the documented escape hatch)
        max_join_pairs=6_000_000_000,
        eval_docs=eval_docs,
        decon_threshold=0.8,
        index_buckets=256,
        compact_every=None,
        summary_prune=smoke_prune_policy(),
    )
    out: dict[str, dict] = {}

    def _compact(upto: int) -> dict:
        t0 = time.perf_counter()
        for name, schema in PIPE_SCHEMAS.items():
            if name in ("payload", "scores"):
                continue
            pipe.store.compact(
                name, schema, upto,
                fold=_index_lww if name in ("index", "counts") else None,
            )
        fold_sec = round(time.perf_counter() - t0, 1)
        res = {"sec": fold_sec}
        if pipe.summary_prune:
            t1 = time.perf_counter()
            m_p = rebuild_index_summary(pipe.store, pipe.index_buckets)
            res["summary_rebuild_sec"] = round(time.perf_counter() - t1, 1)
            res["summary_m_p"] = m_p
            res["fold_sec"] = fold_sec
            res["sec"] = round(fold_sec + res["summary_rebuild_sec"], 1)
        return res

    corpus = sliced_corpus(fail_mod=97).localCheckpoint(eager=True)
    t = time.perf_counter()
    pipe._process(corpus, 0)
    out["standing_ingest"] = {
        "docs": n_docs,
        "sec": round(time.perf_counter() - t, 1),
        "gated_out": pipe.gates().where("NOT pass_all").count(),
        "contaminated": pipe.contamination()
        .select("doc_id").distinct().count(),
        "planted_eval_twins": n_eval,
        "dup_pairs": pipe.pairs().count(),
        "packed": pipe.packed().count(),
    }
    out["compaction_after_bulk"] = _compact(0)

    packed_before = out["standing_ingest"]["packed"]
    fresh_seed = 0
    for bid, bsize, label in ((1, 15_000, "batch_15k"),
                              (2, 150_000, "batch_150k_1pct")):
        # half fresh (disjoint 'x' alphabet AND per-batch disjoint
        # seed ranges — zero true overlap with the corpus or earlier
        # batches), half verbatim copies spread across every slice
        # (must all drop)
        fresh = (
            _with_gate_cols(
                synthetic_documents(spark, fresh_seed + bsize // 2)
                .where(F.col("doc_id") >= fresh_seed)
                .select(
                    "doc_id",
                    F.regexp_replace("text", "w", "x").alias("text"),
                ),
                None,
            )
            .select(
                (F.col("doc_id") + n_docs * (20 + bid) + bsize).alias(
                    "doc_id"
                ),
                "text", "source",
            )
        )
        fresh_seed += bsize // 2
        copies = slice_copies(
            bsize // 2, id_base=n_docs * (20 + bid),
            off0=n_eval + 11 + bid * 997, stride=7,
        )
        batch = fresh.unionByName(copies).localCheckpoint(eager=True)
        t = time.perf_counter()
        pipe._process(batch, bid)
        sec = round(time.perf_counter() - t, 1)
        packed_now = pipe.packed().count()
        out[label] = {
            "batch_docs": bsize,
            "sec": sec,
            "packed_delta": packed_now - packed_before,
        }
        packed_before = packed_now

    # trickle A: 3 eval twins (decon drops everything, early exit)
    trickle = (
        _with_gate_cols(
            synthetic_documents(spark, 3).select(
                "doc_id", F.regexp_replace("text", "w", "a").alias("text")
            ),
            None,
        )
        .select((F.col("doc_id") + n_docs * 50).alias("doc_id"),
                "text", "source")
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    t = time.perf_counter()
    pipe._process(trickle, 3)
    out["trickle_3docs"] = {
        "sec": round(time.perf_counter() - t, 1),
        "packed_delta": pipe.packed().count() - packed_before,
    }
    # trickle B: 3 copies of non-eval corpus docs — the dedup path
    trickle_dd = (
        slice_copies(3, id_base=n_docs * 60, off0=n_eval + 5)
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    t = time.perf_counter()
    pipe._process(trickle_dd, 4)
    out["trickle_3docs_dedup"] = {
        "sec": round(time.perf_counter() - t, 1),
        "packed_delta": pipe.packed().count()
        - packed_before
        - out["trickle_3docs"]["packed_delta"],
    }

    # trickle C: 3 genuinely FRESH docs ('q' alphabet — disjoint from
    # every slice prefix and the batches' 'x') — the common
    # steady-crawl shape.  With summary_prune on, the literal bloom
    # verdict proves every h absent from the compacted index and the
    # posting scan drops out of the pair plan (r12 verdict #3): the
    # wall should be near the all-drop trickle's corpus-constant
    # floor, not the dedup trickle's index-sized term.
    trickle_fresh = (
        _with_gate_cols(
            synthetic_documents(spark, 3).select(
                "doc_id",
                F.regexp_replace("text", "w", "q").alias("text"),
            ),
            None,
        )
        .select((F.col("doc_id") + n_docs * 70).alias("doc_id"),
                "text", "source")
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    t = time.perf_counter()
    pipe._process(trickle_fresh, 5)
    out["trickle_3docs_fresh"] = {
        "sec": round(time.perf_counter() - t, 1),
        "packed_delta": pipe.packed().count()
        - packed_before
        - out["trickle_3docs"]["packed_delta"]
        - out["trickle_3docs_dedup"]["packed_delta"],
    }

    out["compaction"] = _compact(5)

    from pyspark.sql import Window as W

    packed = pipe.packed()
    lagged = packed.withColumn(
        "prev_end",
        F.lag(F.col("offset") + F.col("n_tokens")).over(
            W.partitionBy("shard").orderBy("offset")
        ),
    )
    gaps = lagged.where(
        F.col("prev_end").isNotNull()
        & (F.col("offset") != F.col("prev_end"))
    ).count()
    out["pack_contiguity"] = {"offset_gaps": gaps}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"metric": "pipeline scale smoke", "slices": slices,
                      "cpu_probe_sec": _cpu_probe_sec(), "ops": out}))
    spark.stop()


def smoke_qc() -> None:
    """Isolated: the hashed linear quality classifier at SCALE_DOCS docs
    with a production-sized 2^18-bucket weight table (the fastText
    hashing-trick dimension) — the claim under test: scoring is one
    feature explode + ONE broadcast weight join + one doc-keyed combine,
    corpus-linear with the model entering as broadcast state, never a
    literal fold or a per-row Python path."""
    spark = get_spark(
        "scalesmoke-qc",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.text import (
        hashed_weight_table,
        quality_classifier,
    )

    buckets = int(os.environ.get("SCALE_QC_BUCKETS", 1 << 18))
    docs = synthetic_documents(spark, N_DOCS).localCheckpoint(eager=True)
    t = time.perf_counter()
    w = hashed_weight_table(spark, buckets, scale=1000).localCheckpoint(
        eager=True
    )
    t_w = round(time.perf_counter() - t, 2)
    t = time.perf_counter()
    out = quality_classifier(docs, w, buckets, w_scale=1000.0)
    kept = out.agg(
        F.count("*").alias("n"),
        F.sum(F.col("keep").cast("int")).alias("k"),
        F.round(F.avg("score"), 4).alias("mean_score"),
    ).first()
    sec = time.perf_counter() - t
    print(json.dumps({
        "metric": "quality classifier smoke",
        "ops": {
            "weights": {"buckets": buckets, "build_sec": t_w},
            "score": {
                "docs": N_DOCS, "sec": round(sec, 1),
                "docs_per_sec": int(N_DOCS / sec),
                "kept": int(kept["k"]), "mean_score": float(kept["mean_score"]),
            },
        },
    }))
    spark.stop()


def smoke_knn() -> None:
    """Isolated: ANN-routed batch auto-labeling at SCALE_KNN_QUERIES
    (default 100k) queries against a SCALE_VECS clustered corpus — the
    r8 verdict's knn_predict scale concern.  The brute-force form scans
    the corpus at full vector width per query batch; the routed form
    votes over the IVF-PQ shortlist (codes + shortlist full vectors).
    The corpus is planted (centroid + noise, label = cluster identity)
    so prediction accuracy against the planted label is a real quality
    readout, not just a wall clock."""
    spark = get_spark(
        "scalesmoke-knn",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.similarity import (
        ivf_assign,
        knn_predict_routed,
        pq_codebooks,
        pq_encode,
    )

    n_vecs = int(os.environ.get("SCALE_VECS", 200_000))
    n_queries = int(os.environ.get("SCALE_KNN_QUERIES", 100_000))
    # the sqrt(N) IVF regime: candidate volume per query ~ N/k_clusters,
    # so an undersized k turns the probe join quadratic-ish
    k_clusters = int(
        os.environ.get("SCALE_K", max(int(n_vecs ** 0.5), 64))
    )
    dim = 64
    k = 10

    center = F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(k_clusters))
    cvec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.pmod(
                F.xxhash64(F.concat(center.cast("string"), F.lit("kc"),
                                    d.cast("string"))),
                F.lit(2001),
            )
            - 1000
        )
        / 1000.0,
    )
    noise = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.pmod(
                F.xxhash64(F.concat(F.col("id").cast("string"), F.lit("kn"),
                                    d.cast("string"))),
                F.lit(2001),
            )
            - 1000
        )
        / 5000.0,
    )
    emb = (
        spark.range(n_vecs)
        .select(
            F.col("id").alias("vec_id"),
            F.zip_with(cvec, noise, lambda a, b: a + b).alias("embedding"),
            center.cast("int").alias("label"),
        )
        .localCheckpoint(eager=True)
    )
    cent = (
        spark.range(k_clusters)
        .select(
            F.col("id").cast("int").alias("centroid_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda d: (
                    F.pmod(
                        F.xxhash64(F.concat(F.col("id").cast("string"),
                                            F.lit("kc"), d.cast("string"))),
                        F.lit(2001),
                    )
                    - 1000
                )
                / 1000.0,
            ).alias("cv"),
        )
        .withColumn(
            "cnorm",
            F.sqrt(F.aggregate(F.transform(F.col("cv"), lambda x: x * x),
                               F.lit(0.0), lambda a, b: a + b)),
        )
        .localCheckpoint(eager=True)
    )
    out: dict[str, dict] = {}

    t = time.perf_counter()
    books = pq_codebooks(emb, m=8, ks=16, iters=2, dim=dim)
    out["pq_train"] = {"sec": round(time.perf_counter() - t, 1)}
    t = time.perf_counter()
    codes = pq_encode(emb, books, dim).localCheckpoint(eager=True)
    codes.count()
    assign = ivf_assign(emb, cent).localCheckpoint(eager=True)
    assign.count()
    out["encode_assign"] = {
        "sec": round(time.perf_counter() - t, 1), "vecs": n_vecs,
    }

    qids = list(range(n_queries))
    t = time.perf_counter()
    pred = knn_predict_routed(
        emb, qids, k, cent, books, dim,
        nprobe=1, codes=codes, assignments=assign,
    ).localCheckpoint(eager=True)
    n_pred = pred.count()
    wall = time.perf_counter() - t
    # planted-label accuracy: the query's own cluster label should win
    truth = emb.select(F.col("vec_id").alias("query_id"),
                       F.col("label").cast("long").alias("true_label"))
    acc = (
        pred.join(truth, "query_id")
        .agg(F.avg((F.col("pred_label") == F.col("true_label"))
                   .cast("int")).alias("a"))
        .first()["a"]
    )
    out["routed_predict"] = {
        "sec": round(wall, 1),
        "queries": n_queries,
        "predicted": n_pred,
        "queries_per_sec": int(n_queries / wall),
        "planted_label_accuracy": round(float(acc), 4),
    }
    print(json.dumps({
        "metric": "knn routed smoke",
        "vecs": n_vecs, "k_clusters": k_clusters, "k": k, "ops": out,
    }))
    spark.stop()


def smoke_rp() -> None:
    """Isolated: JL random projection at PRODUCTION dims (default
    1024→64) — the r8 verdict's missing measurement.  The literal-fold
    form evaluates in_dim × out_dim interpreted expression steps PER
    ROW (65,536 at 1024→64, CodegenFallback), so it is timed over a
    bounded slice (SCALE_RP_FOLD_ROWS) and reported as rows/s; the
    Arrow matmul form (`project_embeddings_arrow`, one BLAS dgemm per
    batch) runs over the FULL SCALE_VECS corpus.  A joined sample pins
    the two forms byte-equal at round_dp (the differential test holds
    the same at unit scale)."""
    import shutil
    import tempfile

    spark = get_spark(
        "scalesmoke-rp",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.similarity import (
        project_embeddings,
        project_embeddings_arrow,
    )

    n_vecs = int(os.environ.get("SCALE_VECS", 200_000))
    in_dim = int(os.environ.get("SCALE_RP_IN", 1024))
    out_dim = int(os.environ.get("SCALE_RP_OUT", 64))
    fold_rows = int(os.environ.get("SCALE_RP_FOLD_ROWS", 20_000))

    vec = F.transform(
        F.sequence(F.lit(0), F.lit(in_dim - 1)),
        lambda d: (
            F.pmod(
                F.xxhash64(F.concat(F.col("id").cast("string"),
                                    F.lit("rp"), d.cast("string"))),
                F.lit(2001),
            )
            - 1000
        )
        / 1000.0,
    )
    work = tempfile.mkdtemp(
        prefix="scalesmoke_rp_", dir="/root/repo/spark-warehouse"
    )
    (
        spark.range(n_vecs)
        .select(F.col("id").alias("vec_id"), vec.alias("embedding"))
        .write.mode("overwrite")
        .parquet(f"{work}/emb")
    )
    # a separately-written slice keeps the fold measurement partitioned
    # normally (a limit() would collapse it onto one task)
    (
        spark.range(fold_rows)
        .select(F.col("id").alias("vec_id"), vec.alias("embedding"))
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{work}/emb_slice")
    )
    emb = spark.read.parquet(f"{work}/emb")
    emb_slice = spark.read.parquet(f"{work}/emb_slice")
    out: dict[str, dict] = {}

    t = time.perf_counter()
    fold_df = project_embeddings(emb_slice, in_dim, out_dim, force="fold")
    build_s = round(time.perf_counter() - t, 2)  # 65k-literal plan build
    t = time.perf_counter()
    fold_df.write.format("noop").mode("overwrite").save()
    fold_s = time.perf_counter() - t
    out["fold"] = {
        "rows": fold_rows, "plan_build_sec": build_s,
        "exec_sec": round(fold_s, 2),
        "rows_per_sec": int(fold_rows / fold_s),
    }

    t = time.perf_counter()
    arrow_df = project_embeddings_arrow(emb, in_dim, out_dim)
    arrow_df.write.format("noop").mode("overwrite").save()
    arrow_s = time.perf_counter() - t
    out["arrow"] = {
        "rows": n_vecs, "exec_sec": round(arrow_s, 2),
        "rows_per_sec": int(n_vecs / arrow_s),
    }

    # equality at round_dp on the slice (differential test holds the
    # same at unit scale; this pins it at production dims).  Reuses the
    # already-built fold plan — building it anew costs another
    # plan_build_sec of Catalyst time on the 65k literals.
    a = fold_df
    b = project_embeddings_arrow(emb_slice, in_dim, out_dim)
    pcols = [c for c in a.columns if c != "vec_id"]
    joined = a.alias("a").join(b.alias("b"), "vec_id")
    mismatch = joined.filter(
        " OR ".join(f"a.{c} <> b.{c}" for c in pcols)
    ).count()
    out["fold_eq_arrow_at_round_dp"] = {
        "rows": fold_rows, "mismatching_rows": mismatch,
    }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "metric": "rp smoke",
        "in_dim": in_dim, "out_dim": out_dim, "ops": out,
    }))
    spark.stop()


def smoke_novelty() -> None:
    """Isolated: per-doc n-gram novelty at SCALE_DOCS — the
    first-occurrence posting shape (one shingle-keyed min-aggregate +
    one join back) over ~48 shingles/doc.  The synthetic corpus's
    near-dup families (ids % 10 in {0,1} share 48 of 50 tokens) give
    the expected signal: the family's higher id scores near zero
    novelty while singleton docs score ~1."""
    spark = get_spark(
        "scalesmoke-novelty",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.dedup import ngram_novelty

    docs = synthetic_documents(spark, N_DOCS).localCheckpoint(eager=True)
    t = time.perf_counter()
    nov = ngram_novelty(docs, n=3)
    agg = nov.agg(
        F.count("*").alias("docs"),
        F.sum("n_shingles").alias("shingles"),
        F.round(F.avg("novelty"), 4).alias("mean_novelty"),
        F.sum(F.when(F.col("novelty") <= 0.1, 1).otherwise(0)).alias(
            "near_zero"
        ),
    ).first()
    dt = time.perf_counter() - t
    # family members with the HIGHER id (id % 10 == 1) repeat their
    # partner's 48 family tokens -> expect >= one near-zero doc per pair
    expected_pairs = N_DOCS // 10
    print(json.dumps({
        "metric": "novelty smoke",
        "n_docs": int(agg["docs"]),
        "shingle_rows": int(agg["shingles"]),
        "sec": round(dt, 1),
        "docs_per_s": int(N_DOCS / max(dt, 1e-9)),
        "mean_novelty": float(agg["mean_novelty"]),
        "near_zero_docs": int(agg["near_zero"]),
        "planted_pairs": expected_pairs,
        "signal_ok": int(agg["near_zero"]) >= expected_pairs,
    }))
    spark.stop()


def smoke_bm25() -> None:
    """Isolated: BM25 top-k at SCALE_DOCS — measures the r8 plan fix
    (query-term semi-join BELOW the tf aggregate).  Reports the corpus
    token count vs the matched-token count actually entering the tf
    shuffle: the volume ratio is the point — at 100 TB only the matched
    posting lists shuffle, the corpus-wide (doc, token) relation never
    does (the one corpus aggregate left, dlen, partial-aggs map-side)."""
    spark = get_spark(
        "scalesmoke-bm25",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.text import bm25_topk

    docs = synthetic_documents(spark, N_DOCS).localCheckpoint(eager=True)
    # query terms drawn from the synthetic vocabulary (same formula as
    # synthetic_documents): two family tokens, a doc-specific token, and
    # a term matching nothing
    tok = lambda seed, j: "w" + str(
        (seed * seed + seed * 2_654_435_761 + j * j * 7_919 + j * 104_729)
        % 1_000_003
    )
    qs = [(1, f"{tok(0, 1)} {tok(0, 49)}"), (2, f"{tok(2, 5)} nomatchterm")]
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    total_toks = toks.count()
    qterm_list = [t for _, q in qs for t in q.split(" ")]
    matched_toks = toks.where(F.col("tok").isin(qterm_list)).count()
    t = time.perf_counter()
    out_rows = bm25_topk(docs, qs, k=10).count()
    dt = time.perf_counter() - t
    print(json.dumps({
        "metric": "bm25 smoke",
        "n_docs": N_DOCS,
        "corpus_tokens": total_toks,
        "matched_tokens_into_tf_shuffle": matched_toks,
        "shuffle_reduction": round(total_toks / max(matched_toks, 1), 1),
        "topk_rows": out_rows,
        "sec": round(dt, 1),
        "docs_per_s": int(N_DOCS / max(dt, 1e-9)),
    }))
    spark.stop()


def smoke_quality() -> None:
    """Isolated: the round-8 corpus-statistics trio at SCALE_DOCS —
    mixing weights (one strata-keyed combine), CCNet perplexity buckets
    (token-keyed logprob join + broadcast tercile thresholds; the
    Window-free formulation is the point at this scale), and the
    per-source quality report card (single scan, Gopher booleans riding
    the aggregate projection).  All three are corpus-linear single-pass
    shapes; the smoke pins that none of them hides a corpus-wide sort
    or window."""
    spark = get_spark(
        "scalesmoke-quality",
        driver_memory=os.environ.get("SCALE_DRIVER_MEM", "48g"),
    )
    from datayours_spark.functions.sampling import mixing_weights
    from datayours_spark.functions.text import gopher_rules, ppl_buckets

    docs = (
        synthetic_documents(spark, N_DOCS)
        .withColumn(
            "lang",
            F.element_at(
                F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("xx")),
                (F.col("doc_id") % 4 + 1).cast("int"),
            ),
        )
        .withColumn("source", F.concat(F.lit("src"), (F.col("doc_id") % 20)))
        .localCheckpoint(eager=True)
    )

    t = time.perf_counter()
    mw = mixing_weights(docs, stratum_col="source", alpha=0.5).collect()
    t_mix = time.perf_counter() - t
    assert len(mw) == 20
    alloc = sum(r["alloc_tokens"] for r in mw)

    t = time.perf_counter()
    plan = ppl_buckets(docs, by="lang")
    bucket_counts = {
        r["bucket"]: r["n"]
        for r in plan.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    t_ppl = time.perf_counter() - t
    exec_plan = plan._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in exec_plan

    t = time.perf_counter()
    g = gopher_rules(docs, carry_cols=("source",))
    srcq = (
        g.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(F.col("pass_all").cast("int")), 4).alias("pass_rate"),
        )
        .collect()
    )
    t_src = time.perf_counter() - t

    print(json.dumps({
        "metric": "quality smoke",
        "n_docs": N_DOCS,
        "mix_sec": round(t_mix, 1),
        "mix_alloc_tokens": int(alloc),
        "ppl_sec": round(t_ppl, 1),
        "ppl_window_free": "Window" not in exec_plan,
        "ppl_buckets": {k: int(v) for k, v in sorted(bucket_counts.items())},
        "source_report_sec": round(t_src, 1),
        "n_sources": len(srcq),
    }))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else ""
    if mode == "mixed_fetch":
        smoke_mixed_fetch()
    elif mode == "refresh_routed":
        smoke_refresh_routed()
    elif mode == "banded":
        smoke_banded()
    elif mode == "edit_verify":
        smoke_edit_verify()
    elif mode == "incremental":
        smoke_incremental()
    elif mode == "vocab":
        smoke_vocab()
    elif mode == "winnow":
        smoke_winnow()
    elif mode == "sq":
        smoke_sq()
    elif mode == "bm25":
        smoke_bm25()
    elif mode == "semdedup_build":
        smoke_semdedup_build()
    elif mode == "winnowstream":
        smoke_winnowstream()
    elif mode == "quality":
        smoke_quality()
    elif mode == "prototype":
        smoke_prototype()
    elif mode == "novelty":
        smoke_novelty()
    elif mode == "rp":
        smoke_rp()
    elif mode == "knn":
        smoke_knn()
    elif mode == "pipeline":
        smoke_pipeline()
    elif mode == "pipeline_scale":
        smoke_pipeline_scale()
    elif mode == "bpe":
        smoke_bpe()
    elif mode == "packids":
        smoke_packids()
    elif mode == "shuffle":
        smoke_shuffle()
    elif mode == "summary":
        smoke_summary()
    elif mode == "qc":
        smoke_qc()
    else:
        main()
