#!/usr/bin/env python
"""Pipeline scale smoke: the composed streaming ingest DAG
(`streaming.pipeline.IngestPipeline`) driven one `foreachBatch` trigger
per phase over a generated corpus with planted expectations.

Phases, each in its own `perfbench.spans.Tracer` span (jobs, stages,
tasks, shuffle bytes, seconds):

  standing_ingest        batch 0, the whole corpus (every 97th doc is a
                         planted gate failure)
  compaction_after_bulk  fold the bulk load into the compacted view and
                         rebuild the bloom summary
  batch_1pct             1% batch: fresh docs plus verbatim corpus copies
  trickle_dedup_drop     3 corpus copies outside the eval range: dropped
                         as near-dups
  trickle_decon_drop     3 eval-range copies: dropped by decontamination
  trickle_fresh_pack     3 fresh docs: nothing in the index matches;
                         docs 0 and 1 are one near-dup family, so 2 pack

then sanity counts and the pack-contiguity check.  Job counts are
deterministic on a quiet host; AQE broadcast fallbacks under memory or
CPU pressure can add jobs on a loaded one, so they are printed next to
CPU probes taken before and after (1.25 s = a healthy 4-core host).

Usage: python tools/scalesmoke.py            # 20,000 docs: per-trigger job floors
       python tools/scalesmoke.py 1500000    # the 1.5M-doc pipeline smoke
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import Window
from pyspark.sql import functions as F

from bench import _cpu_probe_sec
from datayours_spark.session import get_spark
from datayours_spark.streaming.pipeline import SCHEMAS, IngestPipeline
from datayours_spark.streaming.winnowstream import (
    _index_lww,
    rebuild_index_summary,
)
from perfbench.spans import Tracer

#: gitignored; each run makes and removes its own directory under it
WORK_ROOT = os.path.join(ROOT, "spark-warehouse")


def synthetic_documents(spark, n_docs: int):
    """(doc_id, text) with 50 pseudo-random tokens per doc, fully
    column-expression generated (never collected).  Docs with id % 10 in
    {0, 1} form near-dup PAIRS: both share their family's first 48 tokens
    and keep 2 id-specific tokens, so exact dedup finds nothing but
    shingle-Jaccard ≈ 0.92 puts them squarely above the 0.5 near-dup
    threshold."""
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
    return base.select("doc_id", F.concat_ws(" ", toks).alias("text"))


def with_gate_cols(df, fail_mod: int | None = None):
    """Weave English stopwords into each doc so it passes the Gopher
    stopword rule.  A FIXED prefix would be boilerplate: identical
    leading shingles give one winnow posting shared by every doc, and
    the pair guard (correctly) refuses the quadratic join.  Interleaving
    the stopwords with the doc's own tokens keeps every shingle
    doc-specific.  ``fail_mod`` plants a gate failure: every
    fail_mod-th doc becomes two gibberish words (fails word count AND
    stop words)."""
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
            F.pmod(F.col("doc_id"), F.lit(fail_mod)) == 0, F.lit("w1 w2")
        ).otherwise(text)
    return df.select("doc_id", text.alias("text"), F.lit("web").alias("source"))


def _trickle(df, id_base: int):
    """A 3-doc stream drop: one file, so one partition (a wider trickle
    is a harness artifact that inflates every batch-side scan)."""
    return (
        with_gate_cols(df)
        .select((F.col("doc_id") + id_base).alias("doc_id"), "text", "source")
        .coalesce(1)
        .localCheckpoint(eager=True)
    )


def run(spark, n_docs: int) -> dict:
    """Run every phase on ``spark`` and return the per-phase record."""
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="scalesmoke_", dir=WORK_ROOT)
    try:
        # eval set: 1/1000th of the corpus copied verbatim under fresh
        # ids — every eval doc contaminates its corpus twin at
        # containment 1.0, a planted expectation for the decon stage
        n_eval = max(n_docs // 1000, 10)
        eval_docs = (
            with_gate_cols(synthetic_documents(spark, n_eval))
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
            # the planted dup families produce ~104M real posting pairs
            # at 1.5M docs: raise the guard (its documented escape hatch)
            max_join_pairs=500_000_000,
            eval_docs=eval_docs,
            decon_threshold=0.8,
            index_buckets=256,
            # compaction is its own phase below, not billed to a batch
            compact_every=None,
            summary_prune=True,
        )
        corpus = with_gate_cols(
            synthetic_documents(spark, n_docs), fail_mod=97
        ).localCheckpoint(eager=True)

        # one span per phase: its job group holds exactly the phase's jobs
        tracer = Tracer(spark, enabled=True)
        out: dict[str, dict] = {}

        def phase(name: str, body) -> None:
            with tracer.span(name) as sp:
                body()
            tracer.resolve()
            out[name] = {k: sp[k] for k in ("jobs", "stages", "tasks", "shuffle_bytes")}
            out[name]["sec"] = round(sp["end"] - sp["start"], 2)

        packed_before = 0

        def trigger(name: str, batch, batch_id: int) -> None:
            nonlocal packed_before
            phase(name, lambda: pipe._process(batch, batch_id))
            packed_now = pipe.packed().count()
            out[name]["packed_delta"] = packed_now - packed_before
            packed_before = packed_now

        trigger("standing_ingest", corpus, 0)
        out["standing_ingest"].update(
            docs=n_docs,
            gated_out=pipe.gates().where("NOT pass_all").count(),
            contaminated=pipe.contamination().select("doc_id").distinct().count(),
            planted_eval_twins=n_eval,
            dup_pairs=pipe.pairs().count(),
            packed=out["standing_ingest"].pop("packed_delta"),
        )

        # follow-up batches must probe the COMPACTED state (the
        # batch-proportional claim), not a corpus-sized tail
        def compact() -> None:
            for name, schema in SCHEMAS.items():
                if name not in ("payload", "scores"):
                    pipe.store.compact(
                        name, schema, 0,
                        fold=_index_lww if name in ("index", "counts") else None,
                    )
            rebuild_index_summary(pipe.store, pipe.index_buckets)

        phase("compaction_after_bulk", compact)

        # even new ids copy corpus docs verbatim (must drop), odd new ids
        # are fresh seeds (must be kept)
        b = n_docs // 100
        fresh = (
            synthetic_documents(spark, n_docs + b)
            .where(F.col("doc_id") >= n_docs)
            .where(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        )
        copies = (
            synthetic_documents(spark, n_docs)
            .join(
                spark.range(0, b, 2).select(
                    (F.col("id") + n_docs).alias("new_id"),
                    F.pmod(F.col("id") * 7 + 1, F.lit(n_docs)).alias("doc_id"),
                ),
                "doc_id",
            )
            .select(F.col("new_id").alias("doc_id"), "text")
        )
        batch1 = with_gate_cols(fresh.unionByName(copies)).localCheckpoint(eager=True)
        trigger("batch_1pct", batch1, 1)

        # copies of corpus docs OUTSIDE the eval range: they survive the
        # gate and decon, reach the dedup posting join against the
        # standing index, and drop as near-dups
        dedup = synthetic_documents(spark, n_eval + 3).where(F.col("doc_id") >= n_eval)
        trigger("trickle_dedup_drop", _trickle(dedup, n_docs * 50), 2)
        # copies of EVAL-range docs: decon drops all three (the
        # all-empty early exit)
        trigger("trickle_decon_drop", _trickle(synthetic_documents(spark, 3), n_docs * 60), 3)
        # 3 fresh docs (re-alphabetted, no fingerprint overlap with the
        # index): the steady-crawl shape; the bloom summary proves every
        # h absent and the compacted posting scan drops out of the pair
        # plan.  Docs 0 and 1 are one near-dup family, so one drops.
        fresh3 = synthetic_documents(spark, 3).select(
            "doc_id", F.regexp_replace("text", "w", "q").alias("text")
        )
        trigger("trickle_fresh_pack", _trickle(fresh3, n_docs * 70), 4)

        # offsets stay contiguous per shard across the whole horizon
        packed = pipe.packed()
        prev_end = F.lag(F.col("offset") + F.col("n_tokens")).over(
            Window.partitionBy("shard").orderBy("offset")
        )
        gaps = (
            packed.withColumn("prev_end", prev_end)
            .where(F.col("prev_end").isNotNull() & (F.col("offset") != F.col("prev_end")))
            .count()
        )
        out["sanity"] = {
            "pairs": pipe.pairs().count(),
            "packed": packed_before,
            "contaminated": pipe.contamination().select("doc_id").distinct().count(),
            "offset_gaps": gaps,
        }
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    probe_before = _cpu_probe_sec()
    # local mode: the driver heap is the executor heap; 10g holds 1.5M
    # docs on a 15 GB host
    spark = get_spark("datayours-scalesmoke", driver_memory="10g")
    out = run(spark, n_docs)
    print(json.dumps({"metric": "pipeline smoke", "docs": n_docs,
                      "cpu_probe_sec": [probe_before, _cpu_probe_sec()],
                      "ops": out}))
    spark.stop()


if __name__ == "__main__":
    main()
