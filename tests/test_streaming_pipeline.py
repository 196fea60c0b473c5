"""Composed streaming ingest DAG (gate → winnow dedup → pack): the
stream's tables must equal the batch composition over the full corpus,
across replay and forced compaction."""

import shutil
from pathlib import Path

from pyspark.sql import functions as F

from datayours_spark.streaming.pipeline import (
    IngestPipeline,
    ingest_pipeline_batch,
)

TMP = Path(__file__).resolve().parent / "_tmp" / "pipeline"

# every PASSING doc: >= 6 words, >= 2 of the 8 Gopher stopwords, all
# alphabetic, mean word length in [3, 10]
GOOD = "the quick brown fox and that lazy dog with grace"
DOCS = [
    (1, GOOD + " alpha beta gamma", "web"),
    (2, "xx yy", "web"),                       # FAILS word count (< 6)
    (3, GOOD + " alpha beta delta", "web"),    # near-dup of 1
    (10, "walrus zebra quokka lemur panda otter", "crawl"),  # no stopwords
    (11, GOOD + " epsilon zeta eta", "crawl"),
    (20, GOOD + " alpha beta theta", "web"),   # near-dup of 1 and 3
    (21, GOOD + " iota kappa mu nu xi omicron", "crawl"),
]
SCHEMA = "doc_id bigint, text string, source string"
KW = dict(min_words=6, max_words=100, k=3, w=3, threshold=0.3,
          shards=2, capacity=8)


class TestIngestPipeline:
    def test_stream_equals_batch_composition(self, spark):
        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        pipe = IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            store_dir=str(TMP / "store"),
            checkpoint_dir=str(TMP / "ckpt"),
            compact_every=2,            # force compaction mid-run
            **KW,
        )
        batches = [DOCS[:3], DOCS[3:5], DOCS[5:]]
        for i, rows in enumerate(batches):
            pipe._process(spark.createDataFrame(rows, SCHEMA), i)

        all_docs = spark.createDataFrame(DOCS, SCHEMA)
        b_gates, _sc, _b_cont, b_pairs, b_packed, _pl = ingest_pipeline_batch(all_docs, **KW)

        # 1. gates: per-row scoring — identical by construction
        assert {tuple(r) for r in pipe.gates().collect()} == {
            tuple(r) for r in b_gates.collect()
        }
        # the two planted failures were gated, nothing else
        gated = {
            r.doc_id for r in pipe.gates().where("NOT pass_all").collect()
        }
        assert gated == {2, 10}

        # 2. pairs: union of per-batch emissions == full recompute
        got_pairs = {tuple(r) for r in pipe.pairs().collect()}
        assert got_pairs == {tuple(r) for r in b_pairs.collect()}
        # the near-dup family produced cross-batch pairs
        ids_in_pairs = {i for p in got_pairs for i in p[:2]}
        assert {1, 3, 20} <= ids_in_pairs
        # gated docs never reach the dedup stage
        assert not ids_in_pairs & gated

        # 3. packed manifest: kept set, per-shard offsets and chunk
        # ranges all equal the batch pack
        got_packed = {tuple(r) for r in pipe.packed().collect()}
        assert got_packed == {tuple(r) for r in b_packed.collect()}
        kept = {r[0] for r in got_packed}
        assert 1 in kept and not kept & {2, 3, 10, 20}  # dups dropped

        # 4. replay of a folded batch is a no-op (exactly-once)
        n = pipe.packed().count()
        pipe._process(spark.createDataFrame(batches[0], SCHEMA), 0)
        assert pipe.packed().count() == n

        # 5. compaction fired (compact_every=2): batch dirs 0-1 folded
        import os

        subs = sorted(os.listdir(TMP / "store" / "packed"))
        assert "compacted-000000000001" in subs
        shutil.rmtree(TMP, ignore_errors=True)

    def test_real_stream_end_to_end(self, spark):
        """The start() path — a genuine readStream over parquet drops
        with checkpointing — must land the same tables the direct
        _process calls do."""
        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        pipe = IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            store_dir=str(TMP / "store"),
            checkpoint_dir=str(TMP / "ckpt"),
            **KW,
        )
        spark.createDataFrame(DOCS, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(TMP / "in"))
        q = pipe.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        all_docs = spark.createDataFrame(DOCS, SCHEMA)
        b_gates, _sc, _b_cont, _b_pairs, b_packed, _pl = ingest_pipeline_batch(all_docs, **KW)
        assert {tuple(r) for r in pipe.gates().collect()} == {
            tuple(r) for r in b_gates.collect()
        }
        assert {tuple(r) for r in pipe.packed().collect()} == {
            tuple(r) for r in b_packed.collect()
        }
        shutil.rmtree(TMP, ignore_errors=True)

    def test_decontamination_stage(self, spark):
        """With a static eval set configured, survivors sharing enough
        fingerprints with an eval doc land in the contamination table
        and never reach the dedup/pack stages — stream ≡ batch."""
        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        # eval doc 1001 is a near-copy of training doc 11
        eval_docs = spark.createDataFrame(
            [(1001, GOOD + " epsilon zeta nu")], "doc_id bigint, text string"
        )
        pipe = IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            store_dir=str(TMP / "store"),
            checkpoint_dir=str(TMP / "ckpt"),
            eval_docs=eval_docs,
            decon_threshold=0.3,
            **KW,
        )
        batches = [DOCS[:3], DOCS[3:]]
        for i, rows in enumerate(batches):
            pipe._process(spark.createDataFrame(rows, SCHEMA), i)
        got_cont = {tuple(r) for r in pipe.contamination().collect()}
        contaminated = {r[0] for r in got_cont}
        assert 11 in contaminated  # the planted eval leak
        # contaminated docs reach neither pairs nor the pack
        kept = {r.doc_id for r in pipe.packed().collect()}
        assert not kept & contaminated
        # stream ≡ batch with the same eval set
        all_docs = spark.createDataFrame(DOCS, SCHEMA)
        _g, _sc, b_cont, _p, b_packed, _pl = ingest_pipeline_batch(
            all_docs, eval_docs=eval_docs, decon_threshold=0.3, **KW
        )
        assert got_cont == {tuple(r) for r in b_cont.collect()}
        assert {tuple(r) for r in pipe.packed().collect()} == {
            tuple(r) for r in b_packed.collect()
        }
        shutil.rmtree(TMP, ignore_errors=True)

    def test_classifier_stage_stream_equals_batch(self, spark):
        """Optional model-filter stage: a planted killer weight on the
        'alpha' feature bucket must reject exactly the docs containing
        that token (the near-dup family 1/3/20), with per-doc scores
        recorded for EVERY gate survivor and stream ≡ batch across the
        scores and packed tables."""
        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        import hashlib

        buckets = 512
        alpha_bucket = (
            int(hashlib.md5(b"alpha").hexdigest()[:8], 16) % buckets
        )
        weights = spark.createDataFrame(
            [(alpha_bucket, -1e6)], "bucket long, w double"
        ).localCheckpoint(eager=True)
        # threshold 0.8: 11 and 21 share only the GOOD prefix and must
        # not pair — the kept set isolates the classifier's effect
        kw = dict(KW, threshold=0.8, clf_weights=weights,
                  clf_buckets=buckets, clf_threshold=0.5)
        pipe = IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            store_dir=str(TMP / "store"),
            checkpoint_dir=str(TMP / "ckpt"),
            **kw,
        )
        batches = [DOCS[:3], DOCS[3:5], DOCS[5:]]
        for i, rows in enumerate(batches):
            pipe._process(spark.createDataFrame(rows, SCHEMA), i)
        scores = {r.doc_id: r for r in pipe.scores().collect()}
        # every gate survivor scored (2 and 10 fail the gate)
        assert set(scores) == {1, 3, 11, 20, 21}
        rejected = {d for d, r in scores.items() if not r.keep}
        assert rejected == {1, 3, 20}
        kept = {r.doc_id for r in pipe.packed().collect()}
        assert kept == {11, 21}
        # rejected docs never reach the dedup stage: the 1/3/20 family
        # would otherwise pair
        assert pipe.pairs().count() == 0
        # stream ≡ batch
        all_docs = spark.createDataFrame(DOCS, SCHEMA)
        _g, b_sc, _c, _p, b_packed, _pl = ingest_pipeline_batch(
            all_docs, **kw
        )
        assert {tuple(r) for r in pipe.scores().collect()} == {
            tuple(r) for r in b_sc.collect()
        }
        assert {tuple(r) for r in pipe.packed().collect()} == {
            tuple(r) for r in b_packed.collect()
        }
        # replay no-op covers the scores table too
        n = pipe.scores().count()
        pipe._process(spark.createDataFrame(batches[0], SCHEMA), 0)
        assert pipe.scores().count() == n
        shutil.rmtree(TMP, ignore_errors=True)

    def test_trained_weights_fixture_end_to_end(self, spark):
        """The classifier's "swap in trained weights" claim (r10
        verdict #7): TRAIN a real hashed linear model (numpy logistic
        regression over the same unigram+bigram md5-bucket features the
        engine computes), QUANTIZE the weights to integers (the
        documented order-exact contract), write them to a parquet
        fixture, and run them through ``IngestPipeline(clf_weights=…)``
        — planted quality docs must pass the calibrated threshold,
        planted junk must be rejected, and the scores must equal a
        driver-side recompute from the trained weights exactly."""
        import hashlib
        import math

        import numpy as np

        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        buckets = 512
        rng = np.random.default_rng(7)

        def feats(text):
            toks = text.split(" ")
            fs = toks + [
                " ".join(toks[i:i + 2]) for i in range(len(toks) - 1)
            ]
            return [
                int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % buckets
                for f in fs
            ]

        # labeled training corpus, DISJOINT from the pipeline docs:
        # positives read like prose (stopword-heavy), negatives like
        # spam (repeated promo tokens) — both pass the Gopher gate used
        # below, so only the trained model separates them
        prose = ("the quick brown fox and that lazy dog with grace "
                 "over rivers and beneath quiet summer skies").split()
        spam = ("buy cheap deals now click here winner prize "
                "free offer sale discount").split()
        train = []
        for i in range(60):
            n_tok = 12
            good = " ".join(rng.choice(prose, n_tok))
            bad = " ".join(rng.choice(spam, n_tok))
            train.append((good, 1.0))
            train.append((bad, 0.0))
        # full-batch logistic regression on mean-bucket features —
        # z = bias + mean(w[b]) exactly matches quality_classifier's
        # z = bias + Σw / (w_scale · n_feats) at w_scale=1
        w = np.zeros(buckets)
        bias = 0.0
        for _ in range(400):
            gw = np.zeros(buckets)
            gb = 0.0
            for text, y in train:
                bs = feats(text)
                z = bias + w[bs].sum() / len(bs)
                p = 1.0 / (1.0 + math.exp(-z))
                err = p - y
                gb += err
                for b in bs:
                    gw[b] += err / len(bs)
            w -= 2.0 * gw / len(train)
            bias -= 2.0 * gb / len(train)
        # QUANTIZE (the deployment contract): integer-valued weights
        # make the per-doc sum order-exact in both engines
        scale = 1000
        wq = np.rint(w * scale)
        fixture = TMP / "trained_weights"
        spark.createDataFrame(
            [(int(b), float(wq[b])) for b in np.nonzero(wq)[0]],
            "bucket long, w double",
        ).coalesce(1).write.mode("overwrite").parquet(str(fixture))
        weights = spark.read.parquet(str(fixture))

        # pipeline docs: planted prose (keep) and spam (reject), all
        # long enough to pass the gate rules in KW
        def doc(words, i):
            return " ".join(rng.choice(words, 14))

        docs = (
            [(i, GOOD + " " + doc(prose, i), "web") for i in range(1, 5)]
            + [(10 + i, GOOD + " " + doc(spam, i), "web") for i in range(5)]
        )
        kw = dict(KW, threshold=0.95, clf_weights=weights,
                  clf_buckets=buckets, clf_bias=bias,
                  clf_w_scale=float(scale), clf_threshold=0.5)
        pipe = IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            store_dir=str(TMP / "store"),
            checkpoint_dir=str(TMP / "ckpt"),
            **kw,
        )
        pipe._process(spark.createDataFrame(docs, SCHEMA), 0)
        scores = {r.doc_id: r for r in pipe.scores().collect()}
        assert set(scores) == {d for d, _t, _s in docs}
        kept = {d for d, r in scores.items() if r.keep}
        assert kept == {1, 2, 3, 4}, f"trained model mis-kept: {kept}"
        # scores equal a driver-side recompute from the trained model
        wq_map = {int(b): float(wq[b]) for b in np.nonzero(wq)[0]}
        for d, text, _src in docs:
            bs = feats(text)
            z = bias + sum(wq_map.get(b, 0.0) for b in bs) / (
                scale * len(bs)
            )
            want = round(1.0 / (1.0 + math.exp(-z)), 6)
            assert abs(scores[d].score - want) < 1e-9, (d, want)
        # stream ≡ batch with the trained fixture
        _g, b_sc, _c, _p, b_packed, _pl = ingest_pipeline_batch(
            spark.createDataFrame(docs, SCHEMA), **kw
        )
        assert {tuple(r) for r in pipe.scores().collect()} == {
            tuple(r) for r in b_sc.collect()
        }
        assert {r.doc_id for r in pipe.packed().collect()} == {
            r.doc_id for r in b_packed.collect()
        }
        shutil.rmtree(TMP, ignore_errors=True)

    def test_payload_stage_stream_equals_batch(self, spark):
        """Optional 5th stage: with a FIXED vocabulary configured, the
        stream materializes per-batch token-id chunk segments whose
        merged view equals the batch composition's payload — including
        chunks that SPAN batch boundaries (capacity 8 < doc length, so
        every shard's chunk grid crosses docs and batches)."""
        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        from datayours_spark.functions.text import vocab_topv

        all_docs = spark.createDataFrame(DOCS, SCHEMA)
        vocab = vocab_topv(
            all_docs.select("doc_id", "text"), 50
        ).localCheckpoint(eager=True)
        # threshold 0.8: only the true near-dup family (1/3/20 share
        # 12 of ~13 tokens) pairs; 11 and 21 SURVIVE — multiple kept
        # docs across batches is what makes chunks span batches
        kw = dict(KW, threshold=0.8)
        pipe = IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            store_dir=str(TMP / "store"),
            checkpoint_dir=str(TMP / "ckpt"),
            vocab=vocab,
            compact_every=None,   # compaction forced explicitly below
            **kw,
        )
        batches = [DOCS[:3], DOCS[3:5], DOCS[5:]]
        for i, rows in enumerate(batches):
            pipe._process(spark.createDataFrame(rows, SCHEMA), i)
        got = {tuple(r) for r in pipe.payload().collect()}
        _g, _sc, _c, _p, b_packed, b_payload = ingest_pipeline_batch(
            all_docs, vocab=vocab, **kw
        )
        assert {r.doc_id for r in b_packed.collect()} >= {1, 11, 21}
        assert got == {tuple(r) for r in b_payload.collect()}
        # id conservation: every kept token materialized exactly once
        assert sum(r[2] for r in got) == sum(
            r.n_tokens for r in b_packed.collect()
        )
        # at least one chunk really spans batches (else the merge path
        # went untested): >1 segment rows for some (shard, chunk)
        seg = pipe._read_or_empty("payload")
        assert (
            seg.groupBy("shard", "chunk").count().where("count > 1").count()
            > 0
        )
        # ids parse back to n_ids many tokens of the vocab id range
        for _shard, _chunk, n_ids, ids in got:
            parts = ids.split(",")
            assert len(parts) == n_ids
            assert all(p.isdigit() for p in parts)
        # forced compaction: the payload fold physically merges each
        # chunk's segments into one row — view-preserving (payload()
        # unchanged), storage at one row per chunk
        from datayours_spark.streaming.pipeline import (
            SCHEMAS as PIPE_SCHEMAS,
        )
        from datayours_spark.streaming.pipeline import _payload_fold
        from datayours_spark.streaming.winnowstream import _index_lww

        folds = {
            "index": _index_lww,
            "counts": _index_lww,
            "payload": _payload_fold,
        }
        for name, schema_str in PIPE_SCHEMAS.items():
            pipe.store.compact(name, schema_str, 2, fold=folds.get(name))
        assert {tuple(r) for r in pipe.payload().collect()} == got
        seg_after = pipe._read_or_empty("payload")
        assert (
            seg_after.groupBy("shard", "chunk").count()
            .where("count > 1").count() == 0
        )
        # replay of a folded batch is a no-op for the payload table too
        n = pipe.payload().count()
        pipe._process(spark.createDataFrame(batches[0], SCHEMA), 0)
        assert pipe.payload().count() == n
        shutil.rmtree(TMP, ignore_errors=True)

    def test_replay_after_partial_commit_keeps_offsets(self, spark):
        """Crash window (ADVICE r10 high): a batch that committed its
        cursors row but lost a later table write is replayed; the pack
        stage must NOT read the batch's own cursors back (that would
        double-advance every shard's start offset, leaving permanent
        holes in the offset space).  Simulated by deleting the payload
        batch dir after a full _process, then replaying."""
        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        from datayours_spark.functions.text import vocab_topv

        all_docs = spark.createDataFrame(DOCS, SCHEMA)
        vocab = vocab_topv(
            all_docs.select("doc_id", "text"), 50
        ).localCheckpoint(eager=True)
        kw = dict(KW, threshold=0.8)
        pipe = IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            store_dir=str(TMP / "store"),
            checkpoint_dir=str(TMP / "ckpt"),
            vocab=vocab,
            compact_every=None,
            **kw,
        )
        batches = [DOCS[:3], DOCS[3:]]
        for i, rows in enumerate(batches):
            pipe._process(spark.createDataFrame(rows, SCHEMA), i)
        want_packed = {tuple(r) for r in pipe.packed().collect()}
        want_payload = {tuple(r) for r in pipe.payload().collect()}
        want_cursors = {
            tuple(r) for r in pipe._read_or_empty("cursors").collect()
        }
        # crash: batch 1's payload write is lost, its cursors survive
        shutil.rmtree(TMP / "store" / "payload" / "batch-000000000001")
        pipe._process(spark.createDataFrame(batches[1], SCHEMA), 1)
        assert {tuple(r) for r in pipe.packed().collect()} == want_packed
        assert {tuple(r) for r in pipe.payload().collect()} == want_payload
        assert {
            tuple(r) for r in pipe._read_or_empty("cursors").collect()
        } == want_cursors
        # offset space is hole-free: per shard, offsets tile exactly
        rows = pipe.packed().orderBy("shard", "offset").collect()
        nxt = {}
        for r in rows:
            assert r.offset == nxt.get(r.shard, 0)
            nxt[r.shard] = r.offset + r.n_tokens
        shutil.rmtree(TMP, ignore_errors=True)

    def test_empty_text_doc_contributes_no_payload_ids(self, spark):
        """A doc the manifest counts as n_tokens=0 (empty text) must
        contribute no token ids: posexplode of split('', ' ') emits one
        phantom unk row whose goff would collide with the next doc's
        first token (ADVICE r10)."""
        from datayours_spark.functions.text import vocab_topv
        from datayours_spark.streaming.pipeline import (
            _pack_manifest,
            _payload_segments,
            merge_payload_segments,
        )

        kept = spark.createDataFrame(
            [(1, "a b c d"), (2, ""), (3, None), (4, "e f g h")],
            "doc_id bigint, text string",
        )
        vocab = vocab_topv(kept.where("text is not null"), 50)
        manifest = _pack_manifest(kept, shards=1, capacity=4)
        m = {r.doc_id: r for r in manifest.collect()}
        assert m[2].n_tokens == 0 and m[3].n_tokens == 0
        seg = _payload_segments(kept, manifest, vocab, 4).withColumn(
            "batch", F.lit(0)
        )
        out = merge_payload_segments(seg).collect()
        # exactly the 8 real tokens, no phantom, no duplicated goff
        assert sum(r.n_ids for r in out) == 8
        for r in out:
            assert len(r.ids.split(",")) == r.n_ids

    def test_all_stages_composed_stream_equals_batch(self, spark):
        """Every optional stage at once — gate → model filter → eval
        decontamination → dedup → pack → payload — across three
        batches with replay: the stages must compose (a classifier
        reject never reaches decon/dedup/pack; the payload covers
        exactly the six-stage survivors) and every table must equal
        the batch composition."""
        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        import hashlib

        from datayours_spark.functions.text import vocab_topv

        all_docs = spark.createDataFrame(DOCS, SCHEMA)
        vocab = vocab_topv(
            all_docs.select("doc_id", "text"), 50
        ).localCheckpoint(eager=True)
        buckets = 512
        # classifier kills docs containing 'iota' (doc 21)
        iota_bucket = (
            int(hashlib.md5(b"iota").hexdigest()[:8], 16) % buckets
        )
        weights = spark.createDataFrame(
            [(iota_bucket, -1e6)], "bucket long, w double"
        ).localCheckpoint(eager=True)
        # eval doc: near-copy of 11 → decon drops 11
        eval_docs = spark.createDataFrame(
            [(1001, GOOD + " epsilon zeta nu")],
            "doc_id bigint, text string",
        )
        # decon at 0.9: only the near-copy (11, containment 1.0) trips
        # — the GOOD-prefix cousins sit at 0.75 (probed)
        kw = dict(KW, threshold=0.3,
                  clf_weights=weights, clf_buckets=buckets,
                  eval_docs=eval_docs, decon_threshold=0.9, vocab=vocab)
        pipe = IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            store_dir=str(TMP / "store"),
            checkpoint_dir=str(TMP / "ckpt"),
            compact_every=2,
            **kw,
        )
        batches = [DOCS[:3], DOCS[3:5], DOCS[5:]]
        for i, rows in enumerate(batches):
            pipe._process(spark.createDataFrame(rows, SCHEMA), i)
        # stage ledger: 2/10 gated; 21 classifier-rejected; 11
        # decontaminated; 3/20 dedup-dropped (family of 1) → kept {1}
        assert {
            r.doc_id
            for r in pipe.gates().where("NOT pass_all").collect()
        } == {2, 10}
        assert {
            r.doc_id for r in pipe.scores().where("NOT keep").collect()
        } == {21}
        assert {
            r.doc_id for r in pipe.contamination().collect()
        } == {11}
        assert {r.doc_id for r in pipe.packed().collect()} == {1}
        # classifier rejects and decon drops never reach later stages
        ids_in_pairs = {
            i for r in pipe.pairs().collect() for i in (r.id1, r.id2)
        }
        assert not ids_in_pairs & {2, 10, 11, 21}
        # payload covers exactly the kept doc's tokens
        pl = pipe.payload().collect()
        assert sum(r.n_ids for r in pl) == len(DOCS[0][1].split(" "))
        # the whole six-stage composition equals the batch form
        b_g, b_sc, b_c, b_p, b_pk, b_pl = ingest_pipeline_batch(
            all_docs, **kw
        )
        for got_df, want_df in (
            (pipe.gates(), b_g), (pipe.scores(), b_sc),
            (pipe.contamination(), b_c), (pipe.pairs(), b_p),
            (pipe.packed(), b_pk), (pipe.payload(), b_pl),
        ):
            assert {tuple(r) for r in got_df.collect()} == {
                tuple(r) for r in want_df.collect()
            }
        # replay of a folded batch is a no-op across ALL tables
        counts = [
            pipe.gates().count(), pipe.scores().count(),
            pipe.pairs().count(), pipe.packed().count(),
            pipe.payload().count(),
        ]
        pipe._process(spark.createDataFrame(batches[0], SCHEMA), 0)
        assert counts == [
            pipe.gates().count(), pipe.scores().count(),
            pipe.pairs().count(), pipe.packed().count(),
            pipe.payload().count(),
        ]
        shutil.rmtree(TMP, ignore_errors=True)

    def test_gate_cols_stream_equals_batch(self, spark):
        """The documented non-English/synthetic configuration: a corpus
        with no English stopwords packs NOTHING under pass_all, so the
        stream must honor gate_cols exactly like ingest_pipeline_batch
        (ADVICE r9: the field was batch-only, silently emptying the
        streaming form)."""
        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        # stopword-free docs: every one fails ok_stopwords but passes
        # word count / mean word length / alpha-words
        rows = [
            (i, " ".join(f"walrus{i} zebra{i} quokka{i} lemur{i} "
                         f"panda{i} otter{i}".split()), "syn")
            for i in range(1, 7)
        ]
        gate_cols = ("ok_word_count", "ok_alpha_words")
        pipe = IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            store_dir=str(TMP / "store"),
            checkpoint_dir=str(TMP / "ckpt"),
            gate_cols=gate_cols,
            **KW,
        )
        pipe._process(spark.createDataFrame(rows[:3], SCHEMA), 0)
        pipe._process(spark.createDataFrame(rows[3:], SCHEMA), 1)
        all_docs = spark.createDataFrame(rows, SCHEMA)
        _g, _sc, _c, _p, b_packed, _pl = ingest_pipeline_batch(
            all_docs, gate_cols=gate_cols, **KW
        )
        got_packed = {tuple(r) for r in pipe.packed().collect()}
        assert got_packed == {tuple(r) for r in b_packed.collect()}
        assert len(got_packed) == len(rows)  # nothing silently dropped
        # and with the default gate the same corpus packs nothing —
        # the configuration is load-bearing, not cosmetic
        _g2, _sc2, _c2, _p2, strict_packed, _pl2 = ingest_pipeline_batch(all_docs, **KW)
        assert strict_packed.count() == 0
        shutil.rmtree(TMP, ignore_errors=True)

    def test_cursors_resume_across_batches(self, spark):
        """A shard's offsets must be contiguous across batches: doc N+1
        starts exactly where doc N ended within its shard."""
        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        pipe = IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            store_dir=str(TMP / "store"),
            checkpoint_dir=str(TMP / "ckpt"),
            **KW,
        )
        # docs share only a 3-word prefix (1 of 7 shingles at k=3), so
        # none pair as near-dups; all pass the gate (9 words, 3 stop
        # words, mean word length ~5)
        rows = [
            (i, f"the and with alpha{i} bravo{i} carbon{i} delta{i} "
                f"echo{i} fox{i}", "web")
            for i in range(1, 9)
        ]
        pipe._process(spark.createDataFrame(rows[:4], SCHEMA), 0)
        pipe._process(spark.createDataFrame(rows[4:], SCHEMA), 1)
        packed = pipe.packed().orderBy("shard", "offset").collect()
        by_shard = {}
        for r in packed:
            by_shard.setdefault(r.shard, []).append(r)
        assert len(packed) == 8
        for shard_rows in by_shard.values():
            off = 0
            for r in shard_rows:
                assert r.offset == off, (r, off)
                off += r.n_tokens
        shutil.rmtree(TMP, ignore_errors=True)


    def test_all_dropped_batch_early_exit_contract(self, spark):
        """A batch whose gate keeps NOTHING takes the all-empty early
        exit (r11 verdict #1): every downstream table is committed as
        a bare marker (zero rows, batch_committed true — the replay
        no-op contract holds), the cursor state is untouched, and a
        later real batch packs exactly as if the empty batch never
        happened."""
        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        pipe = IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            store_dir=str(TMP / "store"),
            checkpoint_dir=str(TMP / "ckpt"),
            **KW,
        )
        rows = [
            (i, f"the and with alpha{i} bravo{i} carbon{i} delta{i} "
                f"echo{i} fox{i}", "web")
            for i in range(1, 9)
        ]
        pipe._process(spark.createDataFrame(rows[:4], SCHEMA), 0)
        cursors_before = {
            tuple(r) for r in pipe._read_or_empty("cursors").collect()
        }
        # batch 1: every doc fails the word-count gate
        junk = [(100 + i, "xx yy", "web") for i in range(3)]
        pipe._process(spark.createDataFrame(junk, SCHEMA), 1)
        for name in ("pairs", "index", "counts", "packed", "cursors"):
            assert pipe.store.batch_committed(name, 1), name
        # the empty batch added no rows anywhere downstream
        assert pipe.packed().count() == 4
        assert {
            tuple(r) for r in pipe._read_or_empty("cursors").collect()
        } == cursors_before
        # replay of the empty batch is a no-op (committed check)
        pipe._process(spark.createDataFrame(junk, SCHEMA), 1)
        assert pipe.packed().count() == 4
        # a later real batch continues each shard's offsets exactly
        pipe._process(spark.createDataFrame(rows[4:], SCHEMA), 2)
        packed = pipe.packed().orderBy("shard", "offset").collect()
        assert len(packed) == 8
        by_shard = {}
        for r in packed:
            by_shard.setdefault(r.shard, []).append(r)
        for shard_rows in by_shard.values():
            off = 0
            for r in shard_rows:
                assert r.offset == off, (r, off)
                off += r.n_tokens
        # the gates audit row set covers the dropped docs (the record
        # of WHY the batch emptied is never skipped)
        gated = {
            r.doc_id for r in pipe.gates().where("NOT pass_all").collect()
        }
        assert {100, 101, 102} <= gated
        shutil.rmtree(TMP, ignore_errors=True)


class TestZeroFingerprintReingest:
    def test_zero_fp_reingest_literal_equals_join_mode(self, spark):
        """ADVICE r12 (pipeline.py ids_lit): a RE-INGESTED survivor with
        zero fingerprints (gate-passing but shorter than k tokens) must
        leave its old standing-index rows visible to the batch's pair
        view in literal mode exactly as in join mode — the replacement
        anti-join operates on fingerprint-BEARING doc_ids (new_fp), so
        the isin() literal must be derived from surv_fp, not survivors.
        Run the same two batches through both modes (default _LIT_CAP
        vs forced join mode) and require identical pairs AND packed
        tables, including the pair the old bug dropped."""
        import datayours_spark.streaming.pipeline as pipe_mod

        long_text = GOOD + " alpha beta gamma"       # 13 words, 6 k-grams
        short_text = "the quick brown fox and that"  # 6 words < k=8: 0 fp
        kw = dict(min_words=6, max_words=100, k=8, w=3, threshold=0.3,
                  shards=2, capacity=8)
        batches = [
            [(100, long_text, "web")],
            # doc 100 re-ingested SHORT (zero fingerprints); doc 101
            # duplicates 100's OLD text, so the pair (100, 101) exists
            # iff 100's standing rows stayed visible
            [(100, short_text, "web"), (101, long_text, "web")],
        ]

        def run(tag):
            root = TMP / tag
            shutil.rmtree(root, ignore_errors=True)
            (root / "in").mkdir(parents=True)
            pipe = IngestPipeline(
                spark=spark,
                input_dir=str(root / "in"),
                store_dir=str(root / "store"),
                checkpoint_dir=str(root / "ckpt"),
                **kw,
            )
            for i, rows in enumerate(batches):
                pipe._process(spark.createDataFrame(rows, SCHEMA), i)
            return (
                {tuple(r) for r in pipe.pairs().collect()},
                {tuple(r) for r in pipe.packed().collect()},
            )

        lit_pairs, lit_packed = run("litmode")
        saved_cap = pipe_mod._LIT_CAP
        try:
            pipe_mod._LIT_CAP = 0  # force the broadcast-join path
            join_pairs, join_packed = run("joinmode")
        finally:
            pipe_mod._LIT_CAP = saved_cap
        assert lit_pairs == join_pairs
        assert lit_packed == join_packed
        # and the pair is actually THERE (guards against both modes
        # being identically wrong)
        assert {(p[0], p[1]) for p in lit_pairs} == {(100, 101)}
        shutil.rmtree(TMP, ignore_errors=True)


class TestPackManifestProperties:
    def test_random_corpora_pack_invariants(self, spark):
        """Property fuzz over random doc sets: per-shard offsets are a
        contiguous running sum in doc_id order, chunk ranges cover
        exactly [offset, offset + n_tokens), and totals conserve."""
        import random

        from datayours_spark.streaming.pipeline import _pack_manifest

        rng = random.Random(0x9ACC)
        for trial in range(3):
            rows = [
                (i, " ".join(f"w{i}x{j}" for j in range(rng.randint(1, 30))))
                for i in rng.sample(range(1000), rng.randint(5, 40))
            ]
            docs = spark.createDataFrame(rows, "doc_id bigint, text string")
            cap = rng.choice([4, 16, 64])
            out = _pack_manifest(docs, shards=3, capacity=cap).collect()
            assert len(out) == len(rows)
            by_shard = {}
            for r in out:
                by_shard.setdefault(r.shard, []).append(r)
            total = 0
            for shard_rows in by_shard.values():
                shard_rows.sort(key=lambda r: r.doc_id)
                off = 0
                for r in shard_rows:
                    assert r.offset == off, (trial, r)
                    assert r.first_chunk == r.offset // cap
                    last = (r.offset + max(r.n_tokens, 1) - 1) // cap
                    assert r.n_chunks == last - r.first_chunk + 1
                    off += r.n_tokens
                    total += r.n_tokens
            want_total = sum(len(t.split(" ")) for _i, t in rows)
            assert total == want_total, trial


class TestObservedEarlyExit:
    """The r14 stats-floor rewrite rides the all-empty early exit on
    write-job observations (gates count, scores keep count,
    contamination row count) plus a cap+1 CollectLimit probe — these
    tests pin the two paths where those observed counts are
    load-bearing for CORRECTNESS, not just job counts."""

    def test_classifier_drops_everything_early_exit(self, spark):
        """n_keep == 0 with no decon drops must take the early exit:
        downstream tables committed as markers, nothing packed, and the
        gates/scores audit rows still present (the record of WHY the
        batch emptied is never skipped)."""
        import hashlib

        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        buckets = 512
        # killer weight on 'the' — present in every gate-passing doc
        the_bucket = (
            int(hashlib.md5(b"the").hexdigest()[:8], 16) % buckets
        )
        weights = spark.createDataFrame(
            [(the_bucket, -1e6)], "bucket long, w double"
        ).localCheckpoint(eager=True)
        pipe = IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            store_dir=str(TMP / "store"),
            checkpoint_dir=str(TMP / "ckpt"),
            clf_weights=weights, clf_buckets=buckets, clf_threshold=0.5,
            **KW,
        )
        pipe._process(spark.createDataFrame(DOCS[:3], SCHEMA), 0)
        for name in ("pairs", "index", "counts", "packed", "cursors"):
            assert pipe.store.batch_committed(name, 0), name
        assert pipe.packed().count() == 0
        assert pipe.pairs().count() == 0
        # audit rows survive the early exit: gate rows for all three
        # docs, scores for both gate survivors, keep false everywhere
        assert {r.doc_id for r in pipe.gates().collect()} == {1, 2, 3}
        scores = {r.doc_id: r.keep for r in pipe.scores().collect()}
        assert scores == {1: False, 3: False}
        # a later batch without the killer token packs normally (the
        # early exit left the cursor state untouched)
        clean = [(50, "walrus zebra quokka lemur panda otter and grace "
                      "of light", "web")]
        pipe._process(spark.createDataFrame(clean, SCHEMA), 1)
        assert {r.doc_id for r in pipe.packed().collect()} == {50}
        shutil.rmtree(TMP, ignore_errors=True)

    def test_decon_drops_all_fp_bearing_keeps_zero_fp_survivor(
        self, spark
    ):
        """When decontamination drops every fingerprint-BEARING doc the
        stats probe comes back empty, and the exact survivors.count()
        fallback must distinguish 'nothing left' (early exit) from 'a
        zero-fingerprint survivor remains' (gate-passing doc shorter
        than k tokens — it must still be packed)."""
        long_text = GOOD + " alpha beta gamma"       # 13 words, fp-bearing
        short_text = "the quick brown fox and that"  # 6 words < k=8: 0 fp
        kw = dict(min_words=6, max_words=100, k=8, w=3, threshold=0.3,
                  shards=2, capacity=8)
        eval_docs = spark.createDataFrame(
            [(900, long_text)], "doc_id bigint, text string"
        ).localCheckpoint(eager=True)
        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        pipe = IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            store_dir=str(TMP / "store"),
            checkpoint_dir=str(TMP / "ckpt"),
            eval_docs=eval_docs, decon_threshold=0.5,
            **kw,
        )
        # batch 0: ONLY the eval twin — everything decon-drops, and the
        # empty probe + zero survivors.count() must take the early exit
        pipe._process(
            spark.createDataFrame([(1, long_text, "web")], SCHEMA), 0
        )
        for name in ("pairs", "index", "counts", "packed", "cursors"):
            assert pipe.store.batch_committed(name, 0), name
        assert pipe.packed().count() == 0
        assert {r.doc_id for r in pipe.contamination().collect()} == {1}
        # batch 1: eval twin + a zero-fingerprint gate survivor — the
        # probe is again empty but survivors.count() == 1, so the batch
        # must NOT early-exit and the short doc must pack
        pipe._process(
            spark.createDataFrame(
                [(2, long_text, "web"), (3, short_text, "web")], SCHEMA
            ),
            1,
        )
        assert {r.doc_id for r in pipe.packed().collect()} == {3}
        assert pipe.pairs().count() == 0
        assert {r.doc_id for r in pipe.contamination().collect()} == {1, 2}
        # stream ≡ batch for the same corpus and config
        _g, _sc, _c, _p, b_packed, _pl = ingest_pipeline_batch(
            spark.createDataFrame(
                [(1, long_text, "web"), (2, long_text, "web"),
                 (3, short_text, "web")], SCHEMA
            ),
            eval_docs=eval_docs, decon_threshold=0.5, **kw,
        )
        assert {r.doc_id for r in b_packed.collect()} == {3}
        shutil.rmtree(TMP, ignore_errors=True)


class TestSmallInputGate:
    def test_large_input_reads_one_partition_count(self, spark, monkeypatch):
        """Above the small gate the plan is adaptive, where reading a
        relation's partition count runs its whole sub-DAG.  So
        ``ingest_pipeline_batch`` asks the gate once, on ``docs``, and
        does not spread (or probe) the gate survivors."""
        from datayours_spark import io
        from datayours_spark.streaming import pipeline as pl

        docs = spark.createDataFrame(DOCS, SCHEMA)
        par = spark.sparkContext.defaultParallelism
        assert docs.rdd.getNumPartitions() >= par
        real = io.below_parallelism
        probed = []

        def spy(df):
            probed.append(df)
            return real(df)

        monkeypatch.setattr(io, "below_parallelism", spy)
        monkeypatch.setattr(pl, "below_parallelism", spy)
        _g, _sc, _c, pairs, packed, _pl = ingest_pipeline_batch(docs, **KW)
        assert len(probed) == 1 and probed[0] is docs
        kept = {r.doc_id for r in packed.collect()}
        assert 1 in kept and not kept & {2, 3, 10, 20}
        assert {1, 3, 20} <= {i for r in pairs.collect() for i in r[:2]}
