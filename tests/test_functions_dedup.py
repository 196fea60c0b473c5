"""Dedup operator goldens: duplicate-cluster resolution (connected
components via hash-min label propagation) over near-dup pair graphs."""

import pytest
from pyspark.sql import functions as F

from datayours_spark.functions.dedup import dup_clusters


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id1 bigint, id2 bigint")


class TestDupClusters:
    def test_transitive_chain_collapses(self, spark):
        # 1-2, 2-3 must collapse to one cluster even though 1-3 was never
        # emitted; 10-11 is an independent pair.
        out = dup_clusters(_pairs(spark, [(1, 2), (2, 3), (10, 11)]))
        got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_long_chain_needs_multiple_rounds(self, spark):
        # path graph 1-2-...-8: diameter 7 forces several propagation rounds
        out = dup_clusters(_pairs(spark, [(i, i + 1) for i in range(1, 8)]))
        got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
        assert got == {i: 1 for i in range(1, 9)}

    def test_min_id_wins_regardless_of_pair_order(self, spark):
        # min id sits at the END of the discovery order
        out = dup_clusters(_pairs(spark, [(5, 9), (2, 5), (1, 9)]))
        got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
        assert got == {1: 1, 2: 1, 5: 1, 9: 1}

    def test_deep_chain_converges_within_log_rounds(self, spark):
        # path graph of 120 edges: diameter 120 >> max_iter — plain hash-min
        # would silently return unconverged labels; pointer jumping halves
        # the remaining path every round so ~log2(120) rounds suffice
        out = dup_clusters(_pairs(spark, [(i, i + 1) for i in range(1, 121)]), max_iter=15)
        assert {r["cluster_id"] for r in out.collect()} == {1}
        assert out.count() == 121

    def test_empty_pairs(self, spark):
        out = dup_clusters(_pairs(spark, []))
        assert out.count() == 0
        assert out.columns == ["doc_id", "cluster_id"]


class TestSimhashNeardup:
    def test_banded_blocking_matches_brute_force(self, spark):
        from datayours_spark.functions.dedup import (
            simhash_fingerprint,
            simhash_neardup,
        )

        base = "the quick brown fox jumps over the lazy dog " * 3
        docs = spark.createDataFrame(
            [
                (1, base + "alpha beta gamma"),
                (2, base + "alpha beta gamma"),  # exact dup of 1
                (3, base + "alpha beta delta"),  # near dup
                (4, "completely different content about spark physical plans"),
                (5, base + "epsilon zeta eta theta iota kappa"),
            ],
            "doc_id bigint, text string",
        )
        got = {
            (r["id1"], r["id2"]): r["hamming"]
            for r in simhash_neardup(docs, max_hamming=3).collect()
        }

        sig = {
            r["doc_id"]: r["simhash"]
            for r in simhash_fingerprint(docs, 60).collect()
        }
        want = {}
        ids = sorted(sig)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                d = bin(sig[a] ^ sig[b]).count("1")
                if d <= 3:
                    want[(a, b)] = d
        # banded blocking guarantees recall for hamming <= bands - 1
        assert got == want
        assert got[(1, 2)] == 0  # exact dup pair survives with distance 0

    def test_no_pairs_across_distant_fingerprints(self, spark):
        from datayours_spark.functions.dedup import simhash_neardup

        docs = spark.createDataFrame(
            [(1, "aa bb cc dd ee ff gg hh"), (2, "zz yy xx ww vv uu tt ss")],
            "doc_id bigint, text string",
        )
        assert simhash_neardup(docs).count() == 0


class TestMinhashIncremental:
    def test_incremental_equals_full_restricted_to_batch(self, spark):
        from datayours_spark.functions.dedup import (
            minhash_dedup,
            minhash_incremental,
            minhash_index,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = spark.createDataFrame(
            [
                (1, base + " one"),
                (2, base + " two"),        # near dup of 1 (old-old pair)
                (3, "unrelated words entirely distinct content here now"),
                (10, base + " ten"),       # new; near dup of 1 and 2
                (11, base + " eleven"),    # new; near dup of 1, 2, 10
            ],
            "doc_id bigint, text string",
        )
        new = docs.where("doc_id >= 10")
        old = docs.where("doc_id < 10")

        incr = {
            (r["id1"], r["id2"]): r["jaccard"]
            for r in minhash_incremental(new, minhash_index(old), docs).collect()
        }
        full = {
            (r["id1"], r["id2"]): r["jaccard"]
            for r in minhash_dedup(docs).collect()
            if r["id1"] >= 10 or r["id2"] >= 10
        }
        assert incr == full
        assert incr  # the batch really introduced pairs
        assert all(a >= 10 or b >= 10 for a, b in incr)  # no old-old recompute


class TestHotBucketGuard:
    """collapse_identical must emit EXACTLY the unguarded pair set while
    keeping the banded self-join quadratic only in distinct fingerprints —
    exercised with a boilerplate-heavy corpus (30%+ identical docs)."""

    def _corpus(self, spark):
        boiler = "subscribe to our newsletter terms of service apply " * 4
        base = "the quick brown fox jumps over the lazy dog " * 3
        rows = [(i, boiler) for i in range(1, 7)]  # 6 identical boilerplate
        rows += [
            (10, base + "alpha beta gamma"),
            (11, base + "alpha beta gamma"),   # exact dup of 10
            (12, base + "alpha beta delta"),   # near dup of 10/11
            (13, "completely different content about spark physical plans"),
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_simhash_guarded_equals_unguarded(self, spark):
        from datayours_spark.functions.dedup import simhash_neardup

        docs = self._corpus(spark)
        plain = {
            (r["id1"], r["id2"]): r["hamming"]
            for r in simhash_neardup(docs, max_hamming=3).collect()
        }
        guarded = {
            (r["id1"], r["id2"]): r["hamming"]
            for r in simhash_neardup(
                docs, max_hamming=3, collapse_identical=True
            ).collect()
        }
        assert guarded == plain
        assert plain  # the corpus really has near-dup pairs
        # the boilerplate block collapses into intra-group hamming-0 pairs
        assert all(plain[(a, b)] == 0 for a in range(1, 7) for b in range(a + 1, 7))

    def test_collapsed_form_stays_small(self, spark):
        from datayours_spark.functions.dedup import simhash_collapsed_neardup

        docs = self._corpus(spark)
        members, rep_pairs = simhash_collapsed_neardup(docs, max_hamming=3)
        reps = {r["rep"] for r in members.collect()}
        # 6 boilerplate + (10,11) collapse: at most 5 distinct fingerprints
        assert len(reps) <= 5
        # rep_pairs never contains two members of one fingerprint group
        for r in rep_pairs.collect():
            assert r["hamming"] >= 1

    def test_minhash_guarded_equals_unguarded(self, spark):
        from datayours_spark.functions.dedup import (
            lsh_candidate_pairs,
            minhash_dedup,
            minhash_signatures,
        )

        docs = self._corpus(spark)
        sigs = minhash_signatures(docs, k=20)
        plain = {
            (r["id1"], r["id2"]) for r in lsh_candidate_pairs(sigs, 5, 4).collect()
        }
        guarded = {
            (r["id1"], r["id2"])
            for r in lsh_candidate_pairs(
                sigs, 5, 4, collapse_identical=True
            ).collect()
        }
        assert guarded == plain and plain
        full_plain = {
            (r["id1"], r["id2"]): r["jaccard"]
            for r in minhash_dedup(docs).collect()
        }
        full_guarded = {
            (r["id1"], r["id2"]): r["jaccard"]
            for r in minhash_dedup(docs, collapse_identical=True).collect()
        }
        assert full_guarded == full_plain

    def test_expansion_refuses_over_wide_group(self, spark):
        """max_group guard: a rep group wider than the bound raises BEFORE
        any quadratic work, pointing at the collapsed form — a production
        caller can't accidentally materialize O(group²) pairs."""
        import pytest

        from datayours_spark.functions.dedup import (
            ExpandedPairsTooLarge,
            simhash_neardup,
        )

        docs = self._corpus(spark)  # widest identical group: 6 boilerplate
        with pytest.raises(ExpandedPairsTooLarge, match="max_group=5"):
            simhash_neardup(
                docs, max_hamming=3, collapse_identical=True, max_group=5
            )
        # at or above the widest group the expansion proceeds and still
        # matches the unguarded pair set
        plain = {
            (r["id1"], r["id2"])
            for r in simhash_neardup(docs, max_hamming=3).collect()
        }
        ok = {
            (r["id1"], r["id2"])
            for r in simhash_neardup(
                docs, max_hamming=3, collapse_identical=True, max_group=6
            ).collect()
        }
        assert ok == plain

    def test_lsh_expansion_guard_and_disable(self, spark):
        import pytest

        from datayours_spark.functions.dedup import (
            ExpandedPairsTooLarge,
            lsh_candidate_pairs,
            minhash_signatures,
        )

        sigs = minhash_signatures(self._corpus(spark), k=20)
        with pytest.raises(ExpandedPairsTooLarge):
            lsh_candidate_pairs(
                sigs, 5, 4, collapse_identical=True, max_group=2
            )
        # max_group=None disables the check entirely
        got = lsh_candidate_pairs(
            sigs, 5, 4, collapse_identical=True, max_group=None
        )
        assert got.count() > 0


class TestRepeatedSpans:
    """Span-level dedup: shingle posting lists -> repeated-span masks."""

    BOILER = " ".join(f"b{i}" for i in range(20))  # 20-token boilerplate

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_shared_boilerplate_is_found_with_exact_bounds(self, spark):
        from datayours_spark.functions.dedup import repeated_spans

        u1 = " ".join(f"x{i}" for i in range(30))
        u2 = " ".join(f"y{i}" for i in range(30))
        docs = self._docs(
            spark,
            [(1, f"{self.BOILER} {u1}"), (2, f"{u2} {self.BOILER}")],
        )
        spans = {
            r["doc_id"]: (r["start_tok"], r["end_tok"], r["span_tokens"])
            for r in repeated_spans(docs, k=8, min_span=10).collect()
        }
        # doc 1: boilerplate is tokens 0..19; doc 2: tokens 30..49
        assert spans[1] == (0, 19, 20)
        assert spans[2] == (30, 49, 20)

    def test_within_doc_repetition_does_not_qualify(self, spark):
        from datayours_spark.functions.dedup import repeated_spans

        # the boilerplate appears twice in ONE doc and nowhere else:
        # cross-doc min_docs=2 must not fire
        filler = " ".join(f"f{i}" for i in range(10))
        docs = self._docs(
            spark, [(1, f"{self.BOILER} {filler} {self.BOILER}"),
                    (2, " ".join(f"z{i}" for i in range(40)))],
        )
        assert repeated_spans(docs, k=8, min_span=10).count() == 0

    def test_min_span_threshold_gates_short_overlaps(self, spark):
        from datayours_spark.functions.dedup import repeated_spans

        shared = " ".join(f"s{i}" for i in range(9))  # 9 shared tokens
        u1 = " ".join(f"x{i}" for i in range(30))
        u2 = " ".join(f"y{i}" for i in range(30))
        docs = self._docs(
            spark, [(1, f"{shared} {u1}"), (2, f"{shared} {u2}")],
        )
        # a 9-token shared run yields 2 covered offsets with k=8 → span of
        # 9 tokens; min_span=10 must reject it, min_span=9 must keep it
        assert repeated_spans(docs, k=8, min_span=10).count() == 0
        got = repeated_spans(docs, k=8, min_span=9).collect()
        assert {(r["doc_id"], r["span_tokens"]) for r in got} == {(1, 9), (2, 9)}

    def test_abutting_blocks_merge_and_unique_gaps_split(self, spark):
        from datayours_spark.functions.dedup import repeated_spans

        # doc 1 is two shared 12-token blocks CONCATENATED (a then b): the
        # boundary-straddling shingles are unique to doc 1, so covered
        # offsets are {0..4} and {12..16} — adjacent covered token
        # intervals [0,11] + [12,23] merge into ONE maximal span.  In
        # doc 3 the same blocks sit 20 unique tokens apart → two spans.
        # A single unrepeated token BETWEEN blocks (doc 4) must split:
        # that token is genuinely not covered by any repeated shingle.
        a = " ".join(f"a{i}" for i in range(12))
        b = " ".join(f"c{i}" for i in range(12))
        far = " ".join(f"m{i}" for i in range(20))
        docs = self._docs(
            spark,
            [
                (1, f"{a} {b}"),
                (2, f"{a} {' '.join(f'p{i}' for i in range(25))}"),
                (3, f"{b} {far} {a}"),
                (4, f"{a} gap1tok {b}"),
            ],
        )
        got = repeated_spans(docs, k=8, min_span=10).collect()
        by_doc = {}
        for r in got:
            by_doc.setdefault(r["doc_id"], []).append(
                (r["start_tok"], r["end_tok"])
            )
        assert by_doc[1] == [(0, 23)]  # merged across the adjacency
        assert sorted(by_doc[3]) == [(0, 11), (32, 43)]
        assert sorted(by_doc[4]) == [(0, 11), (13, 24)]  # token 12 unique

    def test_mask_counts_and_fraction(self, spark):
        from datayours_spark.functions.dedup import span_mask

        u1 = " ".join(f"x{i}" for i in range(20))
        clean = " ".join(f"q{i}" for i in range(15))
        docs = self._docs(
            spark,
            [(1, f"{self.BOILER} {u1}"), (2, self.BOILER), (3, clean)],
        )
        got = {r["doc_id"]: r for r in span_mask(docs, k=8, min_span=10).collect()}
        assert len(got) == 3  # every input doc reports, clean included
        assert (got[1]["covered_tokens"], got[1]["n_tokens"]) == (20, 40)
        assert got[1]["covered_frac"] == 0.5
        assert got[2]["covered_frac"] == 1.0
        assert (got[3]["n_spans"], got[3]["covered_frac"]) == (0, 0.0)

    def test_short_docs_below_shingle_width_are_clean(self, spark):
        from datayours_spark.functions.dedup import span_mask

        docs = self._docs(spark, [(1, "a b c"), (2, "a b c")])
        got = span_mask(docs, k=8, min_span=10).collect()
        assert {r["covered_tokens"] for r in got} == {0}


class TestRemoveSpans:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    BOILER = " ".join(f"b{i}" for i in range(20))

    def test_cuts_exactly_the_spans_and_keeps_order(self, spark):
        from datayours_spark.functions.dedup import remove_spans

        u = " ".join(f"x{i}" for i in range(10))
        v = " ".join(f"y{i}" for i in range(10))
        docs = self._docs(
            spark,
            [
                (1, f"{u} {self.BOILER} {v}"),  # span in the MIDDLE
                (2, f"{self.BOILER} {u.replace('x', 'z')}"),
                (3, "nothing shared here at all"),
            ],
        )
        got = {r["doc_id"]: r for r in remove_spans(docs, k=8, min_span=10).collect()}
        assert got[1]["clean_text"] == f"{u} {v}"  # order preserved across the cut
        assert (got[1]["kept_tokens"], got[1]["removed_tokens"]) == (20, 20)
        assert got[2]["clean_text"] == u.replace("x", "z")
        assert got[3]["clean_text"] == "nothing shared here at all"
        assert got[3]["removed_tokens"] == 0

    def test_fully_covered_doc_empties(self, spark):
        from datayours_spark.functions.dedup import remove_spans

        docs = self._docs(spark, [(1, self.BOILER), (2, self.BOILER)])
        got = {r["doc_id"]: r for r in remove_spans(docs, k=8, min_span=10).collect()}
        for d in (1, 2):
            assert got[d]["clean_text"] == ""
            assert got[d]["kept_tokens"] == 0
            assert got[d]["removed_tokens"] == 20

    def test_mask_and_removal_agree(self, spark):
        """covered_tokens from span_mask == removed_tokens from
        remove_spans for every doc — the two consumers of repeated_spans
        must tell one story."""
        from datayours_spark.functions.dedup import remove_spans, span_mask

        u1 = " ".join(f"x{i}" for i in range(15))
        docs = self._docs(
            spark,
            [(1, f"{self.BOILER} {u1}"), (2, f"{u1.replace('x','q')} {self.BOILER}"),
             (3, "all clean")],
        )
        mask = {r["doc_id"]: r["covered_tokens"]
                for r in span_mask(docs, k=8, min_span=10).collect()}
        rem = {r["doc_id"]: r["removed_tokens"]
               for r in remove_spans(docs, k=8, min_span=10).collect()}
        assert mask == rem


class TestUnigramLogprob:
    def test_scores_match_hand_computation(self, spark):
        import math

        from datayours_spark.functions.text import unigram_logprob

        docs = spark.createDataFrame(
            [(1, "a a b"), (2, "a c")],
            "doc_id bigint, text string",
        )
        # corpus: a=3, b=1, c=1, total=5
        got = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
        la, lb, lc = (math.log10(3 / 5), math.log10(1 / 5), math.log10(1 / 5))
        assert got[1]["n_tokens"] == 3
        assert got[1]["avg_logprob"] == round((la + la + lb) / 3, 6)
        assert got[2]["avg_logprob"] == round((la + lc) / 2, 6)

    def test_rare_token_docs_score_lower(self, spark):
        from datayours_spark.functions.text import unigram_logprob

        common = " ".join(["the"] * 20)
        docs = spark.createDataFrame(
            [(1, common), (2, "zq xv qq kj wz yy ux vv mz pq")],
            "doc_id bigint, text string",
        )
        got = {r["doc_id"]: r["avg_logprob"] for r in unigram_logprob(docs).collect()}
        assert got[2] < got[1]  # gibberish scores more negative


class TestMinhashDecontaminate:
    def test_cross_corpus_only_and_direction(self, spark):
        """Near-identical train/eval docs pair up train->eval; train-train
        near-dups never appear (the join is cross-corpus only)."""
        from datayours_spark.functions.dedup import minhash_decontaminate

        base = "the quick brown fox jumps over the lazy dog again and again today"
        train = spark.createDataFrame(
            [
                (1, base + " extra"),
                (2, base + " more"),          # near-dup of 1 (train-train: excluded)
                (3, "completely different text about spark shuffles and joins here"),
            ],
            "doc_id bigint, text string",
        )
        ev = spark.createDataFrame(
            [(100, base + " indeed")], "doc_id bigint, text string"
        )
        out = minhash_decontaminate(train, ev, threshold=0.5).collect()
        got = {(r["train_id"], r["eval_id"]) for r in out}
        assert got == {(1, 100), (2, 100)}
        assert all(r["jaccard"] >= 0.5 for r in out)

    def test_signature_injection_matches(self, spark):
        from datayours_spark.functions.dedup import (
            minhash_decontaminate,
            minhash_signatures,
        )
        from datayours_spark.io import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        from pyspark.sql import functions as F

        is_eval = F.col("doc_id") % 5 == 0
        sigs = minhash_signatures(docs, k=20)
        a = minhash_decontaminate(
            docs.where(~is_eval), docs.where(is_eval)
        ).collect()
        b = minhash_decontaminate(
            docs.where(~is_eval), docs.where(is_eval),
            train_signatures=sigs.where(~is_eval),
            eval_signatures=sigs.where(is_eval),
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestNgramJaccardGuard:
    """The df-capped inverted-index join must reproduce the unguarded
    pair set EXACTLY — including pairs whose only shared shingles are
    corpus-hot (the case the cold join alone would lose)."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, lang string, source string, text string"
        )

    def _pairs(self, df):
        return {
            (r["id1"], r["id2"], r["jaccard"]) for r in df.collect()
        }

    def test_guarded_equals_unguarded_with_planted_hot_shingle(self, spark):
        from datayours_spark.functions.dedup import ngram_jaccard_pairs

        boiler = "all rights reserved by the site"  # hot across most docs
        rows = [
            (i, "en", "web", f"{boiler} unique tail {i} words here {i * 7}")
            for i in range(12)
        ]
        # one true near-dup pair sharing cold shingles too
        rows += [
            (100, "en", "web", f"{boiler} same body of shared text one"),
            (101, "en", "web", f"{boiler} same body of shared text two"),
        ]
        docs = self._docs(spark, rows)
        plain = ngram_jaccard_pairs(docs, threshold=0.2, df_cap=None)
        guarded = ngram_jaccard_pairs(docs, threshold=0.2, df_cap=3)
        assert self._pairs(guarded) == self._pairs(plain)
        assert len(self._pairs(plain)) > 0

    def test_hot_only_pair_is_found(self, spark):
        from datayours_spark.functions.dedup import ngram_jaccard_pairs

        # docs 1/2 consist ENTIRELY of the hot boilerplate: every shared
        # shingle is hot, so the cold join alone would miss the pair —
        # only the hot-heavy side channel can emit it
        boiler = "standard footer text appears in every document"
        rows = [(i, "en", "web", f"{boiler} filler {i} x{i} y{i}") for i in range(10)]
        rows += [(100, "en", "web", boiler), (101, "en", "web", boiler)]
        docs = self._docs(spark, rows)
        plain = ngram_jaccard_pairs(docs, threshold=0.5, df_cap=None)
        guarded = ngram_jaccard_pairs(docs, threshold=0.5, df_cap=3)
        assert (100, 101, 1.0) in self._pairs(guarded)
        assert self._pairs(guarded) == self._pairs(plain)

    def test_bucket_isolation_respected(self, spark):
        from datayours_spark.functions.dedup import ngram_jaccard_pairs

        # identical text in different buckets must NOT pair
        rows = [
            (1, "en", "web", "identical text body shared across"),
            (2, "de", "web", "identical text body shared across"),
            (3, "en", "web", "identical text body shared across"),
        ]
        docs = self._docs(spark, rows)
        got = self._pairs(ngram_jaccard_pairs(docs, threshold=0.2, df_cap=2))
        assert got == {(1, 3, 1.0)}

    def test_hot_set_guard_fails_fast(self, spark):
        import pytest

        from datayours_spark.functions.dedup import (
            ExpandedPairsTooLarge, ngram_jaccard_pairs,
        )

        rows = [
            (i, "en", "web", f"common shared prefix words {i}") for i in range(8)
        ]
        docs = self._docs(spark, rows)
        with pytest.raises(ExpandedPairsTooLarge):
            # df_cap=1 makes every shared shingle hot; cap the hot set at 1
            ngram_jaccard_pairs(
                docs, threshold=0.2, df_cap=1, max_hot_shingles=1
            )

    def test_pair_volume_guard_fails_fast(self, spark):
        import pytest

        from datayours_spark.functions.dedup import (
            ExpandedPairsTooLarge, ngram_jaccard_pairs,
        )

        boiler = "the exact same boilerplate body everywhere"
        rows = [(i, "en", "web", boiler) for i in range(30)]
        docs = self._docs(spark, rows)
        with pytest.raises(ExpandedPairsTooLarge):
            # 30 hot-heavy docs → 435 candidate pairs > 100
            ngram_jaccard_pairs(
                docs, threshold=0.2, df_cap=3, max_hot_heavy_pairs=100
            )

    def test_threshold_zero_parity(self, spark):
        # at threshold 0 the guarded path must still emit EXACTLY the
        # unguarded join's pair set — no spurious zero-jaccard pairs
        # between hot-heavy docs that share nothing (review finding)
        from datayours_spark.functions.dedup import ngram_jaccard_pairs

        rows = [
            (1, "en", "web", "aa bb cc dd ee"),
            (2, "en", "web", "aa bb cc dd ff"),   # shares with 1
            (3, "en", "web", "xx yy zz ww vv"),   # shares nothing
            (4, "en", "web", "xx yy zz ww uu"),   # shares with 3
        ]
        docs = self._docs(spark, rows)
        plain = ngram_jaccard_pairs(docs, threshold=0.0, df_cap=None)
        guarded = ngram_jaccard_pairs(docs, threshold=0.0, df_cap=1)
        assert self._pairs(guarded) == self._pairs(plain)
        ids = {(a, b) for a, b, _ in self._pairs(guarded)}
        assert (1, 3) not in ids and (2, 4) not in ids


class TestNgramJaccardDifferential:
    """Seeded randomized equivalence: for random corpora (with planted
    boilerplate, shared phrases and near-dup families) the guarded path
    must reproduce the unguarded join's pair set exactly at every
    (df_cap, threshold) tried."""

    CASES = [
        (7, 2, 0.2), (11, 3, 0.5), (13, 1, 0.3), (17, 4, 0.1), (23, 2, 0.7),
    ]

    def _corpus(self, spark, seed):
        import random

        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(40)]
        phrases = [
            " ".join(rng.choices(vocab, k=3)) for _ in range(3)
        ]  # corpus-hot phrases
        rows = []
        for i in range(40):
            toks = rng.choices(vocab, k=rng.randint(3, 12))
            if i % 3 == 0:
                toks = phrases[i % len(phrases)].split() + toks
            if i % 7 == 0:
                toks = phrases[0].split()  # hot-only docs
            lang = "en" if i % 4 else "de"
            rows.append((i, lang, "web", " ".join(toks)))
        return spark.createDataFrame(
            rows, "doc_id bigint, lang string, source string, text string"
        )

    @pytest.mark.parametrize("seed,df_cap,threshold", CASES)
    def test_equivalence(self, spark, seed, df_cap, threshold):
        from datayours_spark.functions.dedup import ngram_jaccard_pairs

        docs = self._corpus(spark, seed)
        plain = {
            tuple(r) for r in ngram_jaccard_pairs(
                docs, threshold=threshold, df_cap=None
            ).collect()
        }
        guarded = {
            tuple(r) for r in ngram_jaccard_pairs(
                docs, threshold=threshold, df_cap=df_cap,
            ).collect()
        }
        assert guarded == plain


class TestEditVerifiedPairs:
    """edit_verified_pairs: the order-sensitive verify stage."""

    def _docs(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # 1-token edit of 1
            (3, "dog lazy the over jumps fox brown quick the"),  # reorder of 1
            (4, "entirely unrelated text about spark plans"),
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def _all_pairs(self, spark):
        ids = [1, 2, 3, 4]
        return spark.createDataFrame(
            [(a, b) for a in ids for b in ids if a < b], "id1 bigint, id2 bigint"
        )

    def test_edit_beats_jaccard_on_reorder(self, spark):
        from datayours_spark.functions.dedup import edit_verified_pairs, jaccard_pairs

        docs = self._docs(spark)
        pairs = self._all_pairs(spark)
        jac = {(r.id1, r.id2): r.jaccard for r in jaccard_pairs(pairs, docs).collect()}
        # token-set Jaccard cannot tell the reorder (1,3) from identity...
        assert jac[(1, 3)] == 1.0
        edit = {
            (r.id1, r.id2): r.edit_sim
            for r in edit_verified_pairs(pairs, docs, threshold=0.0).collect()
        }
        # ...but edit similarity scores the true edit far above the reorder
        assert edit[(1, 2)] > 0.9
        assert edit[(1, 3)] < edit[(1, 2)]

    def test_threshold_and_schema(self, spark):
        from datayours_spark.functions.dedup import edit_verified_pairs

        docs = self._docs(spark)
        out = edit_verified_pairs(self._all_pairs(spark), docs, threshold=0.9)
        rows = out.collect()
        assert {(r.id1, r.id2) for r in rows} == {(1, 2)}
        assert dict(out.dtypes)["lev"] == "bigint"

    def test_prefix_cap_bounds_comparison(self, spark):
        from datayours_spark.functions.dedup import edit_verified_pairs

        # identical 1000-char prefixes, wildly different tails: the capped
        # verify must score them identical (per-pair cost is the CAP, not
        # the doc length)
        base = "tok " * 300  # 1200 chars
        docs = spark.createDataFrame(
            [(1, base + "alpha " * 500), (2, base + "omega " * 900)],
            "doc_id bigint, text string",
        )
        pairs = spark.createDataFrame([(1, 2)], "id1 bigint, id2 bigint")
        row = edit_verified_pairs(pairs, docs, threshold=0.0, prefix_len=1000).collect()[0]
        assert row.lev == 0 and row.edit_sim == 1.0


class TestWinnowing:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003): the
    rightmost-min selection rule, the short-doc tail rule, the null
    guard, and the containment near-dup + its fail-fast guard."""

    def test_selection_rule_and_guarantee(self, spark):
        from datayours_spark.functions.dedup import winnow_fingerprints

        docs = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "x y a b c d e f")],
            "doc_id bigint, text string",
        )
        fp = winnow_fingerprints(docs, k=3, w=3)
        rows = {(r.doc_id, r.pos, r.h) for r in fp.collect()}
        by_doc = {}
        for d, p, h in rows:
            by_doc.setdefault(d, set()).add(h)
        # the winnowing guarantee: docs 1 and 2 share the 6-token run
        # "a b c d e f" (>= w + k - 1 = 5 tokens), so they MUST share at
        # least one fingerprint
        assert by_doc[1] & by_doc[2]
        # density bound: selections per doc <= number of windows
        assert all(
            len([1 for d, _, _ in rows if d == doc]) <= 6 - 3 + 1
            for doc in (1, 2)
        )

    def test_short_doc_tail_and_null_guard(self, spark):
        from datayours_spark.functions.dedup import winnow_fingerprints

        docs = spark.createDataFrame(
            [(1, "a b c d"),   # 2 trigrams < w -> ONE window over both
             (2, "a b"),      # fewer than k tokens -> no fingerprints
             (3, None)],      # null -> no rows, no ANSI crash
            "doc_id bigint, text string",
        )
        rows = [(r.doc_id, r.pos) for r in winnow_fingerprints(docs, k=3, w=3).collect()]
        ids = {d for d, _ in rows}
        assert 2 not in ids and 3 not in ids
        assert len([1 for d, _ in rows if d == 1]) == 1   # one tail window

    def test_rightmost_min_tiebreak(self, spark):
        from datayours_spark.functions.dedup import winnow_fingerprints

        # identical k-grams at positions 1 and 3 ("a b a b a"): equal
        # hashes in one window must select the RIGHTMOST occurrence
        docs = spark.createDataFrame(
            [(1, "a b a b a")], "doc_id bigint, text string"
        )
        rows = winnow_fingerprints(docs, k=2, w=4).collect()
        # 4 bigrams (ab ba ab ba), one window of 4, two distinct hashes;
        # whichever hash is minimal, its selected pos must be its LAST
        # occurrence (3 for 'a b', 4 for 'b a')
        assert len(rows) == 1
        assert rows[0].pos in (3, 4)

    def test_neardup_containment_and_guard(self, spark):
        import pytest

        from datayours_spark.functions.dedup import (
            ExpandedPairsTooLarge, winnow_neardup,
        )

        docs = spark.createDataFrame(
            [(1, "a b c d e f g h i j"),
             (2, "a b c d e f g h i k"),
             (3, "q r s t u v w x y z")],
            "doc_id bigint, text string",
        )
        pairs = {(r.id1, r.id2): r.containment
                 for r in winnow_neardup(docs, k=3, w=3, threshold=0.3).collect()}
        assert (1, 2) in pairs and all(k == (1, 2) for k in pairs)
        # fail-fast: a boilerplate corpus (every doc identical) trips the
        # sum(df^2) guard before any join
        boiler = spark.createDataFrame(
            [(i, "same words every single time here again ok") for i in range(40)],
            "doc_id bigint, text string",
        )
        with pytest.raises(ExpandedPairsTooLarge):
            winnow_neardup(boiler, k=3, w=3, max_join_pairs=100)

    def test_fingerprint_sets_match_distincted_positional(self, spark):
        """r15 set-form parity pin: winnow_fingerprint_sets must emit
        exactly the distinct (doc_id, h) relation of the positional
        builder — the rightmost-min rule only moves WHICH position a
        window's minimal hash is attributed to, never the hash value —
        and its row-local n_fp must equal the per-doc distinct count."""
        from pyspark.sql import functions as F

        from datayours_spark.functions.dedup import (
            winnow_fingerprint_sets, winnow_fingerprints,
        )

        docs = spark.createDataFrame(
            [(1, "a b c d e f g h"),       # plain doc
             (2, "a b a b a b a b a"),     # heavy hash ties/repeats
             (3, "a b c d"),               # short-doc tail window
             (4, "a b"),                   # under k tokens -> empty
             (5, None),                    # null guard
             (6, "x y a b c d e f")],      # overlap with doc 1
            "doc_id bigint, text string",
        )
        for k, w in ((3, 3), (2, 4)):
            ref = {
                (r.doc_id, r.h)
                for r in winnow_fingerprints(docs, k=k, w=w)
                .select("doc_id", "h").distinct().collect()
            }
            got = winnow_fingerprint_sets(docs, k=k, w=w).collect()
            assert {(r.doc_id, r.h) for r in got} == ref
            assert len(got) == len(ref)  # distinct by construction
            counted = winnow_fingerprint_sets(
                docs, k=k, w=w, with_count=True
            ).collect()
            assert {(r.doc_id, r.h) for r in counted} == ref
            per_doc = {}
            for d, _ in ref:
                per_doc[d] = per_doc.get(d, 0) + 1
            assert all(r.n_fp == per_doc[r.doc_id] for r in counted)

    def test_neardup_paths_agree_on_pairs(self, spark):
        """r15 denormalized-denominator pin: the default (set-form)
        path, the positional-fingerprints path (groupBy collect_set),
        and the pre-distincted path must produce identical pair rows."""
        from datayours_spark.functions.dedup import (
            winnow_fingerprint_sets, winnow_fingerprints, winnow_neardup,
        )

        docs = spark.createDataFrame(
            [(1, "a b c d e f g h i j"),
             (2, "a b c d e f g h i k"),
             (3, "q r s t u v w x y z"),
             (4, "a b c d e f g h i j")],   # exact dup of 1
            "doc_id bigint, text string",
        )
        want = {
            (r.id1, r.id2, r.shared, r.containment)
            for r in winnow_neardup(docs, k=3, w=3, threshold=0.3).collect()
        }
        pos = winnow_fingerprints(docs, k=3, w=3)
        via_positional = {
            (r.id1, r.id2, r.shared, r.containment)
            for r in winnow_neardup(
                docs, k=3, w=3, threshold=0.3, fingerprints=pos
            ).collect()
        }
        pre = winnow_fingerprint_sets(docs, k=3, w=3, with_count=True)
        via_distincted = {
            (r.id1, r.id2, r.shared, r.containment)
            for r in winnow_neardup(
                docs, k=3, w=3, threshold=0.3,
                fingerprints=pre, fingerprints_distinct=True,
            ).collect()
        }
        assert via_positional == want
        assert via_distincted == want
        assert {(i, j) for i, j, _, _ in want} >= {(1, 4)}

    def test_matches_localize_the_overlap(self, spark):
        from datayours_spark.functions.dedup import winnow_matches, winnow_neardup

        docs = spark.createDataFrame(
            [(1, "p q r a b c d e f g"),    # shared run at tokens 4-10
             (2, "a b c d e f g x y z"),    # shared run at tokens 1-7
             (3, "m n o mm nn oo mmm nnn")],
            "doc_id bigint, text string",
        )
        pairs = winnow_neardup(docs, k=3, w=3, threshold=0.3)
        m = winnow_matches(docs, pairs, k=3, w=3).collect()
        assert m, "the shared 7-token run must produce matches"
        # every match localizes the same k-gram: pos1 - pos2 == 3 (doc 1's
        # run starts 3 tokens later), and the k-grams actually agree
        toks1 = "p q r a b c d e f g".split()
        toks2 = "a b c d e f g x y z".split()
        for r in m:
            assert (r.id1, r.id2) == (1, 2)
            assert r.pos1 - r.pos2 == 3
            assert toks1[r.pos1 - 1 : r.pos1 + 2] == toks2[r.pos2 - 1 : r.pos2 + 2]

    def test_counts_inconsistency_raises_in_broadcast_mode(self, spark):
        """An index doc missing from a caller-supplied counts relation
        must RAISE in batch-proportional mode (ADVICE r10) — the
        null-checked denominator lookups surface the index/counts
        drift instead of silently suppressing the doc's pairs."""
        import pytest
        from pyspark.sql import functions as F

        from datayours_spark.functions.dedup import (
            winnow_fingerprints, winnow_incremental_indexed,
        )

        schema = "doc_id bigint, text string"
        corpus = spark.createDataFrame(
            [(1, "a b c d e f g h i j"), (2, "k l m n o p q r s t")],
            schema,
        )
        idx = (
            winnow_fingerprints(corpus, k=3, w=3)
            .select("doc_id", "h").distinct().localCheckpoint(eager=True)
        )
        # counts MISSING doc 1 — the probe near-dups doc 1, so its
        # denominator lookup hits the hole
        counts = idx.where("doc_id != 1").groupBy("doc_id").agg(
            F.count("*").alias("n_fp")
        )
        batch = spark.createDataFrame(
            [(9, "a b c d e f g h i x")], schema
        )
        pairs, _ = winnow_incremental_indexed(
            batch, idx, k=3, w=3, threshold=0.3,
            index_counts=counts, broadcast_batch=True,
        )
        with pytest.raises(Exception, match="inconsistency"):
            pairs.collect()

    def test_counts_inconsistency_raises_in_bulk_mode(self, spark):
        """Same drift, BULK mode (broadcast_batch=False): the failure
        behavior must not flip from loud to silent when a pipeline
        crosses broadcast_fp_rows (ADVICE r11) — the shuffle-join
        denominators are null-checked left joins with the same per-row
        assert as broadcast mode."""
        import pytest
        from pyspark.sql import functions as F

        from datayours_spark.functions.dedup import (
            winnow_fingerprints, winnow_incremental_indexed,
        )

        schema = "doc_id bigint, text string"
        corpus = spark.createDataFrame(
            [(1, "a b c d e f g h i j"), (2, "k l m n o p q r s t")],
            schema,
        )
        idx = (
            winnow_fingerprints(corpus, k=3, w=3)
            .select("doc_id", "h").distinct().localCheckpoint(eager=True)
        )
        counts = idx.where("doc_id != 1").groupBy("doc_id").agg(
            F.count("*").alias("n_fp")
        )
        batch = spark.createDataFrame(
            [(9, "a b c d e f g h i x")], schema
        )
        pairs, _ = winnow_incremental_indexed(
            batch, idx, k=3, w=3, threshold=0.3,
            index_counts=counts, broadcast_batch=False,
        )
        with pytest.raises(Exception, match="inconsistency"):
            pairs.collect()

    def test_bulk_and_broadcast_pairs_identical_when_consistent(self, spark):
        """The r12 bulk-mode left-join rewrite is exact: with a
        consistent counts relation both modes emit the identical pair
        set (the containment expression only fires on non-null
        denominators, which consistency guarantees)."""
        from pyspark.sql import functions as F

        from datayours_spark.functions.dedup import (
            winnow_fingerprints, winnow_incremental_indexed,
        )

        schema = "doc_id bigint, text string"
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        corpus = spark.createDataFrame(
            [(1, base + " one"), (2, base + " two"),
             (3, "totally different island of words here now")],
            schema,
        )
        idx = (
            winnow_fingerprints(corpus, k=3, w=3)
            .select("doc_id", "h").distinct().localCheckpoint(eager=True)
        )
        counts = idx.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
        batch = spark.createDataFrame([(9, base + " nine")], schema)
        out = {}
        for mode in (True, False):
            pairs, _ = winnow_incremental_indexed(
                batch, idx, k=3, w=3, threshold=0.2,
                index_counts=counts, broadcast_batch=mode,
            )
            out[mode] = sorted(
                (r.id1, r.id2, r.shared, r.containment)
                for r in pairs.collect()
            )
        assert out[True] == out[False]
        assert out[True]  # non-degenerate: the batch does pair

    def test_incremental_equals_full_restricted_to_batch(self, spark):
        """The incremental-family invariant for winnowing: pairs from a
        batch vs the standing index == the full recompute's pairs that
        touch the batch (differential, randomized split)."""
        from datayours_spark.functions.dedup import (
            winnow_fingerprints, winnow_incremental, winnow_neardup,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [(i, base + f" tail{i % 4}") for i in range(12)]
            + [(20, "totally different island of words here now"),
               (21, "totally different island of words here now indeed")],
            "doc_id bigint, text string",
        )
        new = docs.where(F.col("doc_id") % 3 == 0)
        old = docs.where(F.col("doc_id") % 3 != 0)
        idx = winnow_fingerprints(old, k=3, w=3).select("doc_id", "h").distinct()
        got = {
            (r.id1, r.id2): (r.shared, r.containment)
            for r in winnow_incremental(new, idx, k=3, w=3, threshold=0.4).collect()
        }
        full = {
            (r.id1, r.id2): (r.shared, r.containment)
            for r in winnow_neardup(docs, k=3, w=3, threshold=0.4).collect()
            if r.id1 % 3 == 0 or r.id2 % 3 == 0
        }
        assert got == full and got   # equal AND non-trivial
        assert any(a % 3 == 0 and b % 3 == 0 for a, b in got)   # new x new
        assert any((a % 3 == 0) != (b % 3 == 0) for a, b in got)  # new x old

    def test_reingested_doc_replaces_index_rows(self, spark):
        """A doc_id present in BOTH the standing index and the batch must
        not double-count in the n_fp containment denominators (ADVICE
        r7): re-ingestion is replacement, so an unchanged re-ingested
        doc yields exactly the pairs a fresh doc with the same text
        would."""
        from datayours_spark.functions.dedup import (
            winnow_fingerprints, winnow_incremental,
        )

        text_a = "alpha beta gamma delta epsilon zeta eta theta iota"
        docs = spark.createDataFrame(
            [(1, text_a), (2, text_a + " kappa")],
            "doc_id bigint, text string",
        )
        idx = winnow_fingerprints(docs, k=3, w=3).select("doc_id", "h").distinct()
        # re-ingest doc 1 unchanged: its (1,2) pair must score as in the
        # non-overlapping run, not with a doubled denominator
        batch = docs.where(F.col("doc_id") == 1)
        got = {
            (r.id1, r.id2): (r.shared, r.containment)
            for r in winnow_incremental(batch, idx, k=3, w=3, threshold=0.4).collect()
        }
        fresh_idx = winnow_fingerprints(
            docs.where(F.col("doc_id") == 2), k=3, w=3
        ).select("doc_id", "h").distinct()
        want = {
            (r.id1, r.id2): (r.shared, r.containment)
            for r in winnow_incremental(
                batch, fresh_idx, k=3, w=3, threshold=0.4
            ).collect()
        }
        assert got == want and (1, 2) in got

    def test_indexed_variant_returns_batch_fingerprints(self, spark):
        """winnow_incremental_indexed's second return is exactly the
        batch's distinct (doc_id, h) relation — what a streaming
        maintainer appends to its standing index."""
        from datayours_spark.functions.dedup import (
            winnow_fingerprints, winnow_incremental_indexed,
        )

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta"),
             (2, "alpha beta gamma delta epsilon zeta eta")],
            "doc_id bigint, text string",
        )
        idx = spark.createDataFrame([], "doc_id bigint, h bigint")
        _, batch_fp = winnow_incremental_indexed(docs, idx, k=3, w=3)
        want = {
            (r.doc_id, r.h)
            for r in winnow_fingerprints(docs, k=3, w=3)
            .select("doc_id", "h").distinct().collect()
        }
        assert {(r.doc_id, r.h) for r in batch_fp.collect()} == want


class TestWinnowSpans:
    def test_spans_are_shared_token_runs(self, spark):
        """Two docs sharing TWO separate runs at different offsets must
        yield (at least) one span row per run, and every reported span
        must slice to IDENTICAL token sequences in both docs — the
        defining property of the MOSS span report."""
        from datayours_spark.functions.dedup import winnow_neardup, winnow_spans

        r1 = "r1a r1b r1c r1d r1e r1f"
        r2 = "r2a r2b r2c r2d r2e r2f"
        t1 = f"{r1} u1 u2 {r2}"            # run2 at doc1 pos 9..14
        t2 = f"{r1} v1 v2 v3 {r2}"         # run2 at doc2 pos 10..15
        docs = spark.createDataFrame(
            [(1, t1), (2, t2)], "doc_id bigint, text string"
        )
        pairs = winnow_neardup(docs, k=3, w=3, threshold=0.3)
        rows = winnow_spans(docs, pairs, k=3, w=3).collect()
        assert rows, "no spans extracted"
        toks1, toks2 = t1.split(" "), t2.split(" ")
        offsets = set()
        for r in rows:
            assert r.id1 == 1 and r.id2 == 2
            assert r.end1 - r.start1 == r.end2 - r.start2
            offsets.add(r.start1 - r.start2)
            assert (
                toks1[r.start1 - 1 : r.end1] == toks2[r.start2 - 1 : r.end2]
            ), (r, toks1[r.start1 - 1 : r.end1], toks2[r.start2 - 1 : r.end2])
            assert r.n_matches >= 1
        assert len(offsets) == 2, offsets  # the two runs align differently

    def test_gap_splits_islands_within_one_offset(self, spark):
        """The SAME offset with a gap > w between matched positions must
        split into two span rows (islands-and-gaps), not one megaspan."""
        from datayours_spark.functions.dedup import winnow_neardup, winnow_spans

        r1 = "a1 a2 a3 a4 a5 a6"
        r2 = "b1 b2 b3 b4 b5 b6"
        mid1 = "x1 x2 x3 x4 x5 x6 x7 x8"
        mid2 = "y1 y2 y3 y4 y5 y6 y7 y8"   # same length -> same offset 0
        docs = spark.createDataFrame(
            [(1, f"{r1} {mid1} {r2}"), (2, f"{r1} {mid2} {r2}")],
            "doc_id bigint, text string",
        )
        pairs = winnow_neardup(docs, k=3, w=3, threshold=0.3)
        rows = winnow_spans(docs, pairs, k=3, w=3).collect()
        zero_off = [r for r in rows if r.start1 == r.start2]
        assert len(zero_off) == 2, rows    # two islands, one per run


class TestWinnowDedup:
    def test_overlap_cut_from_higher_id_only(self, spark):
        """The composed removal: a shared run is cut from id2's text,
        id1 keeps it verbatim, and docs in no pair pass untouched."""
        from datayours_spark.functions.dedup import winnow_dedup, winnow_neardup

        run = "r1 r2 r3 r4 r5 r6 r7 r8"
        docs = spark.createDataFrame(
            [
                (1, f"{run} u1 u2 u3"),
                (2, f"v1 v2 v3 {run}"),
                (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
            ],
            "doc_id bigint, text string",
        )
        pairs = winnow_neardup(docs, k=3, w=3, threshold=0.4)
        assert {(r.id1, r.id2) for r in pairs.collect()} == {(1, 2)}
        out = {r.doc_id: r for r in winnow_dedup(docs, pairs, k=3, w=3).collect()}
        assert len(out) == 3
        # id1 (canonical) and the unpaired doc are verbatim
        assert out[1].clean_text == f"{run} u1 u2 u3"
        assert out[1].removed_tokens == 0
        assert out[3].removed_tokens == 0
        # id2 lost the shared run but kept its unique prefix
        assert "r1" not in out[2].clean_text.split(" ")
        for v in ("v1", "v2", "v3"):
            assert v in out[2].clean_text.split(" ")
        assert out[2].removed_tokens >= len(run.split(" ")) - 2
        assert out[2].kept_tokens + out[2].removed_tokens == 11

    def test_full_copy_guts_the_duplicate(self, spark):
        """A verbatim copy must come back (near-)empty while the
        canonical survives whole.  Span endpoints come from SELECTED
        fingerprints, so up to w−1 tokens can survive at each text edge
        (the winnowing edge slack); everything interior is cut."""
        from datayours_spark.functions.dedup import winnow_dedup, winnow_neardup

        w = 3
        t = " ".join(f"t{i}" for i in range(20))
        docs = spark.createDataFrame(
            [(10, t), (11, t)], "doc_id bigint, text string"
        )
        pairs = winnow_neardup(docs, k=3, w=w, threshold=0.9)
        out = {r.doc_id: r for r in winnow_dedup(docs, pairs, k=3, w=w).collect()}
        assert out[10].clean_text == t
        assert out[11].kept_tokens <= 2 * (w - 1)
        assert out[11].removed_tokens >= 20 - 2 * (w - 1)
        # whatever survives sits at the edges, never the interior
        survivors = set(out[11].clean_text.split(" ")) - {""}
        edge = {f"t{i}" for i in range(w - 1)} | {
            f"t{i}" for i in range(20 - (w - 1), 20)
        }
        assert survivors <= edge, (survivors, edge)


class TestNgramNovelty:
    def test_first_occurrence_scoring(self, spark):
        from datayours_spark.functions.dedup import ngram_novelty

        docs = spark.createDataFrame(
            [
                (1, "a b c d e"),          # all shingles first here
                (2, "a b c x y"),          # 'a b c' seen in doc 1
                (3, "a b c d e"),          # verbatim copy: zero novelty
                (4, "p q"),                # too short for 3-shingles
            ],
            "doc_id bigint, text string",
        )
        out = {r.doc_id: r for r in ngram_novelty(docs, n=3).collect()}
        assert 4 not in out                       # no shingles -> dropped
        assert out[1].novelty == 1.0
        assert out[3].novelty == 0.0 and out[3].n_novel == 0
        # doc 2: shingles {a b c, b c x, c x y}; only 'a b c' is old
        assert out[2].n_shingles == 3 and out[2].n_novel == 2
        assert out[2].novelty == round(2 / 3, 4)

    def test_duplicate_shingles_within_doc_count_once(self, spark):
        from datayours_spark.functions.dedup import ngram_novelty

        docs = spark.createDataFrame(
            [(1, "a b a b a b")], "doc_id bigint, text string"
        )
        out = ngram_novelty(docs, n=2).collect()[0]
        # distinct 2-shingles: {a b, b a} -> 2, both novel
        assert out.n_shingles == 2 and out.n_novel == 2


class TestWinnowDecontaminate:
    def test_eval_doc_inside_long_training_doc_is_caught(self, spark):
        """The classic leak: a whole short eval doc quoted inside a long
        training doc must flag at containment 1.0 under the default
        eval-side denominator (the doc-side ratio would dilute it)."""
        from datayours_spark.functions.dedup import winnow_decontaminate

        eval_text = "alpha beta gamma delta epsilon zeta"
        filler = " ".join(f"filler{i}" for i in range(60))
        docs = spark.createDataFrame(
            [
                (1, filler + " " + eval_text + " tail words here"),
                (2, "totally unrelated content with nothing shared ok"),
            ],
            "doc_id bigint, text string",
        )
        ev = spark.createDataFrame(
            [(100, eval_text)], "doc_id bigint, text string"
        )
        hits = winnow_decontaminate(
            docs, ev, k=3, w=3, threshold=0.9
        ).collect()
        assert {(r.doc_id, r.eval_id) for r in hits} == {(1, 100)}
        assert hits[0].containment == 1.0
        # the doc-side ratio on the same data stays far below threshold
        doc_side = winnow_decontaminate(
            docs, ev, k=3, w=3, threshold=0.9, denom="doc"
        ).collect()
        assert doc_side == []

    def test_denominator_validation(self, spark):
        import pytest as _pytest

        from datayours_spark.functions.dedup import winnow_decontaminate

        docs = spark.createDataFrame(
            [(1, "a b c")], "doc_id bigint, text string"
        )
        with _pytest.raises(ValueError):
            winnow_decontaminate(docs, docs, denom="nope")


def test_observed_or_count_falls_back_and_warns():
    """An Observation whose ``get`` never returns must not stall the
    caller: the count fallback answers within the timeout and warns."""
    import threading
    import time

    from datayours_spark.functions.dedup import _observed_or_count

    release = threading.Event()

    class _HungObservation:
        @property
        def get(self):
            release.wait()
            return {"n": -1}

    class _Counted:
        def count(self):
            return 7

    t0 = time.perf_counter()
    try:
        with pytest.warns(RuntimeWarning, match="df.count"):
            n = _observed_or_count(_HungObservation(), "n", _Counted())
    finally:
        release.set()
    assert n == 7
    assert time.perf_counter() - t0 < 10.0
