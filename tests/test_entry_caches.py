"""The registry's session cache (``io.session_cached``).

A cache hit must be bit-identical to a fresh recompute
(DATAYOURS_NO_INDEX_CACHE=1 bypasses checkpointed parts on READ and
write, building the full lineage).  ADVICE r4 flagged the original bypass
test as vacuous: the helpers consulted the cache before checking the env
var, so the "fresh" run returned the already-cached DataFrames and the
equality could never fail.  `test_bypass_ignores_poisoned_cache` proves
the bypass by planting a wrong DataFrame in the cache and checking the
bypass run doesn't serve it.

The key rule (applicationId + sf_dir + the table's input identity +
part) and the invalidation rule (every call drops other applicationIds'
entries) are pinned by the rewrite and foreign-session tests.
"""

import os
import shutil

import pyarrow.parquet as pq
import pytest

import __spark_entry__ as E
from datayours_spark import io

SF_DIR = "/root/testdata/sf0.001"

# one per cache family: span detection, minhash signatures, simhash
# fingerprints, ANN codes/assignments (+ the coarse model), semdedup
REPRESENTATIVES = [
    "q_span_mask",
    "q_dedup_minhash",
    "q_simhash_neardup",
    "q_ann_ivfpq",
    "q_semdedup",
]


@pytest.mark.parametrize("qname", REPRESENTATIVES)
def test_cache_bypass_identical(spark, qname):
    fn = E.queries()[qname]
    cached = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    os.environ["DATAYOURS_NO_INDEX_CACHE"] = "1"
    try:
        fresh = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    finally:
        os.environ.pop("DATAYOURS_NO_INDEX_CACHE", None)
    assert cached == fresh
    assert len(cached) > 0


def test_bypass_ignores_poisoned_cache(spark):
    """With the bypass env set, a helper must not READ its cache: plant a
    deliberately wrong spans table under the exact cache key and check the
    bypass run recomputes (while a normal run would serve the poison)."""
    fn = E.queries()["q_span_mask"]
    truth = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    app_id = spark.sparkContext.applicationId
    key = (app_id, SF_DIR, "documents", ("spans", E.SPAN_K, E.SPAN_MIN_TOKENS))
    real = io._SESSION_CACHE.get(key)
    assert real is not None, "q_span_mask should have populated the cache"
    ident, spans = real
    poison = spans.where("doc_id < 0")  # empty spans => all-zero masks
    io._SESSION_CACHE[key] = (ident, poison)
    try:
        poisoned = sorted(map(tuple, fn(spark, SF_DIR).collect()))
        assert poisoned != truth, (
            "poison did not take — the cache key changed and this test "
            "needs updating"
        )
        os.environ["DATAYOURS_NO_INDEX_CACHE"] = "1"
        try:
            fresh = sorted(map(tuple, fn(spark, SF_DIR).collect()))
        finally:
            os.environ.pop("DATAYOURS_NO_INDEX_CACHE", None)
        assert fresh == truth
    finally:
        io._SESSION_CACHE[key] = real


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_rewritten_table_is_rebuilt(spark, tmp_path):
    """Rewriting documents.parquet under the same sf_dir inside one
    session: the relation and the signature index built from the old
    file must not be served — results match a never-cached directory
    holding the new file."""
    src = f"{SF_DIR}/documents.parquet"
    live, ref = tmp_path / "live", tmp_path / "ref"
    live.mkdir()
    ref.mkdir()
    shutil.copy(src, live / "documents.parquet")
    fn = E.queries()["q_dedup_minhash"]
    before = _rows(fn(spark, str(live)))
    assert io.load_table(spark, str(live), "documents").count() == 500

    # the new file drops 100 docs and turns every odd doc into a copy of
    # its even neighbour's text: pairs the old signatures cannot find
    docs = pq.read_table(src).to_pandas()
    docs = docs[docs.doc_id < 400].reset_index(drop=True)
    odd = docs.doc_id % 2 == 1
    docs.loc[odd, "text"] = docs["text"].shift(1)[odd]
    for d in (live, ref):
        docs.to_parquet(d / "documents.parquet", index=False)

    assert io.load_table(spark, str(live), "documents").count() == len(docs)
    after = _rows(fn(spark, str(live)))
    assert after == _rows(fn(spark, str(ref)))
    assert after != before


def test_pipeline_run_shared_and_rebuilt(spark, tmp_path):
    """The two pipeline_compose queries share one pipeline run per table:
    after documents.parquet is rewritten under the same sf_dir, the run
    is rebuilt (the old manifest is not served), and the manifest read
    after q_pipeline_payload (in ``ref``) equals the one built cold by
    q_ingest_pipeline alone (in ``live``)."""
    src = f"{SF_DIR}/documents.parquet"
    live, ref = tmp_path / "live", tmp_path / "ref"
    live.mkdir()
    ref.mkdir()
    shutil.copy(src, live / "documents.parquet")
    registry = E.queries()
    ingest = registry["q_ingest_pipeline"]
    before = _rows(ingest(spark, str(live)))

    docs = pq.read_table(src).to_pandas()
    docs = docs[docs.doc_id < 400].reset_index(drop=True)
    for d in (live, ref):
        docs.to_parquet(d / "documents.parquet", index=False)

    assert registry["q_pipeline_payload"](spark, str(ref)).count() > 0
    shared = _rows(ingest(spark, str(ref)))
    cold = _rows(ingest(spark, str(live)))
    assert cold == shared
    assert cold != before
    assert len(cold) > 0


def test_foreign_session_entries_dropped(spark):
    """Entries of another applicationId (a stopped session) are dropped
    by the next call, whatever table or part it asks for."""
    foreign = ("app-stopped", SF_DIR, "documents", "relation")
    io._SESSION_CACHE[foreign] = (None, object())
    io.load_table(spark, SF_DIR, "region")
    app_id = spark.sparkContext.applicationId
    assert io._SESSION_CACHE
    assert all(k[0] == app_id for k in io._SESSION_CACHE)


def test_emb_dim_names_partless_dir(tmp_path):
    (tmp_path / "embeddings.parquet").mkdir()
    with pytest.raises(ValueError, match="embeddings.parquet"):
        E._emb_dim(str(tmp_path))
