"""Streaming winnowing maintenance: the MOSS-fingerprint dedup path as a
stream (completes the streaming incremental family next to
`dedupstream.DedupStream` (MinHash), `spanstream.SpanStream` (spans),
`embedstream.EmbedStream` (cosine), `semdedupstream.SemdedupStream`).

The batch operator (`functions.dedup.winnow_incremental`) answers "which
containment near-dup pairs does THIS batch introduce against the
standing fingerprint index".  This module runs it continuously: a
Structured Streaming document source feeds foreachBatch; every
micro-batch

1. computes its pairs against the standing (doc_id, h) index (new×old
   via the posting equi-join, new×new within the batch),
2. appends the verified pairs to the ``pairs`` table,
3. appends the batch's own distinct fingerprints to the ``index`` table
   and its per-doc fingerprint counts to the ``counts`` table — keeping
   both current for the next batch.

Invariant (tested): the union of per-batch pair emissions equals the
full recompute's pair set — WITH the caveat every containment metric
carries: a pair's containment denominator is min(n_fp) of the two docs,
both fixed at fingerprinting time, so per-batch emission is exact (no
later batch can change an earlier pair's score; unlike a global metric
there is nothing corpus-dependent in the pair score).

Per-batch cost is BATCH-PROPORTIONAL against the standing state
(r9 verdict "what's wrong" #2 — the previous form ran two full-index
shuffles per batch):

- **LWW read**: the compacted side of the store is already folded to
  last-writer-wins (the compaction fold), so the reader runs LWW only
  over the post-watermark TAIL (≤ ``compact_every`` batches) and
  anti-joins the tail's doc_ids (broadcast, tail-sized) out of the
  compacted side — no corpus-sized groupBy, no corpus shuffle
  (:func:`standing_index_view`).
- **Denominators**: the standing ``counts`` table (docs-sized, one row
  per live doc) feeds containment denominators, so the per-batch path
  never re-aggregates the fingerprint index by doc_id.
- **Posting join**: the batch fingerprints broadcast into the index
  scan (`winnow_incremental_indexed(broadcast_batch=...)`), so the
  index is SCANNED once per batch but never shuffled.
- **Bucket prune**: compacted index dirs are hash-partitioned by
  ``hb = pmod(h, index_buckets)``; a batch whose fingerprints hit only
  some buckets (trickle ingest, targeted re-checks) reads only those —
  PartitionFilters at the scan.  Uniform fingerprint hashes hit every
  bucket once a batch carries more than ~``index_buckets``
  fingerprints, so this prunes the long tail of tiny batches, not bulk
  loads; the broadcast posting join is what keeps bulk batches
  index-shuffle-free.

Exactly-once + compaction: the same ``BatchStore`` discipline as every
member of the family (batch-keyed dirs, `_SUCCESS` markers, watermark
compaction every ``compact_every`` batches — crash analysis in
store.py).

Hash width: winnow fingerprints are 60-bit as of r11 (the 32-bit space
was the collision noise floor at 100 TB — rationale at the hashing
site, ``functions/dedup.py::winnow_fingerprints``).  A standing index
persisted by an OLDER build carries 32-bit h values and will simply
never match 60-bit batch probes — re-ingest (or re-fingerprint) such a
store before resuming its stream.  As of r12 this is ENFORCED, not a
docstring warning: every maintainer stamps a ``_HASH_FORMAT`` marker
in the index table on first write and raises
:class:`WinnowHashFormatError` when reattaching to a store whose
marker is absent (pre-r11 build) or different (ADVICE r11 — the
silent-zero-pairs resume is now impossible).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datayours_spark.functions.dedup import (
    winnow_fingerprint_sets,
    winnow_incremental_indexed,
)
from datayours_spark.io import below_parallelism, static_construct
from datayours_spark.streaming.store import BatchStore

#: serializes the literal point probe's session-global
#: ``inFilterThreshold`` save/set/restore (ADVICE r13) — two concurrent
#: probes on one SparkSession must not interleave the restore
_INFILTER_LOCK = threading.Lock()


def validate_summary_prune(value) -> None:
    """Reject any ``summary_prune`` outside {True, False, "auto"} at
    construction time (ADVICE r13): a typo like ``"always"`` or
    ``"Auto"`` is truthy, so it would silently maintain the summary and
    run literal point probes but never the bulk probe
    (:func:`bulk_probe_wanted` returns False for non-``"auto"``
    strings) — a surprising hybrid instead of an error.  Identity
    checks, not ``in``: the int ``1`` equals True but fails
    ``bulk_probe_wanted``'s ``is True`` test, i.e. it would select the
    same hybrid."""
    if not (value is True or value is False or value == "auto"):
        raise ValueError(
            "summary_prune must be True, False or 'auto', got "
            f"{value!r}"
        )


DOC_SCHEMA = "doc_id bigint, text string"
# ``batch`` stamps the ingesting micro-batch so re-ingestion is
# REPLACEMENT all the way down: the reader keeps only each doc's
# latest-batch fingerprints (last-writer-wins), so a doc re-ingested in
# batch i never unions old+new rows when batch i+1 reads the index —
# the n_fp containment denominator stays single-version (ADVICE r8).
# ``hb`` is the hash-range partition bucket (pmod(h, index_buckets)).
# ``n_fp`` is the doc's DISTINCT fingerprint count, DENORMALIZED onto
# every posting row (r12): containment denominators ride with the rows
# through the pair join, so the per-batch pair path never scans or
# joins the counts table — the one remaining corpus-sized read a
# trickle batch paid — and index/denominator drift is structurally
# impossible (a version's rows are written in one batch with one n_fp).
INDEX_SCHEMA = "doc_id bigint, h bigint, n_fp bigint, batch bigint, hb int"
COUNTS_SCHEMA = "doc_id bigint, n_fp bigint, batch bigint"
PAIRS_SCHEMA = "id1 bigint, id2 bigint, shared bigint, containment double"

SCHEMAS = {
    "pairs": PAIRS_SCHEMA,
    "index": INDEX_SCHEMA,
    "counts": COUNTS_SCHEMA,
}

# --- on-disk hash-format versioning (ADVICE r11) ---------------------
#
# The r11 32→60-bit fingerprint widening is an on-disk format break: a
# standing index persisted by a pre-r11 build carries 32-bit h values
# that simply never match 60-bit batch probes, so a resumed stream
# would emit ZERO near-dup pairs with no error.  Every maintainer that
# appends to an index table therefore stamps a format marker on first
# write and REFUSES to attach to a store whose marker is absent
# (pre-marker build) or different (future width change) — turning the
# silent-zero-pairs failure into a loud one at stream start.
# v2 (r12): index rows additionally carry the denormalized ``n_fp``
# denominator column — a v1 store's rows lack it, so v1 streams must
# rebuild too (the marker check makes that loud)
WINNOW_HASH_FORMAT = "winnow-h60nfp-v2"
_FORMAT_MARKER = "_HASH_FORMAT"


class WinnowHashFormatError(RuntimeError):
    """The store's persisted fingerprint format does not match this
    build — resuming would silently emit no pairs (module docstring)."""


def ensure_hash_format(
    store: BatchStore, expected: str = WINNOW_HASH_FORMAT
) -> None:
    """Stamp or verify the fingerprint-format marker of a store's
    ``index`` table.  Idempotent; call before the first index write of
    a process (the stream maintainers do, memoized per instance).

    - marker present and equal: no-op.
    - marker present and different: raise (width/format mismatch).
    - marker absent, index empty: stamp it (first write of a new store).
    - marker absent, index has committed data: raise — the store
      predates format stamping (pre-r11, 32-bit h); it must be rebuilt
      (re-ingested) before a 60-bit stream may reattach.

    The marker is a plain file inside ``index/`` — compaction GC
    ignores non-``batch-``/``compacted-`` entries, so it survives every
    fold."""
    fs = store._filesystem()
    marker = store._path("index", _FORMAT_MARKER)
    if fs.exists(marker):
        jvm = store.spark._jvm
        stream = fs.open(marker)
        try:
            found = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            ).strip()
        finally:
            stream.close()
        if found != expected:
            raise WinnowHashFormatError(
                f"standing winnow index at {store.store_dir}/index was "
                f"written with fingerprint format {found!r}; this build "
                f"expects {expected!r} — its probes would never match. "
                "Rebuild (re-ingest) the store before resuming."
            )
        return
    if store.committed_dirs("index"):
        raise WinnowHashFormatError(
            f"standing winnow index at {store.store_dir}/index has "
            "committed data but no _HASH_FORMAT marker: it predates "
            "format stamping (pre-r11 32-bit fingerprints) and would "
            "silently match nothing against this build's 60-bit probes. "
            "Rebuild (re-ingest) the store before resuming."
        )
    fs.mkdirs(store._path("index"))
    out = fs.create(marker, True)
    try:
        out.write(bytearray(expected.encode("utf-8")))
    finally:
        out.close()


def _index_lww(index: DataFrame) -> DataFrame:
    """Last-writer-wins fold of the stored index: per doc_id, keep only
    the rows of its highest ingesting batch.  Used at COMPACTION time
    (amortized over ``compact_every`` batches), where the full groupBy
    is the point — it physically drops superseded rows.  The per-batch
    READ path must not pay this over the whole index; it uses
    :func:`_index_lww_split` / :func:`standing_index_view`."""
    latest = index.groupBy("doc_id").agg(F.max("batch").alias("batch"))
    return index.join(latest, ["doc_id", "batch"])


def _index_lww_split(compacted: DataFrame, tail: DataFrame) -> DataFrame:
    """Batch-proportional last-writer-wins view over a store read split
    at the compaction watermark (``BatchStore.read_split``).

    The compacted side was written BY the LWW fold, so it is already
    single-version per doc; every batch in the tail has a batch id
    above the watermark, so a doc present in both sides is newest in
    the tail.  Hence: LWW within the tail (tail-sized groupBy,
    ≤ ``compact_every`` batches of rows), then anti-join the tail's
    doc_ids (broadcast, tail-sized) out of the compacted side — the
    corpus-sized side is scanned once, never shuffled."""
    tail_latest = tail.groupBy("doc_id").agg(F.max("batch").alias("batch"))
    tail_lww = tail.join(tail_latest, ["doc_id", "batch"])
    base = compacted.join(
        F.broadcast(tail.select("doc_id").distinct()),
        "doc_id",
        "left_anti",
    )
    return base.unionByName(tail_lww)


def _with_hb(fp: DataFrame, buckets: int) -> DataFrame:
    """Stamp the hash-range partition column on a (…, h, …) relation."""
    return fp.withColumn(
        "hb", F.pmod(F.col("h"), F.lit(buckets)).cast("int")
    )


# --- per-bucket bloom summary (r10 verdict #5) -----------------------
#
# The hb hash-range prune only helps batches whose fingerprints touch a
# strict subset of the buckets — uniform hashes touch ALL of them once
# a batch carries more than ~buckets fingerprints.  The summary lets a
# BULK batch of mostly-fresh content skip compacted buckets too: at
# compaction time each hb bucket's distinct h values are folded into a
# PARTITIONED BLOOM (n_hashes independent planes of m_p bits each,
# stored as 64-bit bitmap words — engine-native rows, no driver-side
# bloom object), and the per-batch probe joins the batch's h values
# against the words: a bucket none of whose batch probes hit all
# planes provably contains no h-match (blooms have no false
# negatives), so the pair path's compacted scan skips it.  False
# positives only cost extra reads.  With the default 24 bits/element ×
# 8 planes the per-element fpp is ~4e-5, so a fresh 1%-of-corpus batch
# skips ~90% of the compacted bytes; a batch of mostly already-ingested
# text hits every bucket and degrades to the unpruned scan.
#
# Young-store coverage (r11 verdict #3): a store before its FIRST
# compaction has no summary — and needs none.  The bloom describes
# only the COMPACTED side; pre-compaction there is no compacted side
# to skip, so the "unpruned window" is exactly the tail, whose size is
# already bounded by ``compact_every`` batches by construction.  The
# moment the first compaction lands, ``rebuild_index_summary`` runs in
# the same maybe_compact hook and coverage begins; a crashed or stale
# rebuild degrades to no pruning, never to a wrong answer (wm check).
SUMMARY_SCHEMA = "hb int, word bigint, bits bigint, m bigint, wm bigint"
SUMMARY_BITS_PER_FP = 24
SUMMARY_PLANES = 8


def _summary_path(store: BatchStore) -> str:
    return store.store_dir + "/index_summary"


def summary_m_p(n: int, buckets: int, bits_per_fp: int, planes: int) -> int:
    """Per-plane bit width for ``n`` distinct fingerprints — a pure
    function of the inputs so both engines (and the DuckDB oracle)
    derive the identical bloom geometry."""
    return max(63, -(-n * bits_per_fp // (buckets * planes) // 63) * 63)


def _plane_positions(m_p: int, planes: int):
    """Per-plane bit positions of ``h``: plane i owns bits
    [i·m_p, (i+1)·m_p); one position per plane, so a probe h emits
    exactly ``planes`` DISTINCT positions (the all-planes-hit check
    counts matched rows — separate planes make double-landing
    impossible).  Plane hashes are md5-derived from the DECIMAL string
    of h (not xxhash64) so the DuckDB oracle can replay the bitmap
    bit-for-bit; words are 63-bit (shift ≤ 62) so the sign bit never
    enters and both engines' BIGINT shifts agree.

    The plane hash is 60-bit, not 32-bit (ADVICE r11): at 100 TB scale
    ``summary_m_p`` exceeds 2^32 (~10^12 fingerprints / 256 buckets ×
    24 bits), and a 32-bit hash could never address the upper plane
    bits — no false negatives (build and probe share the hash) but
    per-plane load saturates and the documented ~4e-5 fpp silently
    degrades to percent-level, voiding the prune exactly at the scale
    it targets.  A 60-bit hash addresses planes up to 2^60 bits and
    keeps ``pmod(h60, m_p)`` bias negligible (≤ m_p/2^60).

    md5 is the dominant build/probe cost (it runs planes× per
    element), so each md5 feeds TWO planes: planes 2j and 2j+1 take
    hex chars [1,15] and [16,30] of ``md5(h ":" j)`` — disjoint 60-bit
    slices of one digest (independent as hash bits), halving the md5
    count.  Whole-stage codegen's common-subexpression elimination
    computes each digest once per row."""
    return F.array(*[
        (
            F.lit(i * m_p)
            + F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("h").cast("string"),
                                F.lit(f":{i // 2}"),
                            )
                        ),
                        1 + 15 * (i % 2),
                        15,
                    ),
                    16, 10,
                ).cast("bigint"),
                F.lit(m_p),
            )
        )
        for i in range(planes)
    ])


def _plane_positions_py(h: int, m_p: int, planes: int) -> list[int]:
    """Driver-side replica of :func:`_plane_positions` — the identical
    md5/substring/conv/pmod arithmetic in pure Python (differentially
    tested bit-for-bit against the Spark expression, incl. negative h:
    Python's ``%`` IS pmod, and ``f"{h}"`` matches ``cast(h as
    string)``).  Lets a SMALL batch's literal h set (≤ the maintainers'
    one-collect cap) compute its probe positions without any Spark job
    (:func:`summary_verdict_literal`)."""
    import hashlib

    out = []
    for i in range(planes):
        dig = hashlib.md5(f"{h}:{i // 2}".encode()).hexdigest()
        lo = 15 * (i % 2)
        out.append(i * m_p + int(dig[lo:lo + 15], 16) % m_p)
    return out


def summary_words(fp: DataFrame, buckets: int, m_p: int, planes: int) -> DataFrame:
    """The bloom bitmap of a (…, h) relation: one row per (hb, word)
    with the OR of the 63-bit word's set bits — the pure build step
    shared by :func:`rebuild_index_summary` and the oracle-backed
    registry query.  Input rows need not be distinct.

    Scale shape (r12 verdict #2 — the previous form was the 15M
    rebuild's superlinear term): the raw rows are clustered by ``hb``
    FIRST, in ONE exchange, and that single partitioning satisfies
    every downstream requirement — the distinct-h dedup groups by
    (hb, h) and the bitmap fold groups by (hb, word), and a
    HashPartitioning on ``hb`` alone satisfies ClusteredDistribution
    for BOTH key sets (hb is a member of each), so Catalyst inserts no
    further exchange.  Consequences at corpus scale:

    - the positions explode (planes × distinct-h rows — 4.8G rows at
      the 15M decade smoke) is never shuffled or spilled: it flows
      straight into a partition-local aggregate within the same stage;
    - every hash map is bounded by ONE bucket's key space (distinct h
      per bucket for the dedup, ``planes × m_p / 63`` words for the
      fold), independent of how many buckets the corpus has — raise
      ``index_buckets`` with the corpus and per-task state stays flat.

    The previous form (global distinct → explode → (hb, word) groupBy)
    shuffled the corpus twice and ran its partial aggregate over the
    FULL bitmap key space per task — the maps spilled and the exploded
    relation itself went through an exchange, 417–428 s at 15M vs
    linear here.  Row values are identical (bit_or is commutative and
    order-independent); only the physical plan changed."""
    return (
        _with_hb(fp.select("h"), buckets)
        .repartition(buckets, "hb")
        .dropDuplicates(["hb", "h"])
        .select("hb", F.explode(_plane_positions(m_p, planes)).alias("p"))
        .select(
            "hb",
            F.expr("p div 63").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 63) AS INT))"
            ).alias("bit"),
        )
        .groupBy("hb", "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )


def summary_probe(
    words: DataFrame,
    fp: DataFrame,
    buckets: int,
    m_p: int,
    planes: int,
    broadcast_probe: bool = True,
) -> DataFrame:
    """Per-probe-h bloom verdicts against a summary's (hb, word, bits)
    bitmap: (hb, h, k) where ``k`` counts the probe's plane positions
    whose bit is set — ``k == planes`` means the bucket MIGHT contain
    h (no false negatives; separate planes make double-landing
    impossible, so the count is exact)."""
    probe = (
        _with_hb(fp.select("h").distinct(), buckets)
        .select(
            "h", "hb",
            F.explode(_plane_positions(m_p, planes)).alias("p"),
        )
        .select(
            "h", "hb",
            F.expr("p div 63").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 63) AS INT))"
            ).alias("bit"),
        )
    )
    probe_src = F.broadcast(probe) if broadcast_probe else probe.hint(
        "shuffle_hash"
    )
    return (
        probe_src.join(words.select("hb", "word", "bits"), ["hb", "word"])
        .where(F.expr("(bits & bit) != 0"))
        .groupBy("hb", "h")
        .agg(F.count("*").alias("k"))
    )


def rebuild_index_summary(
    store: BatchStore,
    buckets: int,
    bits_per_fp: int = SUMMARY_BITS_PER_FP,
    planes: int = SUMMARY_PLANES,
) -> int:
    """(Re)build the bloom summary of the COMPACTED index side — call
    right after compaction (the summary is stamped with the index
    watermark; readers ignore it the moment the watermark moves, so a
    stale or crashed rebuild degrades to no pruning, never to a wrong
    answer).  Returns the per-plane bit width (0 = no summary)."""
    comp, _tail = store.read_split("index", INDEX_SCHEMA)
    wm = store.watermark("index")
    spark = store.spark
    fs = store._filesystem()
    path = _summary_path(store)
    # write intent: version the summary dir so in-process scalar/df
    # memos keyed on it cannot survive a same-tick rewrite (_SUCCESS
    # mtime is 1s-granular — the same staleness class _dir_epoch
    # defends _df_cache against; ADVICE r12)
    store._dir_epoch[path] = store._dir_epoch.get(path, 0) + 1
    # size the bloom from an HLL sketch, not an exact distinct-h pass:
    # approx_count_distinct scans the h column ONCE with no exchange
    # (partial sketches merge at the driver), where the previous
    # ``select(h).distinct().count()`` shuffled the whole corpus — the
    # superlinear term of the 15M rebuild.  Bloom sizing tolerates the
    # ±5% rsd: a 5% undershoot nudges fpp from ~4e-5 toward ~1e-4,
    # still three orders below useful; the bitmap geometry the READERS
    # use is whatever ``m`` the summary rows carry, so the estimate is
    # self-consistent by construction.  (A plain row count is NOT a
    # good proxy: duplicate h across doc versions/families overshoots
    # it ~3x on dup-heavy corpora, tripling the bitmap — measured.)
    n = int(
        comp.agg(F.approx_count_distinct("h", 0.05).alias("n"))
        .first()["n"]
    )
    if wm < 0 or n == 0:
        fs.delete(store._path("index_summary"), True)
        return 0
    m_p = summary_m_p(n, buckets, bits_per_fp, planes)
    words = summary_words(comp, buckets, m_p, planes).select(
        "hb", "word", "bits",
        F.lit(m_p).cast("long").alias("m"),
        F.lit(wm).cast("long").alias("wm"),
    )
    # write the bitmap CLUSTERED AND SORTED by (hb, word) with small
    # parquet row groups: each file covers one-ish bucket (the build's
    # hb-clustered partitioning writes through unchanged) and each row
    # group a tight contiguous (hb, word) range, so the literal-mode
    # point probe (:func:`summary_verdict_literal`) pushes its
    # (hb, word) literals down to file/row-group statistics and reads
    # only the groups its positions can live in — the same discipline
    # the index table gets from ``sort_within`` h-sorted compaction.
    # No coalesce (it would collapse the single-exchange build stage's
    # parallelism) and no repartitionByRange (range-boundary SAMPLING
    # executes the whole upstream build a second time — measured ~2x
    # on the rebuild wall); file count is bounded by ``buckets``.
    (
        words.sortWithinPartitions("hb", "word")
        .write.mode("overwrite")
        .option("parquet.block.size", 4 * 1024 * 1024)
        .parquet(path)
    )
    return m_p


def _summary_relation(
    store: BatchStore,
) -> tuple[DataFrame, int, int] | None:
    """The summary's ``(relation, m_p, wm)`` under the in-process memo,
    or None when no summary exists / it has no rows.  The (m_p, wm)
    header is constant per summary build — memoized on the marker's
    freshness signature so steady-state batches skip the per-trigger
    header job (r11 verdict #1, the trickle floor); the resolved
    DataFrame rides in the same memo entry, so repeat probes also skip
    the per-read file-listing job.  The key folds in the dir's
    write-intent epoch AND the current index watermark alongside the
    1s-granular _SUCCESS mtime, so a same-tick same-process summary
    rewrite self-invalidates the memo (a stale m_p under a matching wm
    would mis-position probe bits and silently skip buckets with real
    matches; ADVICE r12).  Callers still compare ``wm`` to the live
    index watermark — a summary the index has moved past degrades to
    no pruning, never to a wrong answer."""
    fs = store._filesystem()
    if not fs.exists(store._path("index_summary", "_SUCCESS")):
        return None
    spath = _summary_path(store)
    skey = (
        "summary_head",
        store._success_mtime(spath),
        store._dir_epoch.get(spath, 0),
        store.watermark("index"),
    )
    memo = store._scalar_cache.get(skey)
    if memo is None:
        s = store.spark.read.schema(SUMMARY_SCHEMA).parquet(spath)
        row = s.select("m", "wm").first()
        if row is None:
            return None
        memo = (s, int(row["m"]), int(row["wm"]))
        # same cap-and-clear as _df_cache: entries hold resolved
        # DataFrames (plan + file index), and a long-lived stream
        # accretes one per compaction cycle — unbounded otherwise
        # (ADVICE r13)
        if len(store._scalar_cache) >= 256:
            store._scalar_cache.clear()
        store._scalar_cache[skey] = memo
    return memo


def summary_verdict_literal(
    store: BatchStore,
    h_values: list,
    buckets: int,
    planes: int = SUMMARY_PLANES,
) -> tuple[list, list[int]] | None:
    """Per-h bloom verdicts for a SMALL batch's literal h set — the
    point-probe prune (r12 verdict #3).  Probe positions are computed
    DRIVER-SIDE (:func:`_plane_positions_py` — no probe-side Spark
    plan, no broadcast) and the bitmap words come back through ONE
    literal-pushdown summary scan.

    Returns ``(surviving_h, hit_buckets)`` — the h values that MIGHT
    exist in the compacted index (all ``planes`` bits set in their
    bucket's bloom) and the distinct hb buckets they map to — or None
    when no summary matches the current index watermark (callers fall
    back to the distributed probe / unpruned scan).  No false
    negatives: an h is dropped only when some plane bit is unset,
    which proves the h never entered its bucket's bloom; dropping it
    from the compacted side's literal set is therefore an exact
    rewrite of the pair join, and an all-absent batch (fresh trickle,
    the common case) eliminates the compacted posting scan entirely.

    Scale shape: ``len(h_values) × planes`` driver-side md5s (the
    maintainers' one-collect cap bounds it at ~1k h), then a scan that
    reads only the row groups of the summary's (hb, word)-sorted,
    small-row-group files whose stat ranges intersect the literal
    (hb, word) sets — corpus-size-independent reads, vs the posting
    buckets' index-sized term this replaces for trickles.  The
    eq-or-chain pushdown needs ``inFilterThreshold`` above the literal
    counts; it is raised around this read only (serialized by a
    process-wide lock: the conf is session-global, so two concurrent
    literal probes on one SparkSession — e.g. two foreachBatch streams
    — could otherwise race the save/restore and leave a stale value
    behind, ADVICE r13; queries planned on OTHER threads during the
    short set→collect→restore window still observe the raised
    threshold, which only ever widens pushdown, never changes
    results)."""
    head = _summary_relation(store)
    if head is None:
        return None
    s, m_p, wm = head
    if wm != store.watermark("index"):
        return None
    hs = sorted(set(h_values))
    if not hs:
        return [], []
    pos = {h: _plane_positions_py(h, m_p, planes) for h in hs}
    hbs = sorted({h % buckets for h in hs})
    words = sorted({p // 63 for ps in pos.values() for p in ps})
    spark = store.spark
    conf_key = "spark.sql.parquet.pushdown.inFilterThreshold"
    with _INFILTER_LOCK:
        old = spark.conf.get(conf_key, None)
        # push the full eq-or-chains to parquet row-group statistics
        # (Spark's stock default of 10 would rewrite each In to a
        # useless [min, max] range over uniform probe values).  Only
        # RAISE, never lower: the session may already sit above the
        # need (datayours sessions default to 2048), and a concurrent
        # query planned mid-probe must never observe a narrower
        # pushdown than it would without us.  An UNSET conf means
        # Spark's built-in default of 10 is in effect, not 0: treating
        # it as 0 would let a tiny probe (need 2-10) momentarily set
        # the threshold BELOW the effective default on a foreign
        # session that never configured it (ADVICE r14)
        need = max(len(hbs), len(words)) + 1
        have = int(old) if old is not None and str(old).isdigit() else 10
        try:
            if need > have:
                spark.conf.set(conf_key, str(need))
            rows = (
                s.where(F.col("hb").isin(hbs) & F.col("word").isin(words))
                .select("hb", "word", "bits")
                .collect()
            )
        finally:
            if need > have:
                if old is None:
                    spark.conf.unset(conf_key)
                else:
                    spark.conf.set(conf_key, old)
    have = {(r["hb"], r["word"]): r["bits"] for r in rows}
    surviving = [
        h
        for h in hs
        if all(
            have.get((h % buckets, p // 63), 0) & (1 << (p % 63))
            for p in pos[h]
        )
    ]
    return surviving, sorted({h % buckets for h in surviving})


# the auto-policy crossover for the DISTRIBUTED bulk probe, in
# per-plane bitmap bits — a THREE-point measured line (the same 150k
# mixed batch against growing standing indexes, probe-stamped healthy
# runs):
#   m_p   125,874 (1.5M docs): probe join ~5 s vs a 17.6% byte skip —
#                              net LOSS (r11 measurement);
#   m_p   654,633 (5M docs):   36.7 s probed vs 33.2 s unprobed —
#                              still a ~10% net loss (r14 smoke);
#   m_p ~1.16M    (15M docs):  64.0–67.6 s probed vs ~78 s unprobed —
#                              net WIN (r13 repeats).
# The threshold sits at the geometric midpoint of the largest measured
# loss point and the smallest measured win point (√(654,633 × 1.16M) ≈
# 871k, rounded; was 500,000 before the r14 bracketing run showed 5M
# still loses).  m_p is a pure function of the index's
# distinct-fingerprint count (summary_m_p), so this is an index-size
# dial, readable from the memoized summary header with no extra job.
# Literal-mode point probes have their own gate (AUTO_POINT_MIN_M_P
# below — r14 verdict #6): their COST is corpus-size-independent, but
# their SAVINGS are index-sized, so small indexes lose there too.
AUTO_BULK_MIN_M_P = 900_000


def bulk_probe_wanted(store: BatchStore, summary_prune) -> bool:
    """Whether this batch should run the DISTRIBUTED summary probe
    join, under the maintainer's ``summary_prune`` policy: True always
    probes, ``"auto"`` probes only when the summary header's per-plane
    width says the compacted index is large enough for the probe join
    to pay for itself (``AUTO_BULK_MIN_M_P``), False never does.  The
    header read is memoized (:func:`_summary_relation`), so the auto
    check costs no per-batch job."""
    if summary_prune is True:
        return True
    if summary_prune != "auto":
        return False
    head = _summary_relation(store)
    return head is not None and head[1] >= AUTO_BULK_MIN_M_P


# the auto-policy gate for the LITERAL point probe (r14 verdict #6).
# The probe's cost is corpus-size-independent (one pushdown-pruned
# summary scan, ~1-2 s/trigger on this box), but what it SAVES — the
# compacted posting scan it can drop from a fresh trickle's pair plan —
# grows with the index, so against a small index the probe can only
# lose.  Measured (fresh 50-doc trickles, probe-stamped):
#   m_p   654,633 (5M docs):  11.1 s probed vs 9.2 s unprobed —
#                             ~2 s/trigger net loss (r14 smoke);
#   m_p ~1.16M    (15M docs): net WIN (r13/r14 decade smokes — 8.9 s
#                             fresh trickle WITH the probe; without it
#                             the pair plan re-acquires the
#                             index-sized compacted posting scan).
# Same loss/win bracket as the bulk probe's, so the same geometric
# midpoint (√(654,633 × 1.16M) ≈ 871k, rounded).  Below the gate the
# unprobed posting path is already cheap; above it the probe pays for
# itself every trigger.  summary_prune=True keeps the probe
# unconditional (the maintainer asked for it); skipping the probe
# never changes outputs — comp_h stays None and the pair join reads
# the full posting path (byte-identical-pairs tests pin this).
AUTO_POINT_MIN_M_P = 900_000


def point_probe_wanted(store: BatchStore, summary_prune) -> bool:
    """Whether a literal-mode batch should run the driver-side point
    probe (:func:`summary_verdict_literal`), mirroring
    :func:`bulk_probe_wanted`: True always probes, ``"auto"`` probes
    only when the summary header's per-plane width says the standing
    index is large enough for the probe to beat the posting scan it
    prunes (``AUTO_POINT_MIN_M_P``), False never does.  The header
    read is memoized, so the auto check costs no per-batch job."""
    if summary_prune is True:
        return True
    if summary_prune != "auto":
        return False
    head = _summary_relation(store)
    return head is not None and head[1] >= AUTO_POINT_MIN_M_P


def summary_hit_buckets(
    store: BatchStore,
    batch_fp: DataFrame,
    buckets: int,
    planes: int = SUMMARY_PLANES,
    probe_rows: int | None = None,
) -> list[int] | None:
    """The hb buckets of the compacted index that MIGHT contain an
    h-match for this batch, per the bloom summary — or None when no
    summary matches the current index watermark (reader then falls
    back to the unpruned scan).  Never loses a match: a bucket is
    skipped only when every batch h misses at least one bloom plane,
    which proves the h is absent from that bucket."""
    head = _summary_relation(store)
    if head is None:
        return None
    s, m_p, wm = head
    if wm != store.watermark("index"):
        return None
    # batch probes join ONE summary scan; a probe row joins iff its
    # word exists, survives iff its bit is set — a probe h "might be
    # present" in its bucket iff all `planes` rows survive.  Small
    # batches broadcast the probe side (summary streams, no exchange);
    # bulk batches (``probe_rows`` above the broadcast budget — the
    # caller knows its fingerprint count) hash-shuffle both sides
    # instead of building a multi-GB broadcast.
    bc = not (probe_rows is not None and probe_rows * planes > 4_000_000)
    hit = (
        summary_probe(s, batch_fp, buckets, m_p, planes, broadcast_probe=bc)
        .where(F.col("k") == planes)
        .select("hb")
        .distinct()
    )
    return sorted(r["hb"] for r in hit.collect())


def standing_index_view(
    store: BatchStore,
    batch_fp: DataFrame,
    buckets: int,
    bks: list[int] | None = None,
    hit_bks: list[int] | None = None,
    batch_h: list[int] | None = None,
    comp_h: list | None = None,
) -> DataFrame:
    """The LWW standing index view for one batch's pair computation,
    hb-pruned to the batch's fingerprint buckets when that prunes
    anything.  Safe for the PAIR path only: a standing row with hb
    outside the batch's bucket set can never h-match a batch
    fingerprint, and containment denominators ride DENORMALIZED on the
    rows themselves (each row carries its doc's distinct-fingerprint
    count as ``n_fp``, stamped at write time, r12) — a per-row constant
    that no hb/bloom/h prune can alter, so pruning rows never skews a
    surviving pair's denominator.

    The LWW bookkeeping (which batch is each doc's latest, which docs
    live in the tail) is computed over the UNPRUNED tail — a doc
    re-ingested with fingerprints entirely outside the batch's buckets
    must still supersede its compacted rows INSIDE them; only the
    surviving data rows are bucket-filtered (mutation-tested).

    ``bks`` optionally hands in the batch's precomputed hb bucket set —
    a maintainer that already aggregated the batch's fingerprints per
    bucket (the one-collect-per-batch discipline, r10 verdict #1)
    skips this function's own collect job.

    ``hit_bks`` optionally hands in the bloom-summary verdict
    (:func:`summary_hit_buckets`): the compacted side is then pruned to
    those buckets even when the batch's own hb set covers everything —
    the bulk-batch prune the hb layout alone cannot provide.  Applies
    to the COMPACTED data rows only (the summary describes exactly the
    compacted side at its watermark); the tail keeps the hb prune.

    ``batch_h`` optionally hands in the batch's complete literal h set
    (small batches only — the maintainers cap it): data rows are then
    additionally filtered ``h IN (...)``, a predicate the parquet scan
    pushes down to row-group min/max statistics — the point-probe
    prune INSIDE the buckets the hb/bloom prunes leave.  Same safety
    argument as the hb prune: a standing row whose h is outside the
    batch's set can never h-match a batch fingerprint, and the LWW
    bookkeeping (tail_latest/tail_ids) is computed over the UNPRUNED
    tail, so replacement semantics are untouched.

    ``comp_h`` optionally narrows the COMPACTED side's literal h set
    below ``batch_h`` — the bloom point-probe verdict
    (:func:`summary_verdict_literal`): an h the summary proves absent
    from every compacted bucket is dropped from the compacted scan's
    predicate (an exact rewrite — a provably-absent h matches no
    compacted row), and an EMPTY verdict removes the compacted scan
    from the plan entirely (false filter → empty relation), the
    fresh-trickle fast path.  The tail is never narrowed by it: the
    summary describes only the compacted side at its watermark.
    Meaningful only alongside ``batch_h``."""
    comp, tail = store.read_split("index", INDEX_SCHEMA)
    tail_latest = tail.groupBy("doc_id").agg(
        F.max("batch").alias("batch")
    )
    tail_ids = tail_latest.select("doc_id")
    if bks is None:
        bks = [
            r.hb
            for r in _with_hb(batch_fp.select("h").distinct(), buckets)
            .select("hb").distinct().collect()
        ]
    comp_bks = bks if hit_bks is None else sorted(set(bks) & set(hit_bks))
    if len(comp_bks) < buckets:
        comp = comp.where(
            F.col("hb").isin(comp_bks) if comp_bks else F.lit(False)
        )
    if len(bks) < buckets:
        tail = tail.where(F.col("hb").isin(bks))
    if batch_h is not None:
        ch = batch_h if comp_h is None else comp_h
        comp = comp.where(F.col("h").isin(ch) if ch else F.lit(False))
        tail = tail.where(F.col("h").isin(batch_h))
    tail_lww = tail.join(tail_latest, ["doc_id", "batch"])
    base = comp.join(F.broadcast(tail_ids), "doc_id", "left_anti")
    return base.unionByName(tail_lww)


def write_index_batch(
    batch_fp: DataFrame, batch_id: int, dest: str, buckets: int
) -> None:
    """Append one batch's fingerprints (computing the denormalized
    ``n_fp`` denominator column when the caller's relation doesn't
    already carry it) with ``hb`` as a DATA column —
    batch dirs stay flat (a per-batch ``partitionBy`` would fan every
    micro-batch out into ``buckets`` tiny files); the hb DIRECTORY
    layout materializes at compaction, where the amortized rewrite
    clusters by hb anyway (``BatchStore.partition_cols``).  Readers see
    one uniform schema either way: hb rides in the files for tail
    dirs and in the dir names for compacted ones, and the bucket prune
    only pays on the compacted (corpus-sized) side."""
    if "n_fp" not in batch_fp.columns:
        from pyspark.sql import Window as _W

        batch_fp = batch_fp.withColumn(
            "n_fp",
            F.count("*").over(_W.partitionBy("doc_id")).cast("bigint"),
        )
    (
        _with_hb(batch_fp.withColumn("batch", F.lit(batch_id)), buckets)
        .select("doc_id", "h", "n_fp", "batch", "hb")
        .write.mode("overwrite")
        .parquet(dest)
    )


def write_counts_batch(
    batch_fp: DataFrame, batch_id: int, dest: str
) -> None:
    """Append one batch's per-doc distinct-fingerprint counts."""
    (
        batch_fp.groupBy("doc_id")
        .agg(F.count("*").alias("n_fp"))
        .withColumn("batch", F.lit(batch_id))
        .write.mode("overwrite")
        .parquet(dest)
    )


@dataclass
class WinnowStream:
    """Continuous winnowing near-dup maintenance over a document stream."""

    spark: SparkSession
    input_dir: str       # streaming source: parquet drops of (doc_id, text)
    store_dir: str       # holds index/, counts/, pairs/
    checkpoint_dir: str
    k: int = 4
    w: int = 4
    threshold: float = 0.5
    #: posting-pair guard forwarded to the winnow stage; raise it
    #: DELIBERATELY for corpora whose real dup-family volume exceeds
    #: the default (the guard's documented escape hatch — parity with
    #: IngestPipeline.max_join_pairs)
    max_join_pairs: int | None = 50_000_000
    #: hash-range partition count for the stored index (dir layout +
    #: posting-join prune); fixed for the lifetime of a store
    index_buckets: int = 32
    #: broadcast the batch's fingerprints into the posting join when
    #: they number at most this many rows (bulk loads above it fall
    #: back to the shuffle join, whose cost the batch itself dominates)
    broadcast_fp_rows: int = 4_000_000
    #: fold the per-batch store dirs every N batches (store.BatchStore)
    compact_every: int | None = 64
    #: maintain the compacted index's bloom summary and use it to skip
    #: compacted state that provably contains no batch h-match.  BULK
    #: batches pay one distributed probe join each (wins when batches
    #: are mostly FRESH text or the index is large; degrades to the
    #: unpruned scan when they re-hit existing content).  SMALL
    #: batches (literal mode, ≤ the one-collect cap) instead get the
    #: driver-side point probe (:func:`summary_verdict_literal`):
    #: per-h verdicts from one pushdown-pruned summary scan — a
    #: fully-fresh trickle drops the compacted posting scan from its
    #: pair plan entirely (r12 verdict #3).  Plus a summary rebuild
    #: per compaction (linear, r13).  ``"auto"`` maintains the summary
    #: and gates BOTH probes on the index being large enough to win:
    #: the distributed bulk probe via :func:`bulk_probe_wanted`
    #: (``AUTO_BULK_MIN_M_P``) and, since r15, the literal point probe
    #: via :func:`point_probe_wanted` (``AUTO_POINT_MIN_M_P`` — the
    #: probe's cost is corpus-size-independent but its savings are
    #: index-sized, so a small index pays ~2 s/trigger for nothing,
    #: r14 verdict #6); the DEFAULT since r14 ("auto" never pays a
    #: measured net-loss configuration; pass False to skip summary
    #: maintenance entirely, e.g. for short-lived stores that never
    #: compact).  Module header has the full argument.
    summary_prune: bool | str = "auto"
    _store: BatchStore = field(default=None, repr=False)
    _fmt_checked: bool = field(default=False, repr=False)

    def __post_init__(self) -> None:
        validate_summary_prune(self.summary_prune)

    @property
    def store(self) -> BatchStore:
        if self._store is None:
            self._store = BatchStore(
                self.spark,
                self.store_dir,
                compact_every=self.compact_every,
                partition_cols={"index": ["hb"]},
                sort_within={"index": ["h"]},
            )
        return self._store

    def _read_or_empty(self, name: str, schema: str) -> DataFrame:
        return self.store.read_or_empty(name, schema)

    def _process(self, batch: DataFrame, batch_id: int) -> None:
        if not self._fmt_checked:
            # refuse to attach to a store persisted with a different
            # fingerprint width (silent-zero-pairs otherwise, ADVICE
            # r11); stamps new stores on their first batch
            ensure_hash_format(self.store)
            self._fmt_checked = True
        dests = {
            name: self.store.batch_dest(name, batch_id) for name in SCHEMAS
        }
        if all(
            self.store.batch_committed(name, batch_id) for name in SCHEMAS
        ):
            return
        new = batch.select("doc_id", "text")
        # STATIC CONSTRUCTION under the micro-batch gate (r16, the
        # ingest-pipeline discipline): checkpoints over adaptive plans
        # materialize their exchanges at the checkpoint call, so each
        # trigger paid blocking stage-job barriers.  A batch below one
        # scan split per core compiles non-adaptively — bulk batches
        # keep AQE.  Store-sized compaction runs outside the scope.
        # On a real trigger the batch plans in the stream's cloned
        # session, which this scope does not reach; scoping that clone
        # too measured slower (fewer jobs but twice the tasks per
        # trickle trigger: AQE's partition coalescing pays there).
        small = below_parallelism(new)
        with static_construct(self.spark, small):
            self._run_batch(new, batch_id, dests)
        fired = self.store.maybe_compact(
            batch_id,
            SCHEMAS,
            folds={"index": _index_lww, "counts": _index_lww},
        )
        if fired and self.summary_prune:
            rebuild_index_summary(self.store, self.index_buckets)

    def _run_batch(
        self, new: DataFrame, batch_id: int, dests: dict
    ) -> None:
        # fingerprint the batch ONCE (checkpoint feeds the stats
        # probe, the posting join, the index append and the counts)
        # lazy checkpoint: the stats probe below is the first action
        # and materializes it (one job instead of an eager-checkpoint
        # job plus the probe)
        # set-form build (r15): per-doc distinct computed row-locally in
        # the generator projection — no batch-wide distinct() exchange
        # per trigger; rows (and the index format) identical
        batch_fp = winnow_fingerprint_sets(
            new, k=self.k, w=self.w
        ).localCheckpoint(eager=False)
        # Per-batch decisions cost ONE tiny CollectLimit (r13 verdict
        # #5 — the trickle job floor; supersedes the r11 three-branch
        # stats union): a batch whose fingerprints fit under the cap
        # derives its hb bucket set, its literal h set and its doc_id
        # set DRIVER-SIDE from the probe's ≤ cap+1 rows — no
        # aggregation plan, no exchanges (the probe's first job also
        # materializes the lazy batch_fp checkpoint; the literals then
        # replace the posting-join broadcasts with isin() predicates
        # the parquet scan pushes down to row-group statistics, r11
        # verdict #1).  Only a bulk batch — seconds of real work
        # anyway — pays a distributed stats pass, riding the
        # materialized checkpoint.
        cap = 1024
        head = batch_fp.limit(cap + 1).collect()
        if len(head) <= cap:
            # LITERAL mode: the probe returned the complete
            # fingerprint set (Python % IS pmod — the
            # _plane_positions_py precedent)
            hb_counts = {}
            for r in head:
                hb = r["h"] % self.index_buckets
                hb_counts[hb] = hb_counts.get(hb, 0) + 1
            h_lit = [r["h"] for r in head] if head else None
            ids_lit = sorted({r["doc_id"] for r in head}) or None
        else:
            # BULK: distributed hb counts plus the doc_id literal's
            # limit-capped completeness gate — a mid-size batch can
            # still be literal on doc_ids (few docs, many
            # fingerprints) even when the h literal is off the table
            nulls = F.lit(None).cast("array<bigint>").alias("vals")
            stat_rows = (
                _with_hb(batch_fp, self.index_buckets)
                .groupBy("hb")
                .agg(F.count("*").alias("n"))
                .select("hb", "n", nulls)
                .unionByName(
                    batch_fp.select("doc_id").distinct().limit(cap + 1)
                    .agg(
                        F.count("*").alias("n"),
                        F.collect_list("doc_id").alias("vals"),
                    )
                    .select(F.lit(-3).cast("int").alias("hb"), "n", "vals")
                )
                .collect()
            )
            hb_counts = {r["hb"]: r["n"] for r in stat_rows if r["hb"] >= 0}
            h_lit = None
            ids_lit = next(
                (list(r["vals"]) for r in stat_rows
                 if r["hb"] == -3 and 0 < r["n"] <= cap),
                None,
            )
        hit_bks = None
        comp_h = None
        if self.summary_prune and hb_counts:
            if h_lit is not None:
                # SMALL batch (literal mode): the point probe — probe
                # positions md5'd driver-side, bitmap words fetched in
                # one pushdown-pruned summary scan, per-h verdicts
                # (r12 verdict #3).  A fully-fresh trickle gets
                # comp_h == [] and the compacted posting scan drops
                # out of the pair plan entirely.  Under "auto" it
                # engages only once the index is large enough for the
                # pruned scan to beat the probe's ~2 s/trigger cost
                # (AUTO_POINT_MIN_M_P — r14 verdict #6; skipping never
                # changes outputs, only the pair plan's prune)
                if point_probe_wanted(self.store, self.summary_prune):
                    v = summary_verdict_literal(
                        self.store, h_lit, self.index_buckets
                    )
                    if v is not None:
                        comp_h, hit_bks = v
            elif bulk_probe_wanted(self.store, self.summary_prune):
                # BULK batch: the distributed probe join — which
                # compacted buckets can h-match this batch at all (the
                # only prune once a batch touches every hb bucket).
                # Under "auto" it engages only once the index is large
                # enough for the probe join to pay for itself
                # (AUTO_BULK_MIN_M_P — the measured crossover)
                hit_bks = summary_hit_buckets(
                    self.store, batch_fp, self.index_buckets,
                    probe_rows=sum(hb_counts.values()),
                )
        index = standing_index_view(
            self.store, batch_fp, self.index_buckets,
            bks=sorted(hb_counts), hit_bks=hit_bks,
            batch_h=h_lit, comp_h=comp_h,
        )
        # denominators ride with the index rows (denormalized n_fp,
        # r12) — no counts-table scan in the pair path
        pairs, batch_fp_n = winnow_incremental_indexed(
            new,
            index.select("doc_id", "h", "n_fp"),
            k=self.k,
            w=self.w,
            threshold=self.threshold,
            max_join_pairs=self.max_join_pairs,
            fingerprints=batch_fp,
            fingerprints_distinct=True,
            broadcast_batch=(
                sum(hb_counts.values()) <= self.broadcast_fp_rows
            ),
            batch_h_values=h_lit,
            batch_id_values=ids_lit,
        )
        pairs.write.mode("overwrite").parquet(dests["pairs"])
        # index + counts rows land AFTER the pair emission so the batch
        # never joins itself through the standing state (new×new is
        # handled inside winnow_incremental)
        write_index_batch(
            batch_fp_n, batch_id, dests["index"], self.index_buckets
        )
        write_counts_batch(batch_fp, batch_id, dests["counts"])
        # compaction (LWW fold) happens in _process, outside the
        # static-construction scope: its input is the accumulated
        # store, not the batch

    def start(self):
        docs = (
            self.spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .parquet(self.input_dir)
        )
        return (
            docs.writeStream.foreachBatch(self._process)
            .option("checkpointLocation", self.checkpoint_dir)
            .start()
        )

    def pairs(self) -> DataFrame:
        return self._read_or_empty("pairs", PAIRS_SCHEMA)
