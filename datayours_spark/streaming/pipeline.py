"""Composed streaming ingest DAG: quality gate → winnow dedup →
sequence packing, ONE foreachBatch over a shared ``BatchStore`` — the
production shape whose stages the streaming family's members
(`QualityStream`, `WinnowStream`, the packing manifest of
``q_pack_sequences``) prove only individually.  Reference parity: this
is the Spark composition of the ingest→filter→store relay the reference
runs as chained daemons (DataYours' UDP→translate→archive pipeline,
`L_DataDaemon.lua`), re-expressed for the LLM-corpus domain.

Every micro-batch of (doc_id, text, source):

1. **GATE** — `gopher_rules` scores the batch (zero-shuffle projection);
   the per-rule booleans land in ``gates`` (the permanent record of
   which rule rejected each doc) and only ``pass_all`` survivors flow
   on.  When classifier weights are configured, survivors are then
   scored by the MODEL FILTER (`text.quality_classifier`, hashed
   linear fastText/DCLM shape; per-doc scores land in ``scores`` and
   only keep=true docs flow on).  When a static eval set is
   configured, the remaining survivors are DECONTAMINATED against it
   (`winnow_decontaminate`, eval fingerprints broadcast); matches land
   in ``contamination`` and leave the flow.
2. **DEDUP** — `winnow_incremental_indexed` pairs the survivors against
   the standing fingerprint index (last-writer-wins per doc, the
   WinnowStream discipline); pairs land in ``pairs``, the batch's
   fingerprints append to ``index``.  A survivor is DROPPED when it is
   the GREATER id of any emitted pair — with monotone doc_ids this is
   exactly the batch-mode keep-lowest-id rule, so the stream's kept set
   equals a clean batch recompute (tested).
3. **PACK** — the kept docs get (shard, offset, chunk) packing manifest
   rows continuing each shard's running offset; per-shard end offsets
   land in ``cursors`` (shards-sized) so the next batch resumes WITHOUT
   rescanning the corpus-sized ``packed`` table.

Order contract: doc_ids are monotone with ingestion order (the batch
operators' keep-lowest-id convention and the stream's first-seen-wins
agree only then; an out-of-order re-feed changes which member of a
dup pair survives, never the pair set).

Invariant (tested): gates ≡ batch `gopher_rules`; kept/packed ≡ the
batch composition gate → `winnow_neardup` → drop-greater-ids → pack in
doc_id order per shard — including across restart/replay (exactly-once
via the BatchStore markers) and forced compaction.

Scale shape per batch: gate is a projection; dedup is the WinnowStream
posting equi-join (batch×index via fingerprint postings, never
all-pairs) run in its batch-proportional mode — the standing index is
SCANNED once (hb-pruned when the batch's fingerprint buckets allow)
but never shuffled: last-writer-wins resolves over the post-watermark
tail only, containment denominators come from the docs-sized
``counts`` table, and the batch's fingerprints broadcast into the
posting join (winnowstream module docstring has the full argument);
packing is one batch-sized window per shard plus a broadcast of the
shards-sized cursor row set.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from datayours_spark.functions.dedup import (
    winnow_decontaminate,
    winnow_fingerprint_sets,
    winnow_incremental_indexed,
    winnow_neardup,
)
from datayours_spark.functions.sampling import hash_bucket
from datayours_spark.functions.text import gopher_rules
from datayours_spark.io import below_parallelism, spread_scan, static_construct
from datayours_spark.streaming.store import BatchStore
from datayours_spark.streaming.winnowstream import (
    _index_lww,
    _with_hb,
    ensure_hash_format,
    rebuild_index_summary,
    standing_index_view,
    bulk_probe_wanted,
    point_probe_wanted,
    summary_hit_buckets,
    summary_verdict_literal,
    validate_summary_prune,
    write_counts_batch,
    write_index_batch,
)

DOC_SCHEMA = "doc_id bigint, text string, source string"
GATES_SCHEMA = (
    "doc_id bigint, n_words bigint, source string, ok_word_count boolean, "
    "ok_mean_word_len boolean, ok_symbol_ratio boolean, "
    "ok_bullet_lines boolean, ok_ellipsis_lines boolean, "
    "ok_alpha_words boolean, ok_stopwords boolean, pass_all boolean"
)
PAIRS_SCHEMA = "id1 bigint, id2 bigint, shared bigint, containment double"
INDEX_SCHEMA = "doc_id bigint, h bigint, n_fp bigint, batch bigint, hb int"
COUNTS_SCHEMA = "doc_id bigint, n_fp bigint, batch bigint"
CONTAM_SCHEMA = (
    "doc_id bigint, eval_id bigint, shared bigint, containment double"
)
PACKED_SCHEMA = (
    "doc_id bigint, shard int, n_tokens bigint, offset bigint, "
    "first_chunk bigint, n_chunks bigint"
)
CURSORS_SCHEMA = "shard int, end_offset bigint, batch bigint"
# one row per (chunk, batch) SEGMENT of materialized token ids: a
# capacity-sized training chunk whose docs span a batch boundary lands
# as one segment per batch; ``goff`` (the segment's first global
# offset) orders segments at merge time (``IngestPipeline.payload``)
PAYLOAD_SCHEMA = (
    "shard int, chunk bigint, goff bigint, n_ids bigint, ids string, "
    "batch bigint"
)
# per-doc model-based quality score (the fastText/DCLM-style hashed
# linear classifier), recorded for every GATE survivor whether kept or
# not — the audit record of the model filter stage
SCORES_SCHEMA = "doc_id bigint, n_feats bigint, score double, keep boolean"

# literal-pushdown cap (r12, the trickle floor): a batch whose
# fingerprint/survivor counts fit under this many rows ships its h
# values / doc_ids into the dedup plans as isin() LITERALS instead of
# broadcast-join sides — one less broadcast-exchange job each, and the
# parquet scan gets a pushable predicate (row-group min/max skipping
# inside the hb buckets the dir prune and bloom summary leave).  The
# values come from the one per-batch CollectLimit stats probe (r14 —
# cap+1 rows bound the batch), so a bulk batch never collects more
# than cap+1 rows and never builds an aggregate buffer at all.
_LIT_CAP = 1024

SCHEMAS = {
    "gates": GATES_SCHEMA,
    "pairs": PAIRS_SCHEMA,
    "index": INDEX_SCHEMA,
    "counts": COUNTS_SCHEMA,
    "contamination": CONTAM_SCHEMA,
    "packed": PACKED_SCHEMA,
    "cursors": CURSORS_SCHEMA,
    "payload": PAYLOAD_SCHEMA,
    "scores": SCORES_SCHEMA,
}


def _gate_expr(gate_cols: tuple[str, ...] | None) -> F.Column:
    """The survivor predicate over a `gopher_rules` projection:
    ``pass_all`` by default, else the conjunction of the named rule
    booleans — shared by the batch composition and the stream so the
    documented non-English/synthetic-corpus configuration (where the
    stopword rule rejects everything) behaves identically in both."""
    if gate_cols is None:
        return F.col("pass_all")
    return F.aggregate(
        F.array(*[F.col(c) for c in gate_cols]),
        F.lit(True),
        lambda a, b: a & b,
    )


def _pack_manifest(
    docs: DataFrame,
    shards: int,
    capacity: int,
    starts: DataFrame | None = None,
) -> DataFrame:
    """Packing manifest rows for ``docs`` (doc_id, text): per md5 shard,
    concatenate in doc_id order from each shard's ``starts`` offset
    (default 0) and map every doc to its chunk range.  One window per
    shard over the input — batch-sized in the stream, corpus-sized in
    the batch oracle, identical arithmetic in both."""
    staged = docs.select(
        "doc_id",
        hash_bucket(F.col("doc_id"), "pack", shards)
        .cast("int")
        .alias("shard"),
        F.when(
            F.col("text").isNotNull() & (F.length("text") > 0),
            F.size(F.split("text", " ")),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    if starts is None:
        base = F.lit(0).cast("bigint")
        staged_b = staged
    else:
        staged_b = staged.join(F.broadcast(starts), "shard", "left")
        base = F.coalesce(F.col("start_offset"), F.lit(0)).cast("bigint")
    packed = staged_b.select(
        "doc_id",
        "shard",
        "n_tokens",
        (base + cum - F.col("n_tokens")).alias("offset"),
    )
    return packed.select(
        "doc_id",
        "shard",
        "n_tokens",
        "offset",
        F.expr(f"offset div {capacity}").alias("first_chunk"),
        (
            F.expr(f"(offset + greatest(n_tokens, 1) - 1) div {capacity}")
            - F.expr(f"offset div {capacity}")
            + 1
        ).alias("n_chunks"),
    )


def _payload_segments(
    kept: DataFrame,
    manifest: DataFrame,
    vocab: DataFrame,
    capacity: int,
) -> DataFrame:
    """Materialized token-id segments for one batch's kept docs: the
    id stream (`tokenize_ids`, broadcast vocab — model state) joins the
    batch's packing manifest on doc_id, maps every id to its global
    offset, and aggregates per (shard, chunk) — group state bounded by
    the chunk capacity, in-chunk order restored by sorting the
    (goff, tid) structs inside each bounded group (the q_pack_ids
    shape, here batch-scoped so chunks spanning batches emit one
    SEGMENT per batch)."""
    from datayours_spark.functions.text import tokenize_ids

    # docs the manifest counted as n_tokens=0 (null/empty text) must
    # contribute NO ids: tokenize_ids' posexplode of split('', ' ')
    # would emit one phantom unk row whose goff collides with the next
    # doc's first token (ADVICE r10) — reachable when gate_cols omits
    # ok_word_count, the documented non-English configuration
    ids = tokenize_ids(
        kept.where(F.col("text").isNotNull() & (F.length("text") > 0)),
        vocab,
    )
    tok = ids.join(
        manifest.select("doc_id", "shard", "offset"), "doc_id"
    ).select(
        "shard",
        F.expr(f"(offset + pos) div {capacity}").alias("chunk"),
        (F.col("offset") + F.col("pos")).alias("goff"),
        "tid",
    )
    return tok.groupBy("shard", "chunk").agg(
        F.min("goff").alias("goff"),
        F.count("*").cast("long").alias("n_ids"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("goff", "tid"))),
                lambda s: s.getField("tid"),
            ),
            ",",
        ).alias("ids"),
    )


def merge_payload_segments(seg: DataFrame) -> DataFrame:
    """Fold per-batch payload segments into complete chunks:
    (shard, chunk, n_ids, ids) — segments concatenate in goff order
    (offsets are contiguous per shard across batches, so segment order
    IS id order).  Group state is capacity-bounded; this is the
    terminal export view over the ``payload`` table."""
    return seg.groupBy("shard", "chunk").agg(
        F.sum("n_ids").cast("long").alias("n_ids"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("goff", "ids"))),
                lambda s: s.getField("ids"),
            ),
            ",",
        ).alias("ids"),
    )


def _payload_fold(seg: DataFrame) -> DataFrame:
    """Compaction fold for the ``payload`` table: physically
    concatenate a chunk's accumulated segments into ONE segment row
    (goff = the chunk's first offset, batch = the latest contributing
    batch).  View-preserving: the ``payload()`` reader concatenates
    segments in goff order anyway, so folding them eagerly changes
    nothing downstream while keeping the stored table at one row per
    chunk instead of one per (chunk × contributing batch)."""
    return seg.groupBy("shard", "chunk").agg(
        F.min("goff").alias("goff"),
        F.sum("n_ids").cast("long").alias("n_ids"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("goff", "ids"))),
                lambda s: s.getField("ids"),
            ),
            ",",
        ).alias("ids"),
        F.max("batch").alias("batch"),
    ).select("shard", "chunk", "goff", "n_ids", "ids", "batch")


def ingest_pipeline_batch(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    k: int = 4,
    w: int = 4,
    threshold: float = 0.5,
    shards: int = 4,
    capacity: int = 512,
    gate_cols: tuple[str, ...] | None = None,
    max_join_pairs: int | None = 50_000_000,
    eval_docs: DataFrame | None = None,
    decon_threshold: float = 0.5,
    vocab: DataFrame | None = None,
    clf_weights: DataFrame | None = None,
    clf_buckets: int = 0,
    clf_bias: float = 0.0,
    clf_w_scale: float = 1.0,
    clf_threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """The batch-mode composition the stream must reproduce:
    gate → (optional) model-based quality filter → decontaminate
    (against ``eval_docs``, when given) → winnow near-dup pairs → drop
    every doc that is the greater id of a pair → pack the kept docs →
    (optionally) materialize the packed token-id payload.  Returns
    (gates, scores, contamination, pairs, packed, payload);
    ``contamination`` is empty when no eval set is supplied, ``scores``
    unless ``clf_weights`` (+ ``clf_buckets``) configures the hashed
    linear classifier (`text.quality_classifier` — trained weights are
    MODEL STATE like the vocab), ``payload`` unless a ``vocab``
    (tok, rk) relation is given — the tokenizer is MODEL STATE fixed
    before ingest (a streaming build cannot derive a corpus-global
    vocabulary mid-flight), so the payload stage takes it as input
    rather than inducing it.  This is the differential oracle for
    :class:`IngestPipeline` and a one-shot corpus-build entry point in
    its own right.

    ``gate_cols`` selects which Gopher rule booleans must hold (default
    ``pass_all`` = every rule).  A corpus that is legitimately
    non-English (or synthetic) fails the stopword rule WHOLESALE — the
    rule working as published, not a bug — so a pipeline over such data
    names the rules that apply instead of silently emptying itself."""
    # text rides THROUGH the gate projection so the survivor filter is
    # a plain WHERE over one scan — a semi-join back to docs would
    # broadcast a corpus-sized id set at 100 TB
    scored = gopher_rules(
        docs, min_words=min_words, max_words=max_words,
        carry_cols=("source", "text"),
    )
    gates = scored.select(
        "doc_id", "n_words", "source", "ok_word_count",
        "ok_mean_word_len", "ok_symbol_ratio", "ok_bullet_lines",
        "ok_ellipsis_lines", "ok_alpha_words", "ok_stopwords", "pass_all",
    )
    survivors = scored.where(_gate_expr(gate_cols)).select("doc_id", "text")
    # 1a. MODEL FILTER — scores recorded for every gate survivor; the
    # reject set leaves via the same shuffled-hash anti-join shape as
    # the dedup drop (the reject side can be corpus-scale on a
    # low-quality crawl, so neither broadcasting it nor sorting the
    # survivor scan is safe)
    if clf_weights is not None:
        from datayours_spark.functions.text import quality_classifier

        scores = quality_classifier(
            survivors, clf_weights, clf_buckets, bias=clf_bias,
            w_scale=clf_w_scale, threshold=clf_threshold,
        )
        survivors = survivors.join(
            scores.where("NOT keep").select("doc_id").hint("shuffle_hash"),
            "doc_id",
            "left_anti",
        )
    else:
        scores = docs.sparkSession.createDataFrame([], SCORES_SCHEMA)
    # ONE fingerprint pass feeds both the decontamination and the
    # near-dup stages (the naive fingerprint-per-stage formulation
    # measured ~3x the ingest wall at the 1.5M smoke).  The shared
    # relations are localCheckpointed: without the cut every consumer
    # branch of the single plan re-runs the gate + fingerprint
    # generator over the corpus (the r15-open q_ingest_pipeline plan
    # carried 4 full documents scans, q_pipeline_payload 9).  The
    # fingerprint table is the corpus-linear ~2/(w+1)-compressed index,
    # orders of magnitude narrower than the text it summarizes, so
    # materializing it once beats re-deriving it per branch at any
    # scale.
    # Set-form build (r15): the per-doc distinct and the n_fp
    # denominator are computed row-locally in the generator projection;
    # n_fp rides with the rows (the streaming v2 index discipline),
    # staying per-doc-consistent through the doc-level anti-joins below.
    #
    # STATIC CONSTRUCTION under the small-input gate (r16): a 'lazy'
    # localCheckpoint over an ADAPTIVE plan is not lazy — AQE
    # materializes every exchange stage at the checkpoint call itself,
    # so this chain of checkpoints (surv_fp → drops0 → guard → drops2 →
    # packed) paid SIX sequential blocking job barriers (29 jobs for
    # q_pipeline_payload, measured r16).  When the input scan delivers
    # fewer splits than defaultParallelism (micro-batch / fixture
    # scale — AQE has nothing to coalesce), the checkpoints are
    # compiled non-adaptively instead: the whole pre-guard chain then
    # executes inside the guard's single fail-fast job, and the
    # post-guard chain inside the caller's first action.  Above the
    # gate this is a no-op: plans stay adaptive, the guard keeps AQE
    # (guard_one_job=False — ADVICE r15), exactly the at-scale shape.
    small = below_parallelism(docs)
    with static_construct(docs.sparkSession, small):
        # round-robin spread for the per-row-heavy fingerprint
        # generator, gated on the survivors relation itself (ADVICE
        # r15: docs' split count can differ from survivors' once the
        # classifier anti-join reshuffles it)
        survivors = spread_scan(survivors)
        surv_fp = winnow_fingerprint_sets(
            survivors, k=k, w=w, with_count=True
        ).localCheckpoint(eager=False)
        if eval_docs is not None:
            contamination = winnow_decontaminate(
                survivors, eval_docs, k=k, w=w, threshold=decon_threshold,
                fingerprints=surv_fp, fingerprints_distinct=True,
            )
            # checkpointing the contaminated-id set collapses the decon
            # subtree that otherwise re-runs under BOTH the survivor
            # and the fingerprint anti-joins
            drops0 = (
                contamination.select("doc_id").distinct()
                .localCheckpoint(eager=False)
            )
            survivors = survivors.join(drops0, "doc_id", "left_anti")
            surv_fp = surv_fp.join(drops0, "doc_id", "left_anti")
        else:
            contamination = docs.sparkSession.createDataFrame(
                [], CONTAM_SCHEMA
            )
        # the guard's fail-fast collect is the first action: under the
        # small gate it materializes the whole statically-compiled
        # pre-guard chain as ONE job; above the gate it keeps AQE for
        # the corpus-scale groupBy('h') shuffle it contains
        pairs = winnow_neardup(
            survivors, k=k, w=w, threshold=threshold,
            max_join_pairs=max_join_pairs, fingerprints=surv_fp,
            fingerprints_distinct=True, guard_one_job=small,
        )
        # the drop set can be corpus-scale on a duplicate-heavy crawl,
        # so the anti-join hash-shuffles instead of broadcasting or
        # sorting the survivor scan (the edit_verified_pairs
        # precedent).  It is checkpointed (ids only, no text) so the
        # posting join behind it runs once even when ``kept`` feeds
        # both the manifest and the payload segments.
        drops2 = (
            pairs.select(F.col("id2").alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        kept = survivors.join(
            drops2.hint("shuffle_hash"),
            "doc_id",
            "left_anti",
        )
        packed = _pack_manifest(kept, shards, capacity)
        if vocab is not None:
            # the manifest is the narrow (doc_id, shard, n_tokens,
            # offset, chunk-range) decision table — guide-§8
            # discipline: checkpoint the small plan once, re-scan the
            # heavy text exactly once for the token stream instead of
            # re-deriving kept + its window per payload branch.  Lazy
            # (r16): the caller's payload action materializes it —
            # under the small gate as stages of that one job
            packed = packed.localCheckpoint(eager=False)
            payload = merge_payload_segments(
                _payload_segments(kept, packed, vocab, capacity)
                .withColumn("batch", F.lit(0))
            )
        else:
            payload = docs.sparkSession.createDataFrame(
                [], "shard int, chunk bigint, n_ids bigint, ids string"
            )
    return gates, scores, contamination, pairs, packed, payload


@dataclass
class IngestPipeline:
    """Continuous gate → dedup → pack corpus build over a document
    stream (module docstring has the full contract)."""

    spark: SparkSession
    input_dir: str       # streaming source: parquet drops of DOC_SCHEMA
    store_dir: str       # holds gates/, pairs/, index/, packed/, cursors/
    checkpoint_dir: str
    min_words: int = 50
    max_words: int = 100_000
    k: int = 4
    w: int = 4
    threshold: float = 0.5
    shards: int = 4
    capacity: int = 512
    #: posting-pair guard forwarded to the winnow stage; raise it
    #: DELIBERATELY for corpora whose real dup-family volume exceeds
    #: the default (the guard's own documented escape hatch)
    max_join_pairs: int | None = 50_000_000
    #: optional STATIC eval set (doc_id, text) — when given, every
    #: batch's gate survivors are decontaminated against it before the
    #: dedup stage; matches land in the ``contamination`` table.  Eval
    #: doc_ids must be disjoint from training doc_ids.
    eval_docs: DataFrame | None = None
    decon_threshold: float = 0.5
    #: optional trained classifier weights (bucket, w) — model state,
    #: broadcast; when given (with clf_buckets), every batch's gate
    #: survivors are scored by the hashed linear quality classifier
    #: (text.quality_classifier) and only keep=true docs flow on;
    #: per-doc scores land in the ``scores`` table (audit record)
    clf_weights: DataFrame | None = None
    clf_buckets: int = 0
    clf_bias: float = 0.0
    clf_w_scale: float = 1.0
    clf_threshold: float = 0.5
    #: optional FIXED tokenizer vocabulary (tok, rk) — model state,
    #: broadcast; when given, every batch's kept docs are id-ized and
    #: their capacity-sized chunk payload segments land in ``payload``
    #: (chunks spanning batches emit one segment per batch; the
    #: ``payload()`` reader merges them in goff order)
    vocab: DataFrame | None = None
    #: which Gopher rule booleans must hold for a doc to survive the
    #: gate (None = ``pass_all``) — mirrors ``ingest_pipeline_batch``'s
    #: ``gate_cols`` so the stream ≡ batch contract covers the
    #: documented non-English/synthetic configuration where the
    #: stopword rule would otherwise reject every doc
    gate_cols: tuple[str, ...] | None = None
    #: hash-range partition count for the stored fingerprint index
    #: (dir layout + posting-join prune; winnowstream docstring)
    index_buckets: int = 32
    #: broadcast the batch's fingerprints into the posting join when
    #: at most this many rows (winnow_incremental_indexed contract)
    broadcast_fp_rows: int = 4_000_000
    #: maintain the compacted index's bloom summary and skip compacted
    #: state that provably contains no batch h-match: bulk batches via
    #: the distributed probe join, SMALL (literal-mode) batches via the
    #: driver-side point probe (`summary_verdict_literal` — a
    #: fully-fresh trickle drops the compacted posting scan from its
    #: pair plan entirely, r12 verdict #3).  Wins on mostly-fresh
    #: traffic; degrades to the unpruned scan when batches re-hit
    #: existing content.  ``"auto"`` maintains the summary and gates
    #: BOTH probes on the index being large enough to win
    #: (`winnowstream.bulk_probe_wanted` / `point_probe_wanted`, the
    #: measured crossovers — the point probe's cost is corpus-size-
    #: independent but its savings are index-sized, r14 verdict #6) —
    #: the DEFAULT since r14 ("auto" never pays a measured net-loss
    #: configuration; pass False to skip summary maintenance
    #: entirely).  Winnowstream module header has the full argument.
    summary_prune: bool | str = "auto"
    #: fold the per-batch store dirs every N batches (store.BatchStore)
    compact_every: int | None = 64
    _store: BatchStore = field(default=None, repr=False)
    _eval_fp: DataFrame = field(default=None, repr=False)
    _fmt_checked: bool = field(default=False, repr=False)
    #: in-process per-shard pack cursor (shard -> next start offset)
    #: and the batch id whose cursors write produced it; seeded from
    #: the cursors table, then maintained from the rows this process
    #: writes — see the PACK stage comment in :meth:`_process`
    _cursor_starts: dict | None = field(default=None, repr=False)
    _cursor_asof: int | None = field(default=None, repr=False)

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

    def _schemas(self) -> dict[str, str]:
        """The store tables this pipeline instance maintains — the
        payload/scores tables only exist when their model state is
        configured (their absence must not fail the exactly-once
        committed check)."""
        skip = set()
        if self.vocab is None:
            skip.add("payload")
        if self.clf_weights is None:
            skip.add("scores")
        return {k: v for k, v in SCHEMAS.items() if k not in skip}

    def _read_or_empty(self, name: str) -> DataFrame:
        return self.store.read_or_empty(name, SCHEMAS[name])

    def _write_batch(
        self,
        df: DataFrame,
        name: str,
        batch_id: int,
        extra_metrics: list | None = None,
    ) -> dict:
        """Write one table's batch dir in ONE Spark action: the write
        job itself carries an ``Observation`` counting the rows it
        lands (key ``"n"``), plus any caller-supplied aggregate
        metrics — so neither the empty-relation probe (previously its
        own ``isEmpty`` job) nor a post-write summary collect
        (previously the packed table's per-shard ends job) costs a
        separate action (r11 verdict #1, the trickle floor).  An
        all-empty write commits a data-file-less dir, which schema-ed
        readers see as zero rows — the same reader contract as
        ``write_empty_marker``.  Returns the observed metrics dict."""
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("n")]
        if extra_metrics:
            metrics += extra_metrics
        df.observe(obs, *metrics).write.mode("overwrite").parquet(
            self.store.batch_dest(name, batch_id)
        )
        return obs.get

    @property
    def eval_fp(self) -> DataFrame | None:
        """The static eval set's (eval_id, h) fingerprints, computed
        ONCE per pipeline (checkpointed) — the eval side never changes
        between batches, so per-batch re-fingerprinting is pure waste."""
        if self.eval_docs is None:
            return None
        if self._eval_fp is None:
            # set form (r15): distinct by construction, no exchange
            self._eval_fp = (
                winnow_fingerprint_sets(
                    self.eval_docs, k=self.k, w=self.w
                )
                .select(F.col("doc_id").alias("eval_id"), "h")
                .localCheckpoint(eager=True)
            )
        return self._eval_fp

    def _process(self, batch: DataFrame, batch_id: int) -> None:
        if not self._fmt_checked:
            # refuse to attach to a store persisted with a different
            # fingerprint width (silent-zero-pairs otherwise, ADVICE
            # r11); stamps new stores on their first batch
            ensure_hash_format(self.store)
            self._fmt_checked = True
        schemas = self._schemas()
        dests = {
            name: self.store.batch_dest(name, batch_id) for name in schemas
        }
        if all(
            self.store.batch_committed(name, batch_id) for name in schemas
        ):
            return
        docs = batch.select("doc_id", "text", "source")
        # STATIC CONSTRUCTION under the micro-batch gate (r16, the same
        # discipline as ingest_pipeline_batch): a 'lazy' localCheckpoint
        # over an adaptive plan materializes its exchange stages at the
        # checkpoint call, so every per-trigger stage paid a blocking
        # scheduling barrier.  A micro-batch below one scan split per
        # core compiles its plans non-adaptively instead — checkpoints
        # defer into the sink writes they feed.  Bulk batches (gate
        # off) keep adaptive plans.  The store-sized compaction folds
        # run OUTSIDE the scope: their input is the accumulated store,
        # not the batch, so they must keep AQE regardless of batch size.
        # On a real trigger the batch plans in the stream's cloned
        # session, which this scope does not reach; scoping that clone
        # too measured slower (fewer jobs but twice the tasks per
        # trickle trigger: AQE's partition coalescing pays there).
        small = below_parallelism(docs)
        with static_construct(self.spark, small):
            self._run_batch(docs, batch_id, schemas, dests)
        fired = self.store.maybe_compact(
            batch_id,
            schemas,
            folds={
                "index": _index_lww,
                "counts": _index_lww,
                "payload": _payload_fold,
            },
        )
        if fired and self.summary_prune:
            rebuild_index_summary(self.store, self.index_buckets)

    def _run_batch(
        self, docs: DataFrame, batch_id: int, schemas: dict, dests: dict
    ) -> None:
        # 1. GATE — score once (checkpoint), feed the gates sink and the
        # survivor filter without re-projecting; text rides through the
        # projection so no join back to docs is needed
        # checkpoints are LAZY (eager=False) throughout: each stage's
        # first consumer — usually its own table write — materializes
        # the cache as part of a job it was running anyway, instead of
        # a separate eager-checkpoint job per stage.  At the 1.5M smoke
        # this halves the fixed ~15-action per-trigger floor (r10
        # verdict #1) with byte-identical outputs.
        scored = gopher_rules(
            docs, min_words=self.min_words, max_words=self.max_words,
            carry_cols=("source", "text"),
        ).localCheckpoint(eager=False)
        # the gates write's observation counts the gate SURVIVORS in
        # the same job (r13 verdict #5): together with the scores
        # write's keep count and the contamination write's row count
        # below, the all-empty early exit needs no stats job at all —
        # and a batch the gate wholly rejects exits after just its
        # sink writes
        obs_gate = Observation()
        scored.select(
            "doc_id", "n_words", "source", "ok_word_count",
            "ok_mean_word_len", "ok_symbol_ratio", "ok_bullet_lines",
            "ok_ellipsis_lines", "ok_alpha_words", "ok_stopwords",
            "pass_all",
        ).observe(
            obs_gate,
            F.count(F.when(_gate_expr(self.gate_cols), True))
            .alias("n_surv"),
        ).write.mode("overwrite").parquet(dests["gates"])
        survivors = scored.where(_gate_expr(self.gate_cols)).select(
            "doc_id", "text"
        )
        # 1a. MODEL FILTER — per-row scoring, so stream ≡ batch holds
        # with no order dependence; the reject set leaves via the same
        # anti-join shape as the batch form
        obs_clf = None
        if self.clf_weights is not None:
            from datayours_spark.functions.text import quality_classifier

            scores = quality_classifier(
                survivors, self.clf_weights, self.clf_buckets,
                bias=self.clf_bias, w_scale=self.clf_w_scale,
                threshold=self.clf_threshold,
            ).localCheckpoint(eager=False)  # scores sink + reject set
            # every input doc gets a scores row (quality_classifier
            # contract), so count(keep) IS the post-classifier
            # survivor count — observed on the write job it rides
            obs_clf = Observation()
            scores.observe(
                obs_clf,
                F.count(F.when(F.col("keep"), True)).alias("n_keep"),
            ).write.mode("overwrite").parquet(dests["scores"])
            survivors = survivors.join(
                scores.where("NOT keep").select("doc_id"),
                "doc_id",
                "left_anti",
            )
        # ONE fingerprint pass (checkpointed) feeds the decontamination
        # stage, the dedup stage AND the index append.  Set-form build
        # (r15): per-doc distinct computed row-locally in the generator
        # projection — no corpus-wide distinct() exchange per trigger;
        # rows (and the index format) identical.
        surv_fp = winnow_fingerprint_sets(
            survivors, k=self.k, w=self.w
        ).localCheckpoint(eager=False)

        # 1b. DECONTAMINATE — survivors vs the static eval set (its
        # fingerprints broadcast into the batch's posting join)
        if self.eval_docs is not None:
            contamination = winnow_decontaminate(
                survivors, self.eval_docs,
                k=self.k, w=self.w, threshold=self.decon_threshold,
                fingerprints=surv_fp,
                fingerprints_distinct=True,
                eval_fingerprints=self.eval_fp,
            ).localCheckpoint(eager=False)  # sink + drop set
            drops0 = contamination.select("doc_id").distinct()
            survivors = survivors.join(drops0, "doc_id", "left_anti")
            surv_fp = surv_fp.join(
                drops0, "doc_id", "left_anti"
            ).localCheckpoint(eager=False)
        else:
            contamination = self.spark.createDataFrame([], CONTAM_SCHEMA)
        contam_n = int(
            self._write_batch(contamination, "contamination", batch_id)["n"]
        )

        # 2. DEDUP — survivors vs the standing LWW index view
        # (batch-proportional: tail-only LWW, hb-pruned pair path,
        # denormalized n_fp denominators — winnowstream docstring).
        # Per-batch decisions cost at most ONE tiny CollectLimit (r13
        # verdict #5 — the trickle job floor; supersedes the r11
        # four-branch stats union): the gate/classifier/contamination
        # writes above observed the exact survivor counts on jobs they
        # were running anyway, so the all-empty early exit usually
        # needs no stats job at all — a batch the gate wholly rejects
        # exits right after its sink writes.  A batch whose
        # fingerprints fit under _LIT_CAP derives its hb bucket set,
        # its literal h set and its fingerprint-bearing doc_id set
        # DRIVER-SIDE from the probe's ≤ cap+1 rows — no aggregation
        # plan, no exchanges (the probe's first job also materializes
        # the lazy surv_fp checkpoint; the literals then replace the
        # posting-join broadcasts with isin() predicates the parquet
        # scan pushes down to row-group statistics, r11 verdict #1).
        # Only a bulk batch — seconds of real work anyway — pays a
        # distributed stats pass, riding the materialized checkpoint.
        n_after_clf = int(
            obs_clf.get["n_keep"] if obs_clf is not None
            else obs_gate.get["n_surv"]
        )
        head = None
        if contam_n == 0:
            # decontamination dropped nothing: the observed
            # post-classifier count IS the survivor count
            n_surv_signal = n_after_clf
        else:
            head = surv_fp.limit(_LIT_CAP + 1).collect()
            # any fingerprint-bearing survivor proves survivors exist;
            # an empty probe under decon drops needs the exact count
            # (zero-fingerprint survivors are invisible to surv_fp,
            # and this rare shape — every fp-bearing doc contaminated
            # — is trickle-sized by construction).  NOTE len(head) is
            # limit-capped at _LIT_CAP + 1 — n_surv_signal is valid
            # ONLY as a zero/nonzero signal, never as an exact
            # survivor count (ADVICE r14; the pre-r14 stats pass WAS
            # exact here)
            n_surv_signal = len(head) or survivors.count()
        if n_surv_signal == 0:
            # nothing survived the gate/classifier/decontamination
            # stages: every downstream table of this batch is provably
            # empty — commit them all as bare markers (zero Spark
            # jobs) and skip the dedup/pack/payload machinery.  The
            # cursor state is untouched (nothing packed), so the next
            # batch's starts are exactly the pre-batch ones.
            for name in ("pairs", "index", "counts", "packed"):
                self.store.write_empty_marker(name, batch_id)
            if self.vocab is not None:
                self.store.write_empty_marker("payload", batch_id)
            self.store.write_empty_marker("cursors", batch_id)
            return  # compaction runs in _process, outside the scope
        if head is None:
            head = surv_fp.limit(_LIT_CAP + 1).collect()
        if len(head) <= _LIT_CAP:
            # LITERAL mode: the probe returned the complete
            # fingerprint set — every stat derives driver-side.
            # _plane_positions_py precedent: Python % IS pmod here
            # (both operands' signs handled identically)
            hb_counts = {}
            for r in head:
                hb = r["h"] % self.index_buckets
                hb_counts[hb] = hb_counts.get(hb, 0) + 1
            n_fp = len(head)
            h_lit = [r["h"] for r in head] if head else None
            # fingerprint-BEARING doc_ids only (surv_fp, not
            # survivors): the join path this literal replaces
            # anti-joins the standing index on new_fp doc_ids, so a
            # zero-fingerprint survivor (min_words < k) must NOT
            # enter the literal — its old index rows stay visible to
            # the batch's pair view in both modes (ADVICE r12); the
            # probe reads surv_fp, so they never appear here
            ids_lit = sorted({r["doc_id"] for r in head}) or None
        else:
            # BULK: distributed hb bucket counts (scan prune +
            # broadcast-vs-shuffle decision), plus the doc_id literal's
            # limit-capped completeness gate — a mid-size batch can
            # still be literal on doc_ids (few docs, many
            # fingerprints) even when the h literal is off the table
            nulls = F.lit(None).cast("array<bigint>").alias("vals")
            stat_rows = (
                _with_hb(surv_fp, self.index_buckets)
                .groupBy("hb")
                .agg(F.count("*").alias("n"))
                .select("hb", "n", nulls)
                .unionByName(
                    surv_fp.select("doc_id").distinct()
                    .limit(_LIT_CAP + 1)
                    .agg(
                        F.count("*").alias("n"),
                        F.collect_list("doc_id").alias("vals"),
                    )
                    .select(F.lit(-3).cast("int").alias("hb"), "n", "vals")
                )
                .collect()
            )
            hb_counts = {r["hb"]: r["n"] for r in stat_rows if r["hb"] >= 0}
            n_fp = sum(hb_counts.values())
            h_lit = None
            ids_lit = next(
                (list(r["vals"]) for r in stat_rows
                 if r["hb"] == -3 and 0 < r["n"] <= _LIT_CAP),
                None,
            )
        hit_bks = None
        comp_h = None
        if self.summary_prune and hb_counts:
            if h_lit is not None:
                # SMALL batch (literal mode): the bloom point probe —
                # positions md5'd driver-side, bitmap words fetched in
                # one pushdown-pruned summary scan, per-h verdicts
                # (r12 verdict #3).  A fully-fresh trickle gets
                # comp_h == [] and the compacted posting scan drops
                # out of the pair plan entirely.  Under "auto" it
                # engages only once the index is large enough for the
                # pruned scan to beat the probe's ~2 s/trigger cost
                # (winnowstream.AUTO_POINT_MIN_M_P — r14 verdict #6;
                # skipping never changes outputs, only the plan prune)
                if point_probe_wanted(self.store, self.summary_prune):
                    v = summary_verdict_literal(
                        self.store, h_lit, self.index_buckets
                    )
                    if v is not None:
                        comp_h, hit_bks = v
            elif bulk_probe_wanted(self.store, self.summary_prune):
                # BULK batch: the distributed probe join — which
                # compacted buckets can h-match this batch at all.
                # Under "auto" it engages only once the index is
                # large enough for the probe join to pay for itself
                # (winnowstream.AUTO_BULK_MIN_M_P, measured crossover)
                hit_bks = summary_hit_buckets(
                    self.store, surv_fp, self.index_buckets,
                    probe_rows=n_fp,
                )
        index = standing_index_view(
            self.store, surv_fp, self.index_buckets,
            bks=sorted(hb_counts), hit_bks=hit_bks,
            batch_h=h_lit, comp_h=comp_h,
        )
        # denominators ride with the index rows (denormalized n_fp,
        # r12) — no counts-table scan in the pair path
        pairs, batch_fp = winnow_incremental_indexed(
            survivors,
            index.select("doc_id", "h", "n_fp"),
            k=self.k, w=self.w, threshold=self.threshold,
            max_join_pairs=self.max_join_pairs,
            fingerprints=surv_fp,
            fingerprints_distinct=True,
            broadcast_batch=(n_fp <= self.broadcast_fp_rows),
            batch_h_values=h_lit,
            batch_id_values=ids_lit,
        )
        pairs = pairs.localCheckpoint(eager=False)  # pairs sink + drop set
        pairs_n = int(self._write_batch(pairs, "pairs", batch_id)["n"])
        write_index_batch(
            batch_fp, batch_id, dests["index"], self.index_buckets
        )
        write_counts_batch(batch_fp, batch_id, dests["counts"])
        kept = survivors
        if pairs_n:
            # the pairs write's observation told us whether any doc
            # actually dropped — a pair-free batch (fresh content, the
            # common case) skips planning the anti-join entirely
            kept = survivors.join(
                pairs.select(F.col("id2").alias("doc_id")).distinct(),
                "doc_id",
                "left_anti",
            )

        # 3. PACK — continue each shard's running offset from the
        # in-process cursor map, seeded from the cursors table
        # (batches × shards rows, never the packed corpus) and
        # thereafter maintained from the rows this process itself
        # writes — the per-batch cursor-read job is gone (r11 verdict
        # #1).  The map is valid only for batches STRICTLY AFTER the
        # one whose write produced it (``_cursor_asof``): a replay of
        # that same batch must not see its own cursors (that would
        # double-advance every shard's start offset and shift the whole
        # batch's pack/payload rows, ADVICE r10 high), so it re-seeds
        # from disk with the batch's own row excluded — the exact
        # pre-batch cursor state.  In-process the map is updated only
        # AFTER a successful cursors write, so a mid-batch failure
        # leaves it at the pre-batch state too.
        # The per-shard offsets are SHARDS-BOUNDED, so they fold on the
        # DRIVER: the start offsets enter the manifest join as a local
        # relation (broadcast without a sub-job).
        if self._cursor_asof is None or self._cursor_asof >= batch_id:
            self._cursor_starts = {
                int(r["shard"]): int(r["start_offset"])
                for r in self._read_or_empty("cursors")
                .where(F.col("batch") != F.lit(batch_id))
                .groupBy("shard")
                .agg(F.max("end_offset").alias("start_offset"))
                .collect()
            }
            self._cursor_asof = None
        starts_map = dict(self._cursor_starts)
        starts = (
            self.spark.createDataFrame(
                sorted(starts_map.items()), "shard int, start_offset bigint"
            )
            if starts_map
            else None
        )
        packed = _pack_manifest(
            kept, self.shards, self.capacity, starts=starts
        ).localCheckpoint(eager=False)  # packed sink + payload source
        # the packed write's observation carries the per-shard end
        # offsets (shards-bounded conditional maxes), so the cursor
        # fold costs no separate collect job
        packed_obs = self._write_batch(
            packed, "packed", batch_id,
            extra_metrics=[
                F.max(
                    F.when(
                        F.col("shard") == s,
                        F.col("offset") + F.col("n_tokens"),
                    )
                ).alias(f"end_{s}")
                for s in range(self.shards)
            ],
        )
        packed_empty = int(packed_obs["n"]) == 0
        ends_map = {
            s: int(packed_obs[f"end_{s}"])
            for s in range(self.shards)
            if packed_obs[f"end_{s}"] is not None
        }
        cursor_rows = [
            (s, max(ends_map.get(s, 0), starts_map.get(s, 0)), batch_id)
            for s in sorted(set(ends_map) | set(starts_map))
        ]
        # 4. PAYLOAD (optional) — materialize the kept docs' token-id
        # chunk segments against the fixed vocabulary; the batch's
        # manifest carries the global offsets, so chunk ids continue
        # across batches and a spanning chunk simply gets one segment
        # per batch (merged by the payload() reader).  Written BEFORE
        # cursors so cursors stays the LAST per-batch write: every
        # earlier table is replay-idempotent, so keeping the only
        # accumulator-semantics table final closes the crash window the
        # read-side filter above also defends against (ADVICE r10 high).
        if self.vocab is not None:
            if packed_empty:
                # no kept docs ⇒ no token ids; commit the empty dir by
                # marker without computing the payload plan at all
                self.store.write_empty_marker("payload", batch_id)
            else:
                (
                    _payload_segments(
                        kept, packed, self.vocab, self.capacity
                    )
                    .withColumn("batch", F.lit(batch_id))
                    .write.mode("overwrite")
                    .parquet(dests["payload"])
                )
        if cursor_rows:
            self.spark.createDataFrame(
                cursor_rows, CURSORS_SCHEMA
            ).coalesce(1).write.mode("overwrite").parquet(dests["cursors"])
        else:
            self.store.write_empty_marker("cursors", batch_id)
        # the cursors write committed — fold it into the in-process map
        # (cursor_rows already took max(end, start) per shard, so the
        # new map is exactly its (shard, end) projection) and stamp the
        # batch it reflects (a replay of THIS batch re-seeds from disk)
        self._cursor_starts = {s: e for s, e, _ in cursor_rows} or starts_map
        self._cursor_asof = batch_id

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

    def gates(self) -> DataFrame:
        return self._read_or_empty("gates")

    def pairs(self) -> DataFrame:
        return self._read_or_empty("pairs")

    def contamination(self) -> DataFrame:
        return self._read_or_empty("contamination")

    def packed(self) -> DataFrame:
        return self._read_or_empty("packed")

    def scores(self) -> DataFrame:
        return self._read_or_empty("scores")

    def payload(self) -> DataFrame:
        """Complete materialized chunks (shard, chunk, n_ids, ids) —
        per-batch segments merged in goff order (capacity-bounded
        group state; the terminal training-data export view)."""
        return merge_payload_segments(self._read_or_empty("payload"))
