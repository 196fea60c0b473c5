"""Structured Streaming ingest: the Carbon cache daemon, Spark-first.

Reproduces the real-time path (SURVEY.md §2.9, §3.1): continuous plaintext
ingest (S1/S2) → user-hook flatMap (P1) → rewrite rules (P3) → admission
control (T3/T6: reject future and beyond-retention points) → event-time
watermark (T2) → per-batch slot last-write-wins (T4) → datapoints table +
incremental rollups (T5).

Upgrades vs the reference (documented superset): exactly-once via
checkpointing instead of UDP at-most-once; the datapoints table is
date-partitioned parquet, append-only, with LWW applied on read (and by the
rollup maintenance job) — the Delta-MERGE shape without requiring Delta.

Scale notes: the stream is stateless apart from the watermark — per-batch
dedup + append keeps executor state bounded; rollup refresh touches only the
windows present in the batch (dynamic partition overwrite).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datayours_spark.kernel.rules import RewriteRule
from datayours_spark.sources.plaintext import parse_plaintext_lines


def rewrite_column(rules: list[RewriteRule]) -> F.Column:
    """Compile first-match-wins rewrite rules (P3) into a when/otherwise
    cascade — the rule table is tiny and driver-side, the evaluation is
    JVM-side per record."""
    col = None
    for rule in rules:
        branch = F.regexp_replace("path", rule.pattern, rule.replacement)
        cond = F.col("path").rlike(rule.pattern)
        col = F.when(cond, branch) if col is None else col.when(cond, branch)
    return F.col("path") if col is None else col.otherwise(F.col("path"))


@dataclass
class IngestPipeline:
    """File-drop plaintext → datapoints parquet with incremental rollups."""

    spark: SparkSession
    input_dir: str
    output_dir: str
    checkpoint_dir: str
    max_retention: int = 7 * 86_400
    watermark_delay: str = "1 hour"
    rewrites: list[RewriteRule] = field(default_factory=list)
    rollup_steps: tuple[int, ...] = (60, 600)
    #: whisper propagation settings for levels beyond the finest
    #: (`L_DataWhisper.lua:469-491`): the finest level is the LWW slot table,
    #: coarser levels aggregate the previous level with method + xFF gate
    rollup_method: str = "average"
    rollup_xff: float = 0.5
    #: storage-aggregation rule engine: when set, every cascade hop
    #: dispatches method/xff PER SERIES, rule-assigned from the conf exactly
    #: like the reference's propagate (`L_DataWhisper.lua:493-523`,
    #: `L_DataCache.lua:146-160`); rollup_method/xff become the defaults
    rule_engine: object | None = None
    now_override: int | None = None  # fixed "now" for deterministic tests
    user_hook: object | None = None  # P1: user.run flatMap, §3.1 step 2
    #: P6 watch-list predicate (`L_DataWatcher.lua:148-157`): when set, only
    #: these series pass the relay.  Accepts a plain list OR a
    #: `streaming.watchlist.WatchList` (the mutable watch/nowatch control
    #: plane, §2.11): a WatchList is re-read at every (re)start — the moment
    #: the reference re-registers its variable watches from the conf file
    watched: object | None = None
    #: P2 symbolic translation (`L_DataWatcher.lua:152-155`): the
    #: DataTranslation.conf lookup ({wildtag: {symbol: value}}, from
    #: `kernel.rules.parse_translation_conf`) applied to raw value tokens
    #: at parse time — BEFORE numeric coercion, user hook and rewrites,
    #: matching the reference's capture-point application; in-section
    #: misses become 'unknown' and are dropped by the coercion filter
    translations: dict | None = None
    #: T8 flow limits — the carbon.conf knobs as ENFORCEABLE admission
    #: control (`carbon.conf.example:38-57,196-197`) with WALL-CLOCK
    #: budgets (``clock``, injectable for deterministic tests), each with
    #: a tally row in `{output_dir}/flow_tally`:
    #: - max_queue (MAX_QUEUE_SIZE): receive-queue bound per trigger —
    #:   new arrivals past the cap are DROPPED in arrival order (carbon's
    #:   queue-full drop).
    #: - max_creates_per_minute (MAX_CREATES_PER_MINUTE): new-series
    #:   budget over a sliding 60-second ledger, judged against the
    #:   ingest-maintained stats catalog; rows of over-budget new series
    #:   DEFER to the pending table until the ledger frees (carbon caches
    #:   points for files its create queue hasn't reached).  0 means
    #:   "create nothing" — carbon's own semantics, NOT unlimited.
    #: - max_updates_per_second (MAX_UPDATES_PER_SECOND): disk-write
    #:   throttle as a token bucket (capacity = one second's worth):
    #:   rows past the accrued budget DEFER, never drop.
    #: - max_cache (MAX_CACHE_SIZE, in rows): bound on the pending table —
    #:   the cache the deferrals fill; overflow DROPS newest-first with a
    #:   tally, carbon's cache-full behavior.
    #: Deferred rows live in `{output_dir}/flow_pending` as ALREADY
    #: TRANSFORMED (path, ts_sec, value, date, pseq) rows and re-enter
    #: admission ahead of new arrivals on the next trigger — they do NOT
    #: re-run the rewrite/hook cascade (re-application is not idempotent:
    #: a prefix rewrite would compound; review finding, round 4).
    max_updates_per_second: int | None = None
    max_creates_per_minute: int | None = None
    max_queue: int | None = None
    max_cache: int | None = None
    #: wall-clock source for the budgets; called once per batch
    clock: object = None
    #: token-bucket / create-ledger state (driver-side, per pipeline)
    _tokens: float | None = None
    _last_refill: float = 0.0
    _create_times: list = field(default_factory=list)
    #: per-batch persisted admission frames, released at batch end
    _flow_persisted: list = field(default_factory=list)
    #: driver-cached known-series set for the creates gate: read from the
    #: stats table ONCE, then maintained in memory per batch — without
    #: this every batch re-reads every stats increment (O(batches) per
    #: batch over the stream's life; review finding, round 4)
    _known_cache: "set | None" = None

    def _watched_paths(self) -> list[str] | None:
        if self.watched is None:
            return None
        paths = getattr(self.watched, "paths", None)
        return paths() if callable(paths) else list(self.watched)

    #: provenance columns threaded from the file source for deterministic
    #: in-batch arrival ordering (see `_write_batch`)
    _CARRY = ("src_mtime", "src_file")

    def transform(self, lines: DataFrame) -> DataFrame:
        """The record pipeline, shared by batch backfill and the stream."""
        carry = [c for c in self._CARRY if c in lines.columns]
        parsed = parse_plaintext_lines(
            lines, now=self.now_override, carry=carry,
            translations=self.translations,
        )
        watched_paths = self._watched_paths()
        if watched_paths is not None:
            parsed = parsed.where(F.col("path").isin(watched_paths))
        if self.user_hook is not None:
            # user.run runs BEFORE the rewrite rules, like the relay hop
            # (`L_DataWatcher.lua:206-213, 80-85`); the hook's flatMap schema
            # is (path, ts_sec, value) only, so provenance does not survive it
            from datayours_spark.functions.userhook import apply_user_hook

            parsed = apply_user_hook(parsed, self.user_hook)
            carry = []
        renamed = parsed.select(
            rewrite_column(self.rewrites).alias("path"), "ts_sec", "value",
            *carry,
        )
        now_col = (
            F.lit(self.now_override)
            if self.now_override is not None
            else F.unix_timestamp(F.current_timestamp())
        )
        diff = now_col - F.col("ts_sec")
        admitted = renamed.where((diff >= 0) & (diff < self.max_retention))
        return admitted.withColumn(
            "ts", F.timestamp_seconds(F.col("ts_sec"))
        ).withColumn("date", F.to_date("ts"))

    def _known_paths(self) -> set[str]:
        """Catalog of already-created series: the stats table read once
        (the whisper-directory listing analogue; KB-scale), then a
        driver-side set maintained per batch."""
        if self._known_cache is None:
            import os

            stats_dir = f"{self.output_dir}/series_stats"
            if not os.path.isdir(stats_dir):
                self._known_cache = set()
            else:
                self._known_cache = {
                    r["path"]
                    for r in self.spark.read.parquet(stats_dir)
                    .select("path")
                    .distinct()
                    .collect()
                }
        return self._known_cache

    def _tally(self, batch_id: int, metric: str, n: int) -> None:
        """Append one flow-control tally row (like the T3/T6 reject tally)."""
        self.spark.createDataFrame(
            [(int(batch_id), metric, int(n))], "batch_id bigint, metric string, n bigint"
        ).coalesce(1).write.mode("append").parquet(f"{self.output_dir}/flow_tally")

    def flow_tally(self) -> DataFrame:
        """(batch_id, metric, n) flow-control tallies; empty if no limit
        ever fired."""
        import os

        d = f"{self.output_dir}/flow_tally"
        if not os.path.isdir(d):
            return self.spark.createDataFrame(
                [], "batch_id bigint, metric string, n bigint"
            )
        return self.spark.read.parquet(d)

    _PENDING_SCHEMA = (
        "path string, ts_sec bigint, value double, date date, pseq bigint"
    )

    def _pending_dir(self) -> str:
        return f"{self.output_dir}/flow_pending"

    def _read_pending(self) -> DataFrame:
        import os

        d = self._pending_dir()
        if not os.path.isdir(d):
            return self.spark.createDataFrame([], self._PENDING_SCHEMA)
        return self.spark.read.schema(self._PENDING_SCHEMA).parquet(d)

    def _now(self) -> float:
        import time

        return (self.clock or time.monotonic)()

    def _update_budget(self, now: float) -> int | None:
        """Token bucket for MAX_UPDATES_PER_SECOND: accrue rate x elapsed,
        capped at one second's burst.  None = unlimited."""
        cap = self.max_updates_per_second
        if cap is None:
            return None
        if self._tokens is None:
            self._tokens = float(cap)
        else:
            self._tokens = min(
                float(cap), self._tokens + cap * (now - self._last_refill)
            )
        self._last_refill = now
        return int(self._tokens)

    def _create_budget(self, now: float) -> int | None:
        """Sliding 60-second create ledger for MAX_CREATES_PER_MINUTE."""
        cap = self.max_creates_per_minute
        if cap is None:
            return None
        self._create_times = [
            t for t in self._create_times if now - t < 60.0
        ]
        return max(0, cap - len(self._create_times))

    @staticmethod
    def _first_n_struct(frame: DataFrame, cap: int) -> DataFrame:
        """First `cap` rows by the `fseq` arrival struct: the cap-th
        smallest key is the admission threshold — a distributed
        takeOrdered, not a global window.  The threshold re-enters the
        plan as a typed literal struct."""
        if cap <= 0:
            return frame.where(F.lit(False))
        rows = frame.select("fseq").orderBy("fseq").limit(cap).collect()
        if not rows:
            return frame
        cut = rows[-1]["fseq"]
        stype = frame.schema["fseq"].dataType
        lit_cut = F.struct(
            *[
                F.lit(cut[f.name]).cast(f.dataType).alias(f.name)
                for f in stype.fields
            ]
        )
        return frame.where(F.col("fseq") <= lit_cut)

    @staticmethod
    def _first_n_pseq(frame: DataFrame, cap: int) -> DataFrame:
        if cap <= 0:
            return frame.where(F.lit(False))
        rows = frame.select("pseq").orderBy("pseq").limit(cap).collect()
        if not rows:
            return frame
        return frame.where(F.col("pseq") <= rows[-1]["pseq"])

    def _persist(self, frame: DataFrame) -> DataFrame:
        frame = frame.persist()
        self._flow_persisted.append(frame)
        return frame

    def _flow_admit(self, batch: DataFrame, batch_id: int):
        """T8 admission for one micro-batch: returns (admitted_pending,
        admitted_new) after applying queue bound -> create gate -> update
        throttle and rewriting the pending table with the deferrals.

        Ordering: pending rows (older arrivals, totally ordered by pseq)
        are always admitted ahead of this trigger's rows (ordered by the
        fseq arrival struct).  Driver-side work is counts, KB-scale path
        sets, and budget arithmetic; every row selection is a distributed
        takeOrdered threshold.  The only windows are over DEFERRED rows
        of one batch (bounded by the batch itself).
        """
        now = self._now()
        pending = self._persist(self._read_pending())
        n_pending = pending.count()
        newb = self._persist(
            batch.withColumn(
                "fseq",
                F.struct(
                    *[
                        F.col(c)
                        for c in self._CARRY
                        if c in batch.columns
                    ],
                    F.monotonically_increasing_id().alias("mono"),
                ),
            )
        )
        n_new = newb.count()
        defer_pend: list[DataFrame] = []  # deferred, keep pseq
        defer_new: list[DataFrame] = []  # deferred, keep fseq

        # 1. receive-queue bound: applies to THIS trigger's arrivals
        if self.max_queue is not None and n_new > self.max_queue:
            newb = self._persist(self._first_n_struct(newb, self.max_queue))
            self._tally(batch_id, "dropped_queue", n_new - self.max_queue)
            n_new = self.max_queue

        # 2. create gate: new series (vs the stats catalog) beyond the
        # 60-second ledger budget defer — their rows wait in pending
        create_budget = self._create_budget(now)
        if create_budget is not None:
            known = self._known_paths()
            paths = {
                r["path"]
                for frame in (pending, newb)
                for r in frame.select("path").distinct().collect()
            }
            new_series = sorted(paths - known)
            allowed = new_series[:create_budget]
            blocked = new_series[create_budget:]
            if blocked:
                n_blocked = sum(
                    frame.where(F.col("path").isin(blocked)).count()
                    for frame in (pending, newb)
                )
                defer_pend.append(pending.where(F.col("path").isin(blocked)))
                defer_new.append(newb.where(F.col("path").isin(blocked)))
                pending = self._persist(
                    pending.where(~F.col("path").isin(blocked))
                )
                newb = self._persist(newb.where(~F.col("path").isin(blocked)))
                n_pending = pending.count()
                n_new = newb.count()
                self._tally(batch_id, "deferred_creates", n_blocked)
            self._create_times.extend([now] * len(allowed))

        # 3. update throttle: token budget spent pending-first
        budget = self._update_budget(now)
        if budget is not None and budget < n_pending + n_new:
            take_p = min(budget, n_pending)
            take_n = budget - take_p
            adm_p = self._persist(self._first_n_pseq(pending, take_p))
            adm_n = self._persist(self._first_n_struct(newb, take_n))
            if take_p < n_pending:
                defer_pend.append(
                    pending.join(adm_p.select("pseq"), "pseq", "left_anti")
                )
            if take_n < n_new:
                defer_new.append(
                    newb.join(adm_n.select("fseq"), "fseq", "left_anti")
                )
            self._tally(
                batch_id, "deferred_updates", n_pending + n_new - budget
            )
            n_admitted = budget
            if self._tokens is not None:
                self._tokens -= budget
        else:
            adm_p, adm_n = pending, newb
            n_admitted = n_pending + n_new
            if self._tokens is not None:
                self._tokens -= n_pending + n_new
        self._last_admitted = n_admitted

        # NOTE: the pending-table rewrite happens in _write_batch AFTER
        # the datapoints write — adm_p/defer lineages read the CURRENT
        # pending dir, and persist() is lazy, so swapping the dir before
        # the write action runs would make the admitted frame read the
        # post-swap table.
        return adm_p, adm_n, defer_pend, defer_new

    def _rewrite_pending(
        self,
        defer_pend: list[DataFrame],
        defer_new: list[DataFrame],
        batch_id: int,
    ) -> None:
        """Persist this batch's deferrals as the next trigger's pending
        table: prior pending rows keep their pseq (arrival order), this
        batch's rows append after them (ranked by fseq — a window over
        the deferred subset only), and MAX_CACHE_SIZE drops the newest
        overflow with a tally."""
        import shutil

        from pyspark.sql import Window

        cols = ["path", "ts_sec", "value", "date", "pseq"]
        parts = [f.select(*cols) for f in defer_pend]
        new_frames = [f for f in defer_new]
        if new_frames:
            nf = new_frames[0]
            for extra in new_frames[1:]:
                nf = nf.unionByName(extra)
            base = 0
            if parts:
                mx = parts[0]
                for extra in parts[1:]:
                    mx = mx.unionByName(extra)
                row = mx.agg(F.max("pseq").alias("m")).first()
                base = (row["m"] or 0) + 1
            w = Window.orderBy("fseq")  # deferred subset of ONE batch
            parts.append(
                nf.withColumn(
                    "pseq", F.row_number().over(w) + F.lit(base - 1)
                ).select(*cols)
            )
        d = self._pending_dir()
        if not parts:
            shutil.rmtree(d, ignore_errors=True)
            return
        pend = parts[0]
        for extra in parts[1:]:
            pend = pend.unionByName(extra)
        if self.max_cache is not None:
            n_total = pend.count()
            if n_total > self.max_cache:
                pend = self._first_n_pseq(pend, self.max_cache)
                self._tally(
                    batch_id, "dropped_cache", n_total - self.max_cache
                )
        # write the next pending table BESIDE the current one, then swap:
        # the plan reads the live dir, so an in-place overwrite would race
        # its own input; the swap also keeps a complete table at every
        # failure point (same discipline as compact_datapoints)
        tmp = d + ".next"
        shutil.rmtree(tmp, ignore_errors=True)
        pend.coalesce(1).write.mode("overwrite").parquet(tmp)
        old = d + ".old"
        shutil.rmtree(old, ignore_errors=True)
        import os

        if os.path.isdir(d):
            os.rename(d, old)
        os.rename(tmp, d)
        shutil.rmtree(old, ignore_errors=True)

    def _release_flow_cache(self) -> None:
        for f in self._flow_persisted:
            f.unpersist()
        self._flow_persisted.clear()

    def _flow_active(self) -> bool:
        import os

        return (
            self.max_queue is not None
            or self.max_creates_per_minute is not None
            or self.max_updates_per_second is not None
            or self.max_cache is not None
            or os.path.isdir(self._pending_dir())  # drain leftovers even
            # after limits are turned off
        )

    def _dedup_new(self, batch: DataFrame) -> DataFrame:
        """Per-batch slot LWW dedup (T4) over this trigger's rows: one row
        per (path, second) survives, the latest-arriving one (the wire
        protocol carries no sequence; reference semantics are
        arrival-order overwrite, L_DataWhisper.lua:346-354).  In-batch
        arrival key: source-file modification time, then file name, then
        within-file line order (monotonically_increasing_id — assigned
        here because it is not allowed on streaming frames; split order
        for a file source follows file offset, so the struct is a
        deterministic total order for a given input set)."""
        order_cols = [c for c in self._CARRY if c in batch.columns]
        seq = F.struct(
            *[F.col(c) for c in order_cols],
            F.monotonically_increasing_id().alias("mono"),
        )
        return (
            batch.withColumn("seq", seq)
            .groupBy("path", "ts_sec", "date")
            .agg(F.max_by("value", "seq").alias("value"))
        )

    #: rows admitted by the last _flow_admit (lets the writer skip
    #: entirely-empty writes — a footerless parquet dir breaks inference)
    _last_admitted: int = 0

    def _write_batch(self, batch: DataFrame, batch_id: int) -> None:
        defer_pend = defer_new = None
        if not self._flow_active():
            deduped = self._dedup_new(batch)
        else:
            # flow-limited path: admit pending (older) + this trigger's
            # rows under the budgets, then LWW-merge with new-beats-pending
            # precedence per (path, second)
            adm_p, adm_n, defer_pend, defer_new = self._flow_admit(
                batch, batch_id
            )
            dp = adm_p.groupBy("path", "ts_sec", "date").agg(
                F.max_by("value", "pseq").alias("value")
            )
            dn = self._dedup_new(adm_n)
            deduped = (
                dp.withColumn("arr", F.lit(0))
                .unionByName(dn.withColumn("arr", F.lit(1)))
                .groupBy("path", "ts_sec", "date")
                .agg(F.max_by("value", "arr").alias("value"))
            )
        deduped = (
            deduped
            # cross-batch arrival order lives in its OWN column: batch_id is
            # the checkpoint's monotone epoch, unwrapped — read-side LWW
            # within a (path, second) orders by it directly, so it never
            # saturates (BIGINT overflow needs ~9e18 batches).
            .withColumn("batch_seq", F.lit(batch_id))
            # ts_us stays the ACROSS-seconds event-time order key for slot
            # consumers (lww_slots max_by spans seconds within a slot), so
            # the arrival addend is capped below one second's worth: an
            # unwrapped addend would, past batch 1e6 (~12 days at 1 batch/s),
            # let a late write to an older second outrank newer seconds.
            # Same-second arrival ties beyond the cap are broken by
            # batch_seq in `datapoints()` / `compact_datapoints`.
            .withColumn(
                "ts_us",
                F.col("ts_sec") * 1_000_000
                + F.lit(min(batch_id, 999_999)),
            )
        )
        out = deduped.select(
            "path", "ts_sec", "ts_us", "batch_seq", "value", "date"
        ).persist()  # two consumers below; avoid recomputing the dedup agg
        # The cache is AQE-sized (canChangeCachedPlanOutputPartitioning in
        # session.engine_conf): its partitions are the dedup shuffle
        # coalesced by the advisory size, so the write runs one task per
        # coalesced partition and leaves partitions × dates-touched files
        # (one partition, so one file per date, for a Carbon-sized trigger).
        skip_write = defer_pend is not None and self._last_admitted == 0
        try:
            if not skip_write:
                (
                    out.write.mode("append")
                    .partitionBy("date")
                    .parquet(f"{self.output_dir}/datapoints")
                )
            if not skip_write:
                # maintain per-series stats alongside the data (the
                # Whisper-header analogue): a KB-scale increment per batch
                # so "now" anchors, metric counts, and routing arithmetic
                # never need a full-table aggregation job (r3 advisory).
                from datayours_spark.stats import append_series_stats

                stats_dir = f"{self.output_dir}/series_stats"
                append_series_stats(out, stats_dir)
                if self._known_cache is not None:
                    # keep the creates-gate catalog current (out is
                    # persisted, so this distinct is batch-scale)
                    self._known_cache.update(
                        r["path"]
                        for r in out.select("path").distinct().collect()
                    )
            if batch_id % 64 == 63:
                # fold the one-file-per-batch stats increments periodically.
                # SAFE against the live stream precisely because it runs
                # INSIDE the batch callback: foreachBatch serializes with
                # the only appender (this method), so no increment can land
                # mid-swap — which is also why ad-hoc compact_series_stats
                # calls require a quiescent stream.
                import os

                from datayours_spark.stats import compact_series_stats

                sd = f"{self.output_dir}/series_stats"
                if os.path.isdir(sd):
                    compact_series_stats(self.spark, sd)
            if defer_pend is not None:
                # rewrite the pending table only after the admitted rows
                # are safely written (their lineage read the OLD pending
                # dir; the datapoints write materialized them)
                self._rewrite_pending(defer_pend, defer_new, batch_id)
        finally:
            out.unpersist()
            self._release_flow_cache()

    def start(self):
        """Start the continuous query (micro-batch trigger — the Spark
        equivalent of the daemon's 1 Hz poll loop, `L_DataDaemon.lua:220`)."""
        lines = (
            self.spark.readStream.format("text")
            .option("maxFilesPerTrigger", 16)  # T8 flow limit analogue
            .load(self.input_dir)
            .select(
                F.col("value").alias("line"),
                # file provenance → deterministic in-batch arrival order
                F.col("_metadata.file_modification_time").alias("src_mtime"),
                F.col("_metadata.file_name").alias("src_file"),
            )
        )
        out = self.transform(lines).withWatermark("ts", self.watermark_delay)
        return (
            out.writeStream.foreachBatch(self._write_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .start()
        )

    def datapoints(self, dates: list[str] | None = None) -> DataFrame:
        """Read-side view with cross-batch LWW per (path, second).

        `dates` restricts the scan to those date partitions (pruned at the
        parquet source) — the incremental-maintenance entry point.
        """
        # mergeSchema: whether batch_seq appears in the inferred schema must
        # not depend on WHICH footer Spark samples on a table mixing
        # pre-batch_seq files with streaming-written ones.  Footer merging
        # is metadata-scale (parallel over file footers, not data); a
        # compaction pass homogenizes the files, after which it is free.
        from pyspark.errors.exceptions.captured import AnalysisException

        try:
            df = self.spark.read.option("mergeSchema", "true").parquet(
                f"{self.output_dir}/datapoints"
            )
        except AnalysisException:
            # no batch has written rows yet (missing dir, or only empty
            # commit markers): the canonical-empty view
            df = self.spark.createDataFrame(
                [],
                "path string, ts_sec bigint, ts_us bigint, "
                "batch_seq bigint, value double, date date",
            )
        if dates is not None:
            df = df.where(F.col("date").isin(dates))
        # within one (path, second) the uncapped batch_seq defines "last";
        # the surviving ts_us (capped addend) remains safe to compare
        # across seconds in downstream slot LWW.  Legacy files written
        # before batch_seq existed read as NULL in a mixed table (and
        # whether the column appears at all depends on which footer Spark
        # samples) — coalesce to -1 so legacy rows order BELOW any real
        # batch and max_by never returns a NULL-keyed row; ts_us breaks
        # ties among legacy rows themselves.
        if "batch_seq" in df.columns:
            order = F.struct(
                F.coalesce(F.col("batch_seq"), F.lit(-1)).alias("b"),
                F.col("ts_us").alias("u"),
            )
        else:
            order = F.col("ts_us")
        return df.groupBy("path", "ts_sec").agg(
            F.max_by("value", order).alias("value"),
            F.max("ts_us").alias("ts_us"),
        )

    def series_stats(self) -> DataFrame:
        """Merged per-series stats (path, min_ts, max_ts, n) maintained by
        `_write_batch` — the metadata answer to catalog questions."""
        from datayours_spark.stats import read_series_stats

        return read_series_stats(self.spark, f"{self.output_dir}/series_stats")

    def data_now(self) -> int | None:
        """The table's "now" anchor: now_override when set, else the max
        ingested second from the STATS table (KB-scale), never a
        datapoints scan.  None before the first batch."""
        if self.now_override is not None:
            return self.now_override
        import os

        from datayours_spark.stats import corpus_now

        stats_dir = f"{self.output_dir}/series_stats"
        if not os.path.isdir(stats_dir):
            return None
        return corpus_now(self.spark, stats_dir)

    def refresh_rollups(
        self, changed_dates: list[str] | None = None
    ) -> dict[int, DataFrame]:
        """Rollup maintenance job (T5).

        Full refresh when `changed_dates` is None; otherwise INCREMENTAL:
        only the touched date partitions are recomputed (source scan pruned
        to those dates) and dynamically overwritten in the date-partitioned
        rollup tables — untouched partitions' files are never rewritten.
        This is how write-time propagation scales: the maintenance cost
        follows the batch, not the table.
        """
        from datayours_spark.operators.fetch import lww_slots

        # dynamic partition overwrite is applied PER WRITER below (the
        # rollup write), never session-wide: a lingering session-level
        # "dynamic" makes every later partitioned overwrite in the
        # session skip its _SUCCESS marker, which silently disables any
        # marker-gated reader (BatchStore compaction found this the
        # hard way — r10)
        if changed_dates is not None:
            for step in self.rollup_steps:
                if 86_400 % step != 0:
                    raise ValueError(
                        f"incremental refresh needs day-aligned steps; {step}s"
                        " slots can span a date boundary — run a full refresh"
                    )
        from datayours_spark.operators.rollup import rollup, rollup_all_methods

        dp = self.datapoints(dates=changed_dates)
        meta: DataFrame | None = None
        if self.rule_engine is not None:
            # rule-assigned per-series meta over the CURRENT catalog: newly
            # seen series pick up their conf row on the next refresh, the
            # Spark shape of creation-time assignment (`L_DataCache.lua:142-162`)
            from datayours_spark.operators.meta import assign_series_meta

            meta = assign_series_meta(
                dp.select("path").distinct(), self.rule_engine
            ).select("path", "method", "xff")
        steps = sorted(self.rollup_steps)
        levels: dict[int, DataFrame] = {}
        prev_step: int | None = None
        prev_level: DataFrame | None = None
        for step in steps:
            if prev_level is None:
                # finest level: the LWW slot table itself
                level = lww_slots(dp, step)
            elif meta is not None:
                # whisper propagation with PER-SERIES method/xff dispatch
                # (`L_DataWhisper.lua:493-523`): one aggregation pass computes
                # the conf's methods (pruned via the engine's driver-side
                # knowledge), the broadcast meta picks per path
                level = rollup_all_methods(
                    prev_level, prev_step, step, meta,
                    default_method=self.rollup_method,
                    default_xff=self.rollup_xff,
                    methods=self.rule_engine.methods_used(),
                ).select("path", "slot", "value")
            else:
                # whisper propagation: aggregate the PREVIOUS level with the
                # configured method, gated by xFilesFactor
                # (`L_DataWhisper.lua:469-491`)
                level = rollup(
                    prev_level, prev_step, step,
                    method=self.rollup_method, xff=self.rollup_xff,
                ).select("path", "slot", "value")
            out = level.withColumn(
                "date", F.to_date(F.timestamp_seconds("slot"))
            )
            (
                out.repartition("date")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("date")
                .parquet(f"{self.output_dir}/rollup_{step}")
            )
            levels[step] = self.spark.read.parquet(f"{self.output_dir}/rollup_{step}")
            prev_step, prev_level = step, level
        return levels
