"""Structured Streaming ingest pipeline (SURVEY.md §2.9 T1-T7, §3.1)."""

import shutil
from pathlib import Path

import pytest

from datayours_spark.kernel.rules import RewriteRule
from datayours_spark.streaming.ingest import IngestPipeline

TMP = Path(__file__).resolve().parent / "_tmp" / "streaming"

NOW = 1_704_672_000  # 2024-01-08 00:00 UTC — fixed "now" for admission


@pytest.fixture()
def pipeline(spark):
    shutil.rmtree(TMP, ignore_errors=True)
    (TMP / "in").mkdir(parents=True)
    p = IngestPipeline(
        spark=spark,
        input_dir=str(TMP / "in"),
        output_dir=str(TMP / "out"),
        checkpoint_dir=str(TMP / "ckpt"),
        now_override=NOW,
        rewrites=[RewriteRule(r"^legacy\.", "metrics.")],
        rollup_steps=(60,),
    )
    yield p
    shutil.rmtree(TMP, ignore_errors=True)


def drop_file(name: str, lines: list[str]) -> None:
    (TMP / "in" / name).write_text("\n".join(lines) + "\n")


class TestIngest:
    def test_end_to_end(self, pipeline, spark):
        t = NOW - 600
        drop_file(
            "batch1.txt",
            [
                f"metrics.a 1.5 {t}",
                f"metrics.a 2.5 {t}",            # same second → arrival LWW
                f"legacy.b 7 {t}",               # rewrite rule applies
                f"metrics.c notanumber {t}",     # P5 numeric coercion → drop
                f"metrics.d 1 {NOW + 999}",      # T6 future → reject
                f"metrics.e 1 {NOW - 8 * 86_400}",  # T3 stale → reject
                "metrics.f 3.25",                # missing ts → now
            ],
        )
        q = pipeline.start()
        q.processAllAvailable()
        q.stop()

        dp = {(r["path"], r["ts_sec"]): r["value"]
              for r in pipeline.datapoints().collect()}
        assert dp[("metrics.a", t)] == 2.5          # later line won
        assert dp[("metrics.b", t)] == 7.0          # rewritten from legacy.b
        assert dp[("metrics.f", NOW)] == 3.25       # defaulted timestamp
        assert not any(p.startswith("metrics.c") for p, _ in dp)
        assert not any(p.startswith("metrics.d") for p, _ in dp)
        assert not any(p.startswith("metrics.e") for p, _ in dp)

    def test_cross_batch_lww_and_rollups(self, pipeline, spark):
        t = NOW - 300
        drop_file("b1.txt", [f"metrics.x 1 {t}"])
        q = pipeline.start()
        q.processAllAvailable()
        drop_file("b2.txt", [f"metrics.x 9 {t}"])  # same slot, later batch
        q.processAllAvailable()
        q.stop()

        dp = {(r["path"], r["ts_sec"]): r["value"]
              for r in pipeline.datapoints().collect()}
        assert dp[("metrics.x", t)] == 9.0  # later batch wins

        levels = pipeline.refresh_rollups()
        slots = {(r["path"], r["slot"]): r["value"] for r in levels[60].collect()}
        assert slots[("metrics.x", t - t % 60)] == 9.0

    def test_lww_monotone_across_batches_and_restart(self, pipeline, spark):
        """Cross-batch order key: each later batch overwrites the same slot,
        including after a checkpoint restart — the batch epoch never wraps
        or regresses (ADVICE: the old `batch_id % 1_000_000` key wrapped)."""
        t = NOW - 300
        q = pipeline.start()
        for i in range(3):
            drop_file(f"gen{i}.txt", [f"metrics.m {i} {t}"])
            q.processAllAvailable()
        q.stop()
        # restart: the epoch resumes from the checkpoint, still monotone
        q2 = pipeline.start()
        drop_file("gen3.txt", [f"metrics.m 42 {t}"])
        q2.processAllAvailable()
        q2.stop()

        dp = {(r["path"], r["ts_sec"]): r["value"]
              for r in pipeline.datapoints().collect()}
        assert dp[("metrics.m", t)] == 42.0  # newest batch wins post-restart
        raw = (
            spark.read.parquet(f"{pipeline.output_dir}/datapoints")
            .where("path = 'metrics.m'")
            .orderBy("ts_us")
            .collect()
        )
        keys = [r["ts_us"] for r in raw]
        assert len(keys) == 4 and keys == sorted(set(keys))  # strictly ↑
        assert [r["value"] for r in raw] == [0.0, 1.0, 2.0, 42.0]

    def test_batch_epoch_past_1e6_never_outranks_newer_seconds(
        self, pipeline, spark
    ):
        """ADVICE regression: with the raw ts_us = sec*1e6 + batch_id key, a
        batch id >= 1e6 (~12 days of 1 Hz batches) bled into the seconds
        domain — a LATE write to an OLD second outranked every value from
        newer seconds in the same slot, corrupting slot LWW and all cascaded
        rollups.  The addend is now capped below one second's worth and the
        uncapped epoch lives in its own batch_seq column."""
        from pyspark.sql import functions as F

        from datayours_spark.operators.fetch import lww_slots

        t = NOW - 300  # slot start (t % 60 == 0)

        def batch(rows):
            return (
                spark.createDataFrame(
                    rows, "path string, ts_sec bigint, value double"
                )
                .withColumn("date", F.to_date(F.timestamp_seconds("ts_sec")))
            )

        # day-1 batch writes the newer second of the slot...
        pipeline._write_batch(batch([("m.s", t + 30, 1.0)]), 5)
        # ...then, >12 days of batches later, a straggler lands on the
        # OLDER second of the same slot
        pipeline._write_batch(batch([("m.s", t, 99.0)]), 2_000_005)

        slot = {
            r["slot"]: r["value"]
            for r in lww_slots(pipeline.datapoints(), 60).collect()
        }
        # event-time-latest second must win the slot, not the late arrival
        assert slot[t] == 1.0

    def test_same_second_ties_past_the_cap_break_by_batch_seq(
        self, pipeline, spark
    ):
        """Both writes land on one second from batches beyond the 999_999
        addend cap: their ts_us tie, but the uncapped batch_seq still
        decides last-write-wins."""
        from pyspark.sql import functions as F

        t = NOW - 300

        def batch(rows):
            return (
                spark.createDataFrame(
                    rows, "path string, ts_sec bigint, value double"
                )
                .withColumn("date", F.to_date(F.timestamp_seconds("ts_sec")))
            )

        pipeline._write_batch(batch([("m.t", t, 1.0)]), 1_200_000)
        pipeline._write_batch(batch([("m.t", t, 2.0)]), 1_500_000)
        dp = {r["ts_sec"]: r["value"] for r in pipeline.datapoints().collect()}
        assert dp[t] == 2.0  # later batch epoch wins despite the ts_us tie

    def test_in_batch_arrival_order_uses_file_provenance(self, pipeline, spark):
        """Two files land in ONE micro-batch writing the same slot: the later
        file (by mtime, then name) wins — a deterministic arrival order, not
        a partition-layout accident."""
        import os
        import time

        t = NOW - 240
        drop_file("a_first.txt", [f"metrics.p 1 {t}"])
        # ensure a strictly later mtime for the second file
        later = time.time() + 2
        drop_file("b_second.txt", [f"metrics.p 2 {t}"])
        os.utime(TMP / "in" / "b_second.txt", (later, later))
        q = pipeline.start()
        q.processAllAvailable()
        q.stop()
        dp = {(r["path"], r["ts_sec"]): r["value"]
              for r in pipeline.datapoints().collect()}
        assert dp[("metrics.p", t)] == 2.0

    def test_restart_resumes_from_checkpoint(self, pipeline, spark):
        t = NOW - 120
        drop_file("b1.txt", [f"metrics.r 4 {t}"])
        q = pipeline.start()
        q.processAllAvailable()
        q.stop()
        # restart: the processed file must NOT be re-ingested (exactly-once)
        q2 = pipeline.start()
        q2.processAllAvailable()
        q2.stop()
        raw = spark.read.parquet(f"{pipeline.output_dir}/datapoints")
        assert raw.where("path = 'metrics.r'").count() == 1


def two_date_lines() -> list[str]:
    """Six series, each with points on two dates (2024-01-06 and -07)."""
    return [
        f"metrics.s{s} {i} {t0 + 60 * i}"
        for s in range(6)
        for t0 in (NOW - 86_400 - 3_600, NOW - 3_600)
        for i in range(10)
    ]


def stream_shape(spark, q) -> tuple[int, int]:
    """(jobs, tasks) the stream has run so far, counted on its ``runId``
    job group once the listener bus has drained; a skipped stage (its
    shuffle output reused) completes no task and counts none."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(str(q.runId))
    tasks = 0
    for jid in jobs:
        for sid in tracker.getJobInfo(jid).stageIds:
            stage = tracker.getStageInfo(sid)
            tasks += stage.numCompletedTasks if stage else 0
    return len(jobs), tasks


def files_per_date(output_dir: str) -> dict[str, int]:
    root = Path(output_dir) / "datapoints"
    return {
        d.name: len(list(d.glob("*.parquet"))) for d in root.glob("date=*")
    }


class TestTriggerShape:
    """The cached batch in ``_write_batch`` is sized by AQE like any
    other shuffle, so a small trigger is one partition end to end: one
    task per job, one file per touched date, one stats increment."""

    def test_small_trigger_runs_one_task_per_job(self, pipeline, spark):
        drop_file("two-dates.txt", two_date_lines())
        q = pipeline.start()
        q.processAllAvailable()
        q.stop()
        assert stream_shape(spark, q) == (5, 5)
        assert files_per_date(pipeline.output_dir) == {
            "date=2024-01-06": 1, "date=2024-01-07": 1,
        }
        stats = Path(pipeline.output_dir) / "series_stats"
        assert len(list(stats.glob("*.parquet"))) == 1
        assert pipeline.datapoints().count() == 120


class TestUserHookInStream:
    def test_hook_drops_and_derives(self, spark):
        import shutil

        from datayours_spark.functions.userhook import example_derive_hook

        base = TMP.parent / "streaming_hook"
        shutil.rmtree(base, ignore_errors=True)
        (base / "in").mkdir(parents=True)
        p = IngestPipeline(
            spark=spark,
            input_dir=str(base / "in"),
            output_dir=str(base / "out"),
            checkpoint_dir=str(base / "ckpt"),
            now_override=NOW,
            user_hook=example_derive_hook(threshold=100.0),
            rollup_steps=(60,),
        )
        t = NOW - 60
        (base / "in" / "one.txt").write_text(
            f"m.a 50 {t}\nm.b 150 {t}\n"
        )
        q = p.start()
        q.processAllAvailable()
        q.stop()
        dp = {(r["path"], r["ts_sec"]): r["value"] for r in p.datapoints().collect()}
        # pass-through records plus the derived .high marker (150 - 100)
        assert dp == {
            ("m.a", t): 50.0,
            ("m.b", t): 150.0,
            ("m.b.high", t): 50.0,
        }
        shutil.rmtree(base, ignore_errors=True)


class TestWatchList:
    def test_only_watched_series_relay(self, spark):
        import shutil

        base = TMP.parent / "streaming_watch"
        shutil.rmtree(base, ignore_errors=True)
        (base / "in").mkdir(parents=True)
        p = IngestPipeline(
            spark=spark,
            input_dir=str(base / "in"),
            output_dir=str(base / "out"),
            checkpoint_dir=str(base / "ckpt"),
            now_override=NOW,
            watched=["m.watched"],
            rollup_steps=(60,),
        )
        t = NOW - 60
        (base / "in" / "one.txt").write_text(
            f"m.watched 1 {t}\nm.ignored 2 {t}\n"
        )
        q = p.start()
        q.processAllAvailable()
        q.stop()
        got = {r["path"] for r in p.datapoints().collect()}
        assert got == {"m.watched"}
        shutil.rmtree(base, ignore_errors=True)


class TestIncrementalRollups:
    def test_only_touched_dates_rewritten(self, spark):
        import os
        import shutil

        base = TMP.parent / "streaming_incr"
        shutil.rmtree(base, ignore_errors=True)
        (base / "in").mkdir(parents=True)
        p = IngestPipeline(
            spark=spark,
            input_dir=str(base / "in"),
            output_dir=str(base / "out"),
            checkpoint_dir=str(base / "ckpt"),
            now_override=NOW,
            rollup_steps=(3_600,),
        )
        day1, day2 = NOW - 2 * 86_400, NOW - 86_400
        (base / "in" / "one.txt").write_text(
            f"m.a 1 {day1}\nm.a 2 {day2}\n"
        )
        q = p.start()
        q.processAllAvailable()
        q.stop()
        p.refresh_rollups()  # full build

        rollup_dir = base / "out" / "rollup_3600"
        import datetime as _dt

        d1_name = "date=" + _dt.datetime.fromtimestamp(
            day1, tz=_dt.timezone.utc
        ).strftime("%Y-%m-%d")
        d1_files = {
            f: os.path.getmtime(rollup_dir / d1_name / f)
            for f in os.listdir(rollup_dir / d1_name)
            if f.endswith(".parquet")
        }

        # second batch touches only day2
        (base / "in" / "two.txt").write_text(f"m.a 9 {day2 + 60}\n")
        q = p.start()
        q.processAllAvailable()
        q.stop()
        import datetime

        day2_date = datetime.datetime.fromtimestamp(
            day2, tz=datetime.timezone.utc
        ).strftime("%Y-%m-%d")
        levels = p.refresh_rollups(changed_dates=[day2_date])

        # day1 partition files untouched by the dynamic overwrite
        d1_after = {
            f: os.path.getmtime(rollup_dir / d1_name / f)
            for f in os.listdir(rollup_dir / d1_name)
            if f.endswith(".parquet")
        }
        assert d1_after == d1_files
        # and the incremental result equals a full recompute
        incr = {(r["path"], r["slot"]): r["value"] for r in levels[3_600].collect()}
        full = {
            (r["path"], r["slot"]): r["value"]
            for r in p.refresh_rollups()[3_600].collect()
        }
        assert incr == full
        shutil.rmtree(base, ignore_errors=True)

    def test_incremental_rejects_spanning_steps(self, spark):
        import pytest as _pytest

        p = IngestPipeline(
            spark=spark, input_dir="x", output_dir="y", checkpoint_dir="z",
            rollup_steps=(7 * 3_600,),
        )
        with _pytest.raises(ValueError, match="day-aligned"):
            p.refresh_rollups(changed_dates=["2024-01-01"])


class TestRollupCascade:
    def test_coarser_level_uses_method_and_xff(self, spark):
        import shutil

        base = TMP.parent / "streaming_cascade"
        shutil.rmtree(base, ignore_errors=True)
        (base / "in").mkdir(parents=True)
        p = IngestPipeline(
            spark=spark,
            input_dir=str(base / "in"),
            output_dir=str(base / "out"),
            checkpoint_dir=str(base / "ckpt"),
            now_override=NOW,
            rollup_steps=(60, 600),
            rollup_method="average",
            rollup_xff=0.3,
        )
        t = NOW - 1_200  # window start, 600-aligned
        # window 1: 4 of 10 minutes known (passes xff 0.3) → avg
        # window 2: 2 of 10 known (fails xff 0.3) → absent
        lines = [f"m.a {v} {t + i * 60}" for i, v in enumerate([10, 20, 30, 40])]
        lines += [f"m.a {v} {t + 600 + i * 60}" for i, v in enumerate([5, 7])]
        (base / "in" / "one.txt").write_text("\n".join(lines) + "\n")
        q = p.start()
        q.processAllAvailable()
        q.stop()
        levels = p.refresh_rollups()
        coarse = {
            r["slot"]: r["value"] for r in levels[600].where("path='m.a'").collect()
        }
        assert coarse == {t: 25.0}  # avg(10,20,30,40); window 2 gated out
        shutil.rmtree(base, ignore_errors=True)


class TestPerSeriesRollupDispatch:
    def test_rule_engine_dispatches_method_and_xff(self, spark):
        """refresh_rollups with a storage-aggregation rule engine: each
        series' cascade hop uses ITS conf-assigned method/xff, not one
        global setting (`L_DataWhisper.lua:493-523`)."""
        import shutil

        from datayours_spark.kernel.rules import rule_engine_from_confs

        base = TMP.parent / "streaming_per_series"
        shutil.rmtree(base, ignore_errors=True)
        (base / "in").mkdir(parents=True)
        engine = rule_engine_from_confs(
            aggregation_conf="""
[sums]
pattern = \\.sum\\.
xFilesFactor = 0
aggregationMethod = sum

[maxes]
pattern = \\.max\\.
xFilesFactor = 0
aggregationMethod = max
"""
        )
        p = IngestPipeline(
            spark=spark,
            input_dir=str(base / "in"),
            output_dir=str(base / "out"),
            checkpoint_dir=str(base / "ckpt"),
            now_override=NOW,
            rollup_steps=(60, 600),
            rule_engine=engine,
        )
        t = NOW - 1_200  # 600-aligned window start
        lines = []
        for series in ("m.sum.a", "m.max.a", "m.plain"):
            # 5 of 10 minute-slots known → passes the default xff 0.5 too
            lines += [f"{series} {v} {t + i * 60}" for i, v in enumerate([1, 2, 3, 4, 5])]
        (base / "in" / "one.txt").write_text("\n".join(lines) + "\n")
        q = p.start()
        q.processAllAvailable()
        q.stop()
        levels = p.refresh_rollups()
        coarse = {
            (r["path"], r["slot"]): r["value"] for r in levels[600].collect()
        }
        assert coarse[("m.sum.a", t)] == 15.0  # conf: sum
        assert coarse[("m.max.a", t)] == 5.0   # conf: max
        assert coarse[("m.plain", t)] == 3.0   # default: average
        shutil.rmtree(base, ignore_errors=True)


class TestSlidingWindowStream:
    def test_streaming_sliding_rate_matches_batch_closed_windows(self, spark):
        """The T9 sliding-window rate runs identically as a watermarked
        stream: append mode emits exactly the batch result restricted to
        windows the final watermark closed (window_end <= max_ts - delay)."""
        import uuid

        from pyspark.sql import functions as F

        import __spark_entry__ as entry
        from datayours_spark.io import events_stream_source, load_table

        sf_dir = "/root/testdata/sf0.001"
        delay_s = 1_800

        stream = events_stream_source(spark, sf_dir).withWatermark(
            "ts", f"{delay_s} seconds"
        )
        agg = (
            stream.groupBy(
                F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
            )
            .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
            .select(
                F.col("w.start").cast("long").alias("win_start"),
                F.col("w.end").cast("long").alias("win_end"),
                "event_type",
                "n",
                "avg_value",
            )
        )
        table = f"sliding_rate_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(table)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["win_start"], r["event_type"]): (r["n"], r["avg_value"])
            for r in spark.table(table).collect()
        }

        events = load_table(spark, sf_dir, "events")
        max_ts = events.agg(F.max("ts_sec")).collect()[0][0]
        closed = max_ts - delay_s
        want = {
            (r["win_start"], r["event_type"]): (r["n"], r["avg_value"])
            for r in entry.q_sliding_rate(spark, sf_dir).collect()
            if r["win_start"] + 3_600 <= closed
        }
        assert got == want
        assert want  # the fixture actually closes windows


class TestLegacyMixedTable:
    def test_datapoints_view_handles_legacy_rows_without_batch_seq(
        self, pipeline, spark
    ):
        """Round-3 ADVICE regression: a table mixing pre-batch_seq files
        (column reads as NULL) with streaming-written files must resolve
        LWW without NULL ordering keys — a (path, second) present only in
        legacy files must still return its ts_us winner, and a real batch
        must beat legacy rows in the same second."""
        import pyspark.sql.functions as F

        table = TMP / "out" / "datapoints"
        t = NOW - 600
        legacy = spark.createDataFrame(
            [
                ("m.legacy", t, t * 1_000_000 + 1, 1.0),
                ("m.legacy", t, t * 1_000_000 + 2, 2.0),
                ("m.mixed", t, t * 1_000_000 + 9, 4.0),
            ],
            "path string, ts_sec bigint, ts_us bigint, value double",
        ).withColumn("date", F.to_date(F.timestamp_seconds("ts_sec")))
        legacy.write.partitionBy("date").parquet(str(table))
        newer = spark.createDataFrame(
            [("m.mixed", t, t * 1_000_000 + 0, 2, 8.0)],
            "path string, ts_sec bigint, ts_us bigint, batch_seq bigint, "
            "value double",
        ).withColumn("date", F.to_date(F.timestamp_seconds("ts_sec")))
        newer.write.mode("append").partitionBy("date").parquet(str(table))

        got = {
            (r["path"], r["ts_sec"]): r["value"]
            for r in pipeline.datapoints().collect()
        }
        assert got[("m.legacy", t)] == 2.0  # legacy ties break by ts_us
        assert got[("m.mixed", t)] == 8.0  # any real batch beats legacy


class TestSeriesStats:
    def test_stats_maintained_per_batch_match_recompute(self, pipeline, spark):
        """_write_batch appends per-series stats increments; the merged
        view must equal a recompute over the written datapoints after any
        number of batches, and data_now() must answer without scanning."""
        from datayours_spark.stats import series_stats

        t = NOW - 600
        drop_file("b1.txt", [f"m.a {i} {t + i}" for i in range(5)])
        q = pipeline.start()
        q.processAllAvailable()
        drop_file("b2.txt", [f"m.b {i} {t + 120 + i}" for i in range(3)]
                  + [f"m.a 9 {t + 300}"])
        q.processAllAvailable()
        q.stop()

        got = {
            r["path"]: (r["min_ts"], r["max_ts"], r["n"])
            for r in pipeline.series_stats().collect()
        }
        dp = spark.read.parquet(f"{pipeline.output_dir}/datapoints")
        want = {
            r["path"]: (r["min_ts"], r["max_ts"], r["n"])
            for r in series_stats(dp).collect()
        }
        assert got == want
        assert got["m.a"] == (t, t + 300, 6)
        # now_override set in the fixture wins; without it the stats answer
        pipeline.now_override = None
        assert pipeline.data_now() == t + 300

    def test_stats_compaction_preserves_merge(self, pipeline, spark):
        from datayours_spark.stats import (
            compact_series_stats,
            corpus_now,
            metric_count,
            read_series_stats,
        )

        t = NOW - 600
        for b in range(3):
            drop_file(f"c{b}.txt", [f"m.s{b} 1 {t + b}"])
        q = pipeline.start()
        q.processAllAvailable()
        q.stop()
        stats_dir = f"{pipeline.output_dir}/series_stats"
        before = {
            tuple(r) for r in read_series_stats(spark, stats_dir).collect()
        }
        n = compact_series_stats(spark, stats_dir)
        assert n == 3
        after = {
            tuple(r) for r in read_series_stats(spark, stats_dir).collect()
        }
        assert before == after
        assert metric_count(spark, stats_dir) == 3
        assert corpus_now(spark, stats_dir) == t + 2


class FakeClock:
    """Deterministic wall clock for the flow budgets (called once per
    flow-limited batch)."""

    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t

    def advance(self, dt: float) -> None:
        self.t += dt


class TestFlowLimits:
    """T8 flow limits as enforceable WALL-CLOCK admission control
    (carbon.conf.example:38-57,196-197): token-bucket update throttle,
    sliding-60s create ledger, per-trigger queue bound, pending-table
    cache with MAX_CACHE_SIZE."""

    def _pipe(self, spark, **kw):
        import shutil

        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)
        return IngestPipeline(
            spark=spark,
            input_dir=str(TMP / "in"),
            output_dir=str(TMP / "out"),
            checkpoint_dir=str(TMP / "ckpt"),
            now_override=NOW,
            rollup_steps=(60,),
            clock=FakeClock(),
            **kw,
        )

    @staticmethod
    def _tick(q, clock, dt=1.0, name=None):
        """Advance the budget clock and fire an (empty) trigger so the
        pending table drains — the carbon writer-thread tick."""
        import uuid

        clock.advance(dt)
        drop_file(name or f"tick-{uuid.uuid4().hex[:6]}.txt", [])
        q.processAllAvailable()

    def test_update_throttle_defers_but_never_drops(self, spark):
        """MAX_UPDATES_PER_SECOND: a 12-row burst against a 5/s token
        bucket lands completely across wall-clock seconds; per-batch
        writes never exceed the accrued budget and deferrals are
        tallied."""
        p = self._pipe(spark, max_updates_per_second=5)
        t = NOW - 600
        drop_file("big.txt", [f"m.a {i} {t + i}" for i in range(12)])
        q = p.start()
        q.processAllAvailable()  # t=0: full bucket admits 5, defers 7
        assert p.datapoints().count() == 5
        self._tick(q, p.clock)  # +1s → 5 tokens → admit 5, defer 2
        assert p.datapoints().count() == 10
        self._tick(q, p.clock)  # +1s → admit the last 2
        q.stop()
        dp = {r["ts_sec"]: r["value"] for r in p.datapoints().collect()}
        assert dp == {t + i: float(i) for i in range(12)}  # nothing lost
        tally = [
            r["n"]
            for r in p.flow_tally()
            .where("metric = 'deferred_updates'")
            .orderBy("batch_id")
            .collect()
        ]
        assert tally == [7, 2]
        per_batch = (
            spark.read.parquet(f"{p.output_dir}/datapoints")
            .groupBy("batch_seq").count().collect()
        )
        assert all(r["count"] <= 5 for r in per_batch)

    def test_no_budget_accrual_without_elapsed_time(self, spark):
        """Back-to-back triggers at the SAME wall-clock instant share one
        second's budget — the conf knob's unit is real time, not batch
        count (the round-4 review's core finding)."""
        p = self._pipe(spark, max_updates_per_second=5)
        t = NOW - 600
        drop_file("b1.txt", [f"m.a {i} {t + i}" for i in range(4)])
        q = p.start()
        q.processAllAvailable()  # admits 4, bucket down to 1
        drop_file("b2.txt", [f"m.b {i} {t + i}" for i in range(4)])
        q.processAllAvailable()  # SAME instant: only 1 token left
        assert p.datapoints().count() == 5  # 4 + 1, not 4 + 4
        self._tick(q, p.clock)  # a real second passes → the rest lands
        q.stop()
        assert p.datapoints().count() == 8

    def test_create_ledger_holds_for_sixty_seconds(self, spark):
        """MAX_CREATES_PER_MINUTE: over-budget NEW series DEFER (carbon
        caches points for uncreated files — never drops them); the ledger
        frees after 60 wall-clock seconds."""
        p = self._pipe(spark, max_creates_per_minute=2)
        t = NOW - 600
        drop_file("one.txt", [
            f"m.a 1 {t}", f"m.b 2 {t}", f"m.c 3 {t}", f"m.c 4 {t + 1}",
        ])
        q = p.start()
        q.processAllAvailable()
        # t=0: m.a, m.b created; m.c (sorted last) deferred to pending
        assert {r["path"] for r in p.datapoints().collect()} == {"m.a", "m.b"}
        assert {(r["metric"], r["n"]) for r in p.flow_tally().collect()} == {
            ("deferred_creates", 2)
        }
        self._tick(q, p.clock, dt=1.0)
        # one second later the minute ledger is still full → still pending
        assert {r["path"] for r in p.datapoints().collect()} == {"m.a", "m.b"}
        self._tick(q, p.clock, dt=61.0)
        # past the sliding minute: budget frees, m.c lands with BOTH rows
        q.stop()
        got = {(r["path"], r["ts_sec"]) for r in p.datapoints().collect()}
        assert got == {("m.a", t), ("m.b", t), ("m.c", t), ("m.c", t + 1)}

    def test_create_cap_zero_blocks_all_creates(self, spark):
        """MAX_CREATES_PER_MINUTE=0 is carbon's 'create nothing', not
        unlimited (the inversion the round-4 review flagged)."""
        p = self._pipe(spark, max_creates_per_minute=0)
        t = NOW - 600
        drop_file("z.txt", [f"m.a 1 {t}"])
        q = p.start()
        q.processAllAvailable()
        self._tick(q, p.clock, dt=120.0)
        q.stop()
        assert p.datapoints().count() == 0  # frozen series set
        assert p.flow_tally().where("metric = 'deferred_creates'").count() >= 1

    def test_queue_bound_drops_overflow(self, spark):
        """MAX_QUEUE_SIZE: this trigger's arrivals past the queue bound
        drop in arrival order with a tally (carbon's queue-full drop)."""
        p = self._pipe(spark, max_queue=6)
        t = NOW - 600
        drop_file("q.txt", [f"m.a {i} {t + i}" for i in range(10)])
        q = p.start()
        q.processAllAvailable()
        q.stop()
        kept = sorted(r["ts_sec"] - t for r in p.datapoints().collect())
        assert kept == [0, 1, 2, 3, 4, 5]
        tally = {(r["metric"], r["n"]) for r in p.flow_tally().collect()}
        assert tally == {("dropped_queue", 4)}

    def test_cache_bound_caps_the_pending_table(self, spark):
        """MAX_CACHE_SIZE: the pending table (the cache deferrals fill)
        drops newest-first past the bound."""
        p = self._pipe(spark, max_updates_per_second=2, max_cache=3)
        t = NOW - 600
        drop_file("c.txt", [f"m.a {i} {t + i}" for i in range(8)])
        q = p.start()
        q.processAllAvailable()  # admit 2, defer 6 → cache keeps 3, drops 3
        self._tick(q, p.clock)
        self._tick(q, p.clock)
        q.stop()
        kept = sorted(r["ts_sec"] - t for r in p.datapoints().collect())
        assert kept == [0, 1, 2, 3, 4]  # first 5 in arrival order survive
        tally = {(r["metric"], r["n"]) for r in p.flow_tally().collect()}
        assert ("dropped_cache", 3) in tally

    def test_deferred_rows_do_not_rerun_rewrites(self, spark):
        """Deferral must not re-enter the transform cascade: a rewrite
        whose output still matches its own pattern would compound on
        every deferral round (the round-4 review's relay-loop finding)."""
        p = self._pipe(
            spark,
            max_updates_per_second=2,
            rewrites=[RewriteRule("^dup", "dupdup")],
        )
        t = NOW - 600
        drop_file("d.txt", [f"dup.a {i} {t + i}" for i in range(4)])
        q = p.start()
        q.processAllAvailable()  # admit 2 as dupdup.a, defer 2
        self._tick(q, p.clock)
        q.stop()
        paths = {r["path"] for r in p.datapoints().collect()}
        assert paths == {"dupdup.a"}  # never dupdupdup.a
        assert p.datapoints().count() == 4

    def test_limits_off_by_default_and_tally_empty(self, pipeline, spark):
        t = NOW - 600
        drop_file("free.txt", [f"m.a {i} {t + i}" for i in range(8)])
        q = pipeline.start()
        q.processAllAvailable()
        q.stop()
        assert pipeline.datapoints().count() == 8
        assert pipeline.flow_tally().count() == 0

    def test_admit_all_trigger_writes_one_file_per_date(self, spark):
        """The flow-limited branch persists its admitted frames and the
        merged batch: with a budget that admits everything, the write
        still leaves one file per touched date.  (Its count and
        threshold jobs make the job count branch-specific, so only the
        layout is pinned.)"""
        p = self._pipe(spark, max_updates_per_second=1_000_000)
        drop_file("two-dates.txt", two_date_lines())
        q = p.start()
        q.processAllAvailable()
        q.stop()
        assert files_per_date(p.output_dir) == {
            "date=2024-01-06": 1, "date=2024-01-07": 1,
        }
        assert p.datapoints().count() == 120


class TestFlowLimitRestart:
    def test_pending_survives_restart(self, spark):
        """The pending table is durable state: rows deferred before a
        shutdown drain after a restart (fresh pipeline object, fresh
        bucket/ledger) without loss or double-application."""
        import shutil

        shutil.rmtree(TMP, ignore_errors=True)
        (TMP / "in").mkdir(parents=True)

        def mk():
            return IngestPipeline(
                spark=spark,
                input_dir=str(TMP / "in"),
                output_dir=str(TMP / "out"),
                checkpoint_dir=str(TMP / "ckpt"),
                now_override=NOW,
                rollup_steps=(60,),
                max_updates_per_second=4,
                clock=FakeClock(),
                rewrites=[RewriteRule("^dup", "dupdup")],
            )

        t = NOW - 600
        p1 = mk()
        drop_file("burst.txt", [f"dup.a {i} {t + i}" for i in range(10)])
        q = p1.start()
        q.processAllAvailable()  # admit 4, defer 6 to pending
        q.stop()
        assert p1.datapoints().count() == 4

        p2 = mk()  # fresh object: token bucket and caches reset
        q = p2.start()
        p2.clock.advance(1.0)
        drop_file("tick-a.txt", [])
        q.processAllAvailable()  # +4
        p2.clock.advance(1.0)
        drop_file("tick-b.txt", [])
        q.processAllAvailable()  # +2
        q.stop()
        dp = {r["ts_sec"]: (r["path"], r["value"]) for r in p2.datapoints().collect()}
        assert dp == {t + i: ("dupdup.a", float(i)) for i in range(10)}
        shutil.rmtree(TMP, ignore_errors=True)
