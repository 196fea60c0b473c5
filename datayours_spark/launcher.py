"""Conf-driven launcher: the reference's front door, Spark-first.

Reproduces `L_DataYours.lua`'s Startup composition (`:166-229`): read the
carbon configuration, build the rule engines from the Graphite conf files,
start the selected daemons (`create_daemons`, `:146-159`), and run the
heartbeat that publishes the database metric count (`DataYoursPulse`,
`:110-130`).  One call stands up what the reference boots as a daemon set:

- **Cache** → :class:`~datayours_spark.streaming.ingest.IngestPipeline`
  (plaintext ingest → admission control → LWW datapoints + rollup
  maintenance), with pre-rewrite rules and per-series method/xff from the
  conf-built :class:`~datayours_spark.kernel.rules.RuleEngine`.
- **Watch** → :class:`~datayours_spark.streaming.watchlist.WatchList`
  (the watch/nowatch control plane) wired in as the ingest predicate.
- **Graph** / **Dash** → :class:`~datayours_spark.http.GraphiteApp`
  (the /metrics + /render WSGI facade) bound to the live datapoints view.
- **Mine** → the dataMine directory wiring
  (:mod:`datayours_spark.sources.datamine` reads it).

The UDP transports are the documented SURVEY §7.3 non-goal: ingest is the
file-drop stream, serving is WSGI — same record semantics, cluster-fit
transports.

Scale notes: the launcher is pure driver-side composition — conf parsing
is a few KB of text, and every component it wires is the already
plan-asserted distributed path.  Nothing here touches data.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from datayours_spark.kernel.archives import max_retention, parse_retention_str
from datayours_spark.kernel.rules import (
    RuleEngine,
    parse_translation_conf,
    read_daemon_conf,
    rule_engine_from_confs,
)
from datayours_spark.streaming.ingest import IngestPipeline
from datayours_spark.streaming.watchlist import WatchList

#: the heartbeat series (`DataYoursPulse` publishes the metric count and
#: memory usage as display variables; here it is a first-class metric that
#: rides the same ingest path)
HEARTBEAT_PATH = "dy.heartbeat.metrics"

#: default maintained rollup chain (T5).  The conf's per-rule retention
#: chains do NOT merge into one global divisibility chain (1s/10m/20m rules
#: coexist), so the maintained tables use a safe day-aligned chain and the
#: per-spec chains are served at query time by RollupSet / mixed_fetch —
#: the same split the reference has between write-side propagation and
#: read-side archive selection.
DEFAULT_ROLLUP_STEPS = (60, 3_600)


def _read_text(path: str) -> str:
    """Conf file contents; a missing file is an empty conf (first boot)."""
    if os.path.isfile(path):
        with open(path) as f:
            return f.read()
    return ""


def _conf_file(conf_dir: str, name: str) -> str:
    """Resolve `name` in conf_dir, falling back to the Graphite-style
    ``<name>.example`` the reference ships when the real file is absent."""
    path = os.path.join(conf_dir, name)
    if os.path.isfile(path):
        return path
    example = path + ".example"
    if os.path.isfile(example):
        return example
    return path


@dataclass
class DataYoursStack:
    """The running daemon set: what `Startup` leaves behind."""

    spark: SparkSession
    conf_dir: str
    daemons: list[str]
    engine: RuleEngine
    pipeline: IngestPipeline
    watchlist: WatchList | None
    carbon: dict[str, dict]
    dm_dir: str | None = None
    #: relay parameters (`L_DataYours.lua:205-206`): syslog emitter (S6
    #: transport, `streaming.transport.SyslogSink`) and fan-out targets
    syslog: object | None = None
    destinations: list[str] = field(default_factory=list)
    started_at: str = field(default_factory=lambda: time.strftime("%c"))
    query = None  # the running StreamingQuery, set by start()

    def start(self) -> "DataYoursStack":
        """Start the continuous ingest (the Cache daemon's poll loop)."""
        self.query = self.pipeline.start()
        return self

    def process_available(self) -> None:
        """Drain everything currently dropped (test/maintenance hook)."""
        if self.query is not None:
            self.query.processAllAvailable()

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    # -- serving --

    def datapoints(self) -> DataFrame:
        """The live LWW datapoints view (fresh file listing per call)."""
        return self.pipeline.datapoints()

    def graphite_app(self, step: int = 3_600, now: int | None = None):
        """A GraphiteApp over the CURRENT table state.  Parquet file
        listings snapshot at DataFrame creation, so serving constructs a
        fresh view per app, and the app resolves its series catalog once
        from that view — run one app per request wave, or rebuild after
        ingest batches."""
        from datayours_spark.http import GraphiteApp

        return GraphiteApp(
            self.spark,
            self.datapoints(),
            step=step,
            now=now if now is not None else self.pipeline.now_override,
            # Mine daemon: the lr_dmDB data_request serves this DB
            dm_dir=self.dm_dir if "Mine" in self.daemons else None,
        )

    # -- maintenance --

    def refresh_rollups(self, changed_dates: list[str] | None = None):
        """Run the T5 rollup maintenance over the maintained chain."""
        return self.pipeline.refresh_rollups(changed_dates)

    def heartbeat(self) -> int:
        """The DataYoursPulse analogue (`L_DataYours.lua:110-130`): count
        the database's metrics (distinct series ≙ counting ``.wsp`` files)
        and publish the count — here as a plaintext record through the
        SAME ingest path, so the heartbeat series charts like any other.
        Returns the metric count.  Periodic scheduling (the reference's
        5-minute ``call_delay``) belongs to the caller's clock."""
        # metric count from the ingest-maintained stats table (KB-scale,
        # the .wsp-filename-walk analogue) — never a datapoints scan; a
        # legacy table without stats falls back to the scan once.
        stats_dir = f"{self.pipeline.output_dir}/series_stats"
        table = f"{self.pipeline.output_dir}/datapoints"
        n = 0
        if os.path.isdir(stats_dir):
            from datayours_spark.stats import metric_count

            n = metric_count(self.spark, stats_dir)
        elif os.path.isdir(table):
            from pyspark.sql import functions as F

            df = self.spark.read.parquet(table)
            n = df.select(F.countDistinct("path")).first()[0]
        now = self.pipeline.now_override or int(time.time())
        line = f"{HEARTBEAT_PATH} {n} {now}\n"
        # atomic_drop is the shared producer protocol (see
        # streaming.transport.atomic_drop); the uuid component keeps
        # same-second heartbeats from colliding on a name the file source
        # already processed.
        import uuid as _uuid

        from datayours_spark.streaming.transport import atomic_drop

        atomic_drop(
            self.pipeline.input_dir,
            f"heartbeat-{now}-{_uuid.uuid4().hex[:8]}.txt",
            line,
        )
        return n


def start_from_conf(
    spark: SparkSession,
    conf_dir: str,
    work_dir: str,
    daemons: str = "Watch Cache Graph Mine",
    now_override: int | None = None,
    rollup_steps: tuple[int, ...] = DEFAULT_ROLLUP_STEPS,
    start: bool = True,
    use_conf_paths: bool = False,
) -> DataYoursStack:
    """Boot the daemon set from a Graphite/carbon conf directory.

    The Spark translation of `Startup` (`L_DataYours.lua:166-229`):

    - ``carbon.conf`` (or ``.example``) is read with the reference's own
      conf-reader quirks (`read_daemon_conf`) — its sections parameterize
      the daemons (``LOCAL_DATA_DIR``, ``DATAMINE_DIR``, ...); explicit
      arguments and `work_dir` defaults take precedence, since container
      paths rarely match a conf written for another machine.
    - ``storage-schemas.conf`` / ``storage-aggregation.conf`` /
      ``rewrite-rules.conf`` build the :class:`RuleEngine` driving archive
      assignment, per-series method/xff, and pre-rewrites.
    - ``daemons`` selects services exactly like the reference's DAEMONS
      device variable ("Watch Cache Graph Dash Mine", substring-matched,
      `create_daemons` `:146-159`).
    - admission retention (T3) = the longest retention any schema rule
      configures (default 7d when no schemas are present).

    Returns the composed :class:`DataYoursStack`, already started unless
    ``start=False``.
    """
    carbon_items, carbon = read_daemon_conf(
        _read_text(_conf_file(conf_dir, "carbon.conf"))
    )
    del carbon_items  # ordered form unused here; the index parameterizes
    engine = rule_engine_from_confs(
        schemas_conf=_read_text(_conf_file(conf_dir, "storage-schemas.conf")),
        aggregation_conf=_read_text(
            _conf_file(conf_dir, "storage-aggregation.conf")
        ),
        rewrite_conf=_read_text(_conf_file(conf_dir, "rewrite-rules.conf")),
    )
    # P2 symbolic translation: DataTranslation.conf, applied at the
    # capture point inside the ingest parse (`L_DataWatcher.lua:152-155`)
    translations = parse_translation_conf(
        _read_text(_conf_file(conf_dir, "DataTranslation.conf"))
    )

    retentions = [
        max_retention(parse_retention_str(r.retentions))
        for r in engine.schemas
        if r.retentions
    ]
    max_ret = max(retentions) if retentions else 7 * 86_400

    wanted = [
        d for d in ("Watch", "Cache", "Graph", "Dash", "Mine") if d in daemons
    ]

    watchlist: WatchList | None = None
    if "Watch" in wanted:
        watchlist = WatchList.load(os.path.join(conf_dir, "DataWatcher.conf"))
        # the heartbeat must survive its own relay predicate
        watchlist.watch(HEARTBEAT_PATH)

    def _dir(sub: str) -> str:
        d = os.path.join(work_dir, sub)
        os.makedirs(d, exist_ok=True)
        return d

    # work_dir wins, matching the docstring and the reference (`Startup`
    # overrides the conf with device values, `L_DataYours.lua:204`): since
    # _conf_file silently falls back to shipped *.example confs, honoring a
    # conf LOCAL_DATA_DIR by default would let a conf written for another
    # machine redirect parquet output outside work_dir.  Callers that want
    # the conf's data dir opt in with use_conf_paths=True.
    cache_conf = carbon.get("cache", {})
    out_dir = (
        cache_conf.get("LOCAL_DATA_DIR") if use_conf_paths else None
    ) or _dir("out")
    dm_dir = None
    for section in ("mine", "graph", "dash"):
        dm_dir = dm_dir or carbon.get(section, {}).get("DATAMINE_DIR")

    # relay section: syslog destination + fan-out targets (`Startup`'s
    # relay parameter block, `L_DataYours.lua:205-206`)
    relay_conf = carbon.get("relay", {})
    syslog: "object | None" = None
    syslog_dest = relay_conf.get("SYSLOG")
    if syslog_dest:
        import socket as _socket

        from datayours_spark.streaming.transport import SyslogSink

        try:
            syslog = SyslogSink(str(syslog_dest), host=_socket.gethostname())
            syslog.send("starting...")  # the reference's startup log line
        except (ValueError, OSError):
            syslog = None  # fire-and-forget transport: bad dest ≠ bad boot
    destinations = [
        d.strip()
        for d in str(relay_conf.get("DESTINATIONS") or "").split(",")
        if d.strip()
    ]

    def _limit(name: str, zero_ok: bool = False) -> int | None:
        """Conf flow-limit value → enforceable int cap; absent/inf → None
        (the reference's own 'inf means unlimited', carbon.conf.example:41).

        0 is NOT unlimited: carbon's writer treats MAX_CREATES_PER_MINUTE=0
        as "create nothing" (zero_ok knobs enforce it); for throughput
        knobs a literal 0 can never make progress, so it is rejected
        loudly instead of silently inverted to unlimited (review finding,
        round 4)."""
        value = cache_conf.get(name)
        if value is None:
            return None
        try:
            f = float(value)
        except (TypeError, ValueError):
            return None
        import math

        if math.isinf(f) or f < 0:
            return None
        if f == 0 and not zero_ok:
            raise ValueError(
                f"{name} = 0 would block the pipeline permanently; "
                "use 'inf' for unlimited or a positive cap"
            )
        return int(f)

    pipeline = IngestPipeline(
        spark=spark,
        input_dir=_dir("in"),
        output_dir=str(out_dir),
        checkpoint_dir=_dir("ckpt"),
        max_retention=int(max_ret),
        rewrites=list(engine.pre_rewrites),
        rollup_steps=tuple(rollup_steps),
        rule_engine=engine,
        now_override=now_override,
        watched=watchlist,
        translations=translations or None,
        # T8 flow limits, straight from the cache section
        # (`carbon.conf.example:38-57,196-197`)
        max_updates_per_second=_limit("MAX_UPDATES_PER_SECOND"),
        max_creates_per_minute=_limit("MAX_CREATES_PER_MINUTE", zero_ok=True),
        max_queue=_limit("MAX_QUEUE_SIZE"),
        max_cache=_limit("MAX_CACHE_SIZE"),
    )
    stack = DataYoursStack(
        spark=spark,
        conf_dir=conf_dir,
        daemons=wanted,
        engine=engine,
        pipeline=pipeline,
        watchlist=watchlist,
        carbon=carbon,
        dm_dir=dm_dir,
        syslog=syslog,
        destinations=destinations,
    )
    if start and "Cache" in wanted:
        stack.start()
    return stack
