"""Table loading for the driver's testdata parquet.

The testdata timestamps have shipped in two physical encodings across driver
rounds: parquet TIMESTAMP(NANOS) (unmappable to TimestampType — with
``spark.sql.legacy.parquet.nanosAsLong=true`` they arrive as LongType
nanoseconds) and parquet timestamp[us] (arrives as TIMESTAMP_NTZ).  Every
loader here branches on the observed dtype so either vintage works.  We
standardize on **epoch seconds (BIGINT)** for all time arithmetic — it is
deterministic across engines (DuckDB truncates the same instants to
microseconds) and keeps every time expression inside whole-stage codegen
(pure long arithmetic, no timezone machinery).

At 100 TB the raw `datapoints` table would be written out partitioned by
``date(ts)`` and bucketed by ``path`` (SURVEY.md §1.8); here we read the
driver's unpartitioned fixtures, so the loaders only normalize columns.
"""

from __future__ import annotations

import os
import threading
from contextlib import nullcontext

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datayours_spark.session import conf_scope, configure_session

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: columns that arrive as TIMESTAMP(NANOS) → long nanos per table
NANO_TS_COLUMNS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

NANOS_PER_SECOND = 1_000_000_000


def small_df(spark: SparkSession, data, schema) -> DataFrame:
    """``createDataFrame`` for KB-scale driver-local model/config state
    (centroid tables, codebooks, query-id lists, rule configs) in ONE
    partition.  The default ``parallelize`` slices a tiny literal relation
    into ``defaultParallelism`` near-empty partitions (32 on the local
    harness), so every broadcast build or collect over it schedules 32
    no-op tasks — measured 0.4-0.6 s of pure scheduling per broadcast
    build on the r15 local floor, repeated in EVERY query that touches
    the model state.  These relations are by definition driver-resident
    (they are built from a Python list), so one partition is the right
    shape at any corpus scale.

    Implementation note: ``createDataFrame(data).coalesce(1)`` is NOT
    equivalent — the coalesced task evaluates the 32 pickled parent
    slices sequentially, each paying its own Python-runner round
    (measured ~5 s per collect vs 0.4 s for a 1-slice parallelize)."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(list(data), 1), schema
    )


#: the one conf flip behind both AQE-off scopes below
_AQE_OFF = {"spark.sql.adaptive.enabled": "false"}


def one_job_collect(spark: SparkSession):
    """AQE off for ONE tiny collect.  Adaptive execution turns a fused
    guard action (a union of single-row fail-fast aggregates, or one
    single-row bound) into a stage-job per exchange plus a re-optimized
    result job — 2-9 scheduling round-trips for aggregates whose reduce
    output is a handful of rows.  Map-side parallelism and codegen are
    untouched.

    Scale contract (ADVICE r15): only wrap collects whose INPUTS are
    already materialized (checkpointed index/signature tables) or whose
    reduce keyspace is bounded (buckets/planes/model state) — a collect
    that transitively materializes corpus-scale lazy plans, or shuffles
    a corpus-cardinality keyspace, must keep AQE (see
    ``winnow_neardup(guard_one_job=False)``).  Save/restore and
    overlap follow :func:`datayours_spark.session.conf_scope`."""
    return conf_scope(spark, _AQE_OFF)


def static_construct(spark: SparkSession, small: bool):
    """Compile DataFrame plans (and their ``localCheckpoint`` RDDs)
    NON-adaptively for a construction region — gated by ``small``.

    Why this exists: ``localCheckpoint(eager=False)`` over an adaptive
    plan is NOT lazy — ``AdaptiveSparkPlanExec`` materializes every
    exchange stage at the checkpoint call itself (measured r16: each
    'lazy' checkpoint in the batch ingest pipeline ran 1-7 stage-jobs at
    construct time), so a composed pipeline pays a blocking scheduling
    barrier per checkpoint.  Plans compiled with AQE off defer
    completely: the whole checkpoint chain then executes inside the
    FIRST consuming action as ordinary shuffle-map stages of one job.

    Gate contract: pass ``small=True`` only when the driving input is
    below cluster parallelism (:func:`below_parallelism` — micro-
    batches, trickle triggers, the sf fixtures), where AQE's runtime
    re-optimization has nothing to coalesce and its stage-job round-
    trips are pure overhead.  At corpus scale the gate is off and this
    is a no-op: plans stay adaptive (runtime coalescing + skew
    handling), exactly as before.  Save/restore and overlap follow
    :func:`datayours_spark.session.conf_scope`."""
    return conf_scope(spark, _AQE_OFF) if small else nullcontext()


def below_parallelism(df: DataFrame) -> bool:
    """The small-input gate: ``df`` delivers fewer partitions than the
    cluster's ``defaultParallelism``."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.rdd.getNumPartitions() < par


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a per-row-compute-heavy input to
    ``defaultParallelism`` when the scan delivers fewer splits than cores
    (guide §2.5, unsplittable inputs).  The sf fixtures are single-
    row-group parquet files, so generator-heavy index builds (winnow /
    minhash / simhash signatures, PQ encode) otherwise run on ONE task
    (1-2 s each on the measured floor).  The partition-count gate makes
    this a NO-OP for corpora already delivered in >= cores splits — no
    corpus-scale shuffle is ever introduced.  Only safe for consumers
    whose values are row-local or exact (integer/count) aggregates;
    float-mean consumers keep their scan order."""
    if below_parallelism(df):
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df


def epoch_us_col(df: DataFrame, col: str) -> F.Column:
    """Epoch-microseconds BIGINT from either physical encoding of `col`:
    long nanos (TIMESTAMP(NANOS) under nanosAsLong) → integer floor-div;
    TIMESTAMP/TIMESTAMP_NTZ → unix_micros (epoch-exact with a UTC session)."""
    dtype = dict(df.dtypes)[col]
    if dtype == "bigint":
        return F.expr(f"{col} div 1000")
    return F.expr(f"unix_micros(cast({col} as timestamp))")


def epoch_range_pred(
    df: DataFrame,
    col: str,
    start_sec: int | None = None,
    end_sec: int | None = None,
) -> F.Column:
    """PUSHDOWN-FRIENDLY range predicate on a RAW timestamp column,
    equivalent to ``start_sec <= <col>_sec < end_sec`` over the
    normalized epoch companion — but expressed against the stored
    column itself, so it reaches the parquet scan as a plain min/max
    row-group filter (a predicate on the derived ``_sec`` projection
    never pushes).  Handles both fixture encodings, same branching as
    :func:`epoch_us_col`:

    - long nanos: integer bound multiplication (exact for positive
      epochs — ``x div 1e9 >= s`` ⇔ ``x >= s·1e9``);
    - TIMESTAMP / TIMESTAMP_NTZ: a typed literal at the whole-second
      bound (``unix_seconds`` truncates, and the bounds are whole
      seconds, so ``floor(ts) >= s`` ⇔ ``ts >= s``).  The TIMESTAMP
      literal carries an explicit ``+00:00`` offset so it parses the
      same under ANY ``spark.sql.session.timeZone``, not just the UTC
      this project's session factory pins (ADVICE r8).  TIMESTAMP_NTZ
      is zone-free by definition; the fixture stores NTZ values as UTC
      wall clock, which is the assumption the ``_iso`` bound encodes.
    """
    from datetime import datetime, timezone

    dtype = dict(df.dtypes)[col]

    def _iso(sec: int) -> str:
        return datetime.fromtimestamp(sec, tz=timezone.utc).strftime(
            "%Y-%m-%d %H:%M:%S"
        )

    preds: list[F.Column] = []
    if dtype == "bigint":
        if start_sec is not None:
            preds.append(F.col(col) >= start_sec * NANOS_PER_SECOND)
        if end_sec is not None:
            preds.append(F.col(col) < end_sec * NANOS_PER_SECOND)
    else:
        ntz = dtype == "timestamp_ntz"
        lit = "TIMESTAMP_NTZ" if ntz else "TIMESTAMP"
        # NTZ literals must NOT carry an offset (they're zone-free);
        # zoned TIMESTAMP literals carry one so session tz is irrelevant
        suffix = "" if ntz else "+00:00"
        if start_sec is not None:
            preds.append(
                F.expr(f"{col} >= {lit} '{_iso(start_sec)}{suffix}'")
            )
        if end_sec is not None:
            preds.append(
                F.expr(f"{col} < {lit} '{_iso(end_sec)}{suffix}'")
            )
    out = F.lit(True)
    for p in preds:
        out = out & p
    return out


def events_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over events.parquet as (event_type, ts TIMESTAMP, value).

    readStream requires an explicit schema; we take it from a batch-read
    footer peek (metadata-only) so the same code handles both fixture
    vintages (long-nanos ts vs timestamp[us] ts)."""
    configure_session(spark)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        # the file source requires a directory; glob-filter to the one table
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_sec = (epoch_us_col(batch, "ts") / 1_000_000).cast("bigint")
    return stream.select(
        "event_type", F.timestamp_seconds(ts_sec).alias("ts"), "value"
    )


#: the engine's one session cache, see :func:`session_cached`:
#: (applicationId, sf_dir, table, part) → (input identity, value)
_SESSION_CACHE: dict[tuple, tuple] = {}
_session_cache_lock = threading.Lock()


def _input_identity(sf_dir: str, table: str) -> tuple | None:
    """(mtime, length) of ``{sf_dir}/{table}.parquet`` from one metadata
    stat — no Spark job.  None when the path cannot be stat-ed locally
    (a remote store); such entries then live as long as their session."""
    try:
        st = os.stat(f"{sf_dir}/{table}.parquet")
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def session_cached(
    spark: SparkSession, sf_dir: str, table: str, part, build,
    checkpoint: bool = False,
):
    """Return ``part`` — a relation, index table or model state derived
    from ``{sf_dir}/{table}.parquet`` — building it on a miss.

    Key rule: an entry answers only the applicationId, ``sf_dir``,
    table and part it was built for, and only while the table's input
    identity (mtime and length) is unchanged, so a rewritten table is
    rebuilt on its next use.  Invalidation rule: every call drops the
    entries of other applicationIds (their checkpointed DataFrames die
    with their SparkContext).

    ``checkpoint=True`` marks a DataFrame part: ``build(materialize)``
    is called with True and the result pinned by
    ``localCheckpoint(eager=True)``.  DATAYOURS_NO_INDEX_CACHE=1 (plan
    inspection, and the recompute reference in tests) bypasses such
    parts on read and write and returns ``build(False)``, the full
    lineage.  Other parts (lazy table relations, driver-side model
    state) are cached either way: ``build()`` takes no argument."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, table, part)
    ident = _input_identity(sf_dir, table)
    bypass = checkpoint and os.environ.get("DATAYOURS_NO_INDEX_CACHE") == "1"
    with _session_cache_lock:
        for k in [k for k in _SESSION_CACHE if k[0] != app_id]:
            del _SESSION_CACHE[k]
        hit = None if bypass else _SESSION_CACHE.get(key)
    if hit is not None and hit[0] == ident:
        return hit[1]
    if bypass:
        return build(False)
    value = build(True).localCheckpoint(eager=True) if checkpoint else build()
    with _session_cache_lock:
        _SESSION_CACHE[key] = (ident, value)
    return value


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; nano-timestamp columns gain a ``<col>_sec``
    BIGINT epoch-seconds companion (floor division, matching DuckDB's
    nanos→micros truncation then epoch extraction).  The resolved
    relation is session-cached: reuse skips the per-call footer/schema
    inference job (~0.1-0.2 s each, measured)."""

    def build() -> DataFrame:
        configure_session(spark)
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for col in NANO_TS_COLUMNS.get(name, []):
            if dict(df.dtypes)[col] == "bigint":
                # TIMESTAMP(NANOS) read as long nanos: integer floor
                # division (positive epochs) — exact, identical to
                # DuckDB's epoch_us(ts)//1e6 after its nanos→micros
                # truncation
                sec = F.expr(f"{col} div {NANOS_PER_SECOND}")
            else:
                # TIMESTAMP(MICROS) reads as timestamp_ntz; with the
                # session in UTC, unix_seconds over a plain-timestamp
                # cast is the same epoch
                sec = F.expr(f"unix_seconds(cast({col} as timestamp))")
            df = df.withColumn(f"{col}_sec", sec)
        return df

    return session_cached(spark, sf_dir, name, "relation", build)


def write_datapoints(datapoints: DataFrame, out_dir: str) -> None:
    """Materialize datapoints in the engine's canonical storage layout:
    parquet partitioned by ``date(ts)``, rows sorted by (path, ts_sec)
    within each file (SURVEY.md §1.8).

    At 100 TB this layout is what replaces Whisper's per-series ring files:
    a range fetch prunes to the covered date partitions, the path equality
    pushes into the parquet row-group index (sorted → tight min/max stats),
    and the ts range pushes as a plain column predicate.
    """
    (
        datapoints.withColumn("date", F.to_date(F.timestamp_seconds("ts_sec")))
        .repartition("date")
        .sortWithinPartitions("path", "ts_sec")
        .write.mode("overwrite")
        .partitionBy("date")
        .parquet(out_dir)
    )


def read_datapoints(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a canonical datapoints table written by `write_datapoints`."""
    return spark.read.parquet(out_dir)


def _observed_or_count(obs, key: str, df: DataFrame, timeout: float = 5.0):
    """Read an :class:`Observation` metric that should already be
    available (its action just completed), guarded so a hang cannot
    occur: ``Observation.get`` blocks indefinitely when the
    materializing action was not tracked as a SQL execution (ADVICE r15
    — classic-mode-only pattern, sensitive to ``localCheckpoint`` no
    longer running as a tracked action).  On timeout warn and fall back
    to ``df.count()``, where ``df`` holds the rows the metric counted
    (just-checkpointed blocks, say, or a write's input)."""
    import warnings

    box: dict = {}

    def _read() -> None:
        box["v"] = obs.get

    # daemon thread: a pathologically hung Observation.get can neither
    # block this caller nor interpreter exit
    t = threading.Thread(target=_read, daemon=True)
    t.start()
    t.join(timeout)
    if "v" in box:
        return int(box["v"][key])
    warnings.warn(
        f"Observation metric {key!r} not available after {timeout}s; "
        "falling back to df.count()",
        RuntimeWarning,
        stacklevel=2,
    )
    return int(df.count())


def compact_datapoints(spark: SparkSession, table_dir: str) -> int:
    """LWW compaction: collapse the append-only datapoints table to one row
    per (path, second) — the Delta-MERGE shape without Delta.

    Streaming ingest appends; last-write-wins is applied on read
    (max_by over ts_us).  This maintenance job folds that dedup into the
    storage so read amplification stays bounded: rewrite each date
    partition keeping only the winning row.  Runs per-partition (date is
    in the group key), so at 100 TB it schedules as independent partition
    rewrites.  Returns the number of rows after compaction.
    """
    # mergeSchema: a table mixing pre-batch_seq files with streaming-written
    # ones must surface batch_seq deterministically, not only when Spark
    # happens to sample a new footer (compaction then homogenizes the files)
    df = spark.read.option("mergeSchema", "true").parquet(table_dir)
    # streaming ingest writes the uncapped arrival epoch as batch_seq (the
    # ts_us addend is capped below 1e6 so it stays across-seconds-safe);
    # prefer it for the within-second "last write" decision.  Legacy files
    # written before batch_seq existed read as NULL in a mixed table —
    # coalesce to -1 so legacy rows order below any real batch (ts_us
    # breaks ties among legacy rows) instead of max_by picking a NULL key.
    if "batch_seq" in df.columns:
        order = F.struct(
            F.coalesce(F.col("batch_seq"), F.lit(-1)).alias("b"),
            F.col("ts_us").alias("u"),
        )
        keep = ["ts_us", "batch_seq"]
    else:
        order = F.col("ts_us")
        keep = ["ts_us"]
    winners = (
        df.groupBy("path", "ts_sec", "date")
        .agg(
            F.max_by("value", order).alias("value"),
            *[F.max(c).alias(c) for c in keep],
        )
        .select("path", "ts_sec", *keep, "value", "date")
    )
    tmp = table_dir.rstrip("/") + ".compacting"
    # the row count rides the compaction write instead of re-reading the
    # table it just wrote (listing, footers and a count job)
    obs = Observation()
    (
        winners.observe(obs, F.count(F.lit(1)).alias("n"))
        .repartition("date")
        .sortWithinPartitions("path", "ts_sec")
        .write.mode("overwrite")
        .partitionBy("date")
        .parquet(tmp)
    )
    # the fallback recounts the winners while the live table still holds
    # them, before the swap below retires it
    n_rows = _observed_or_count(obs, "n", winners)
    import shutil

    # crash-safe swap: rename the live table ASIDE first, then promote the
    # compacted copy, then drop the old data — every failure point leaves a
    # complete table at either `table_dir` or `table_dir + ".old"` (the old
    # rmtree-then-rename order had a window where the table vanished)
    old = table_dir.rstrip("/") + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(table_dir, old)
    os.rename(tmp, table_dir)
    shutil.rmtree(old)
    return n_rows


def expire_retention(table_dir: str, max_retention: int, now: int) -> list[str]:
    """Retention expiry as partition drops (T7, SURVEY §2.9).

    Whisper's ring buffer silently invalidates slots older than the archive's
    retention (`/root/reference/L_DataWhisper.lua:332, 539-541`); on the
    date-partitioned layout that is a metadata-only maintenance job: drop
    every `date=` partition that lies ENTIRELY before `now - max_retention`.
    The boundary date stays (it holds a mix); the fetch-side clamp
    (`fetch_grid(oldest=...)`) hides the not-yet-dropped tail, exactly like
    the reference's clamp-to-oldest.  Returns the dropped partition names.
    """
    import shutil
    from datetime import datetime, timezone

    cutoff = datetime.fromtimestamp(now - max_retention, tz=timezone.utc).strftime(
        "%Y-%m-%d"
    )
    dropped = []
    for entry in sorted(os.listdir(table_dir)):
        if not entry.startswith("date="):
            continue
        if entry.split("=", 1)[1] < cutoff:
            shutil.rmtree(os.path.join(table_dir, entry))
            dropped.append(entry)
    return dropped


def write_training_shards(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 64,
    stratum_width: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize a token-balanced training-data export: documents
    written as parquet PARTITIONED BY shard (one directory per shard — a
    data-loader worker reads exactly its partition), shards assigned by
    `functions.sampling.shard_balance` (stratified snake, no global
    sort).  Returns the per-shard manifest (shard, n_docs, total_tokens)
    read back FROM THE WRITTEN FILES — the manifest reports what landed
    on disk, not what the plan intended.

    Scale shape: assignment is one stratum-partitioned window; the write
    is one pass with dynamic partitions; the manifest readback aggregates
    only the written shard column + token counts (column-pruned scan).
    """
    from datayours_spark.functions.sampling import shard_balance

    assigned = shard_balance(
        docs, n_shards=n_shards, stratum_width=stratum_width,
        text_col=text_col, id_col=id_col,
    ).select(F.col("doc_id").alias(id_col), "n_tokens", "shard")
    out = docs.join(assigned, id_col)
    out.write.mode("overwrite").partitionBy("shard").parquet(out_dir)
    spark = docs.sparkSession
    return (
        spark.read.parquet(out_dir)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
