"""SparkSession construction with the engine's standard configuration.

Scale notes: these settings are tuned for the local[N] test harness but the
shape is what a 1000-executor cluster wants too — AQE on (runtime shuffle
coalescing + skew-join splitting), UTC session timezone for deterministic
time arithmetic, Arrow for any Pandas-UDF hop.  `spark.sql.shuffle.partitions`
is a starting hint only; AQE coalesces to the right size at runtime.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession


def engine_conf() -> dict[str, str]:
    """The engine's session conf.  ``get_spark`` launches with all of it;
    ``configure_session`` sets the runtime-mutable part (every key not in
    ``LAUNCH_ONLY``) on a session the engine was handed."""
    return {
        "spark.sql.shuffle.partitions": os.environ.get(
            "DATAYOURS_SHUFFLE_PARTITIONS", "32"
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # Respect the advisory partition size when coalescing instead of
        # stopping at defaultParallelism (the Spark SQL tuning guide's
        # own recommendation for this knob).  parallelismFirst=true keeps
        # one shuffle partition per core no matter how small the data —
        # on the 17 MB sf fixtures that is 32 near-empty tasks per
        # exchange, pure scheduling (measured −49% across a rollup/
        # render/join bench sample when disabled); at cluster scale the
        # advisory size (64 MB) is exactly the 'fewer, larger reduce
        # partitions' shape guide §2.2 calls for.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # required to read TIMESTAMP(NANOS) testdata columns
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # push large IN lists to the parquet reader as real in-filters
        # (row-group min/max checked per value) instead of the default
        # >10-values fallback to a single [min,max] range, which is
        # vacuous for hash-valued probe sets spanning the key space —
        # the dedup maintainers' literal h probes (<=1024 values, h-
        # sorted compacted files) skip almost every row group this way
        "spark.sql.parquet.pushdown.inFilterThreshold": "2048",
    }


#: confs set only when the engine launches the session: static ones, and
#: ones a handed-in session keeps as its owner set them
LAUNCH_ONLY = frozenset({
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.ui.enabled",
    "spark.ui.showConsoleProgress",
})


def engine_builder(
    app_name: str = "datayours-spark", cpus: int | None = None
) -> SparkSession.Builder:
    """A ``local[cpus]`` session builder carrying :func:`engine_conf`
    (``cpus`` defaults to SPARK_GRAFT_CPUS, else all cores)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    return (
        SparkSession.builder.appName(app_name).master(master)
        .config(map=engine_conf())
    )


def get_spark(
    app_name: str = "datayours-spark",
    cpus: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    builder = engine_builder(app_name, cpus)
    if driver_memory:
        # only effective when this call launches the JVM (local mode: the
        # driver heap IS the executor heap)
        builder = builder.config("spark.driver.memory", driver_memory)
    return builder.getOrCreate()


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine confs to an externally-created
    session.

    The driver hands us its own SparkSession; these confs are all
    runtime-mutable so we can adopt it safely.  A plain-default session
    carries 200 shuffle partitions — far too many for these per-series
    workloads; AQE coalesces from the engine's hint upward."""
    for key, value in engine_conf().items():
        if key not in LAUNCH_ONLY:
            spark.conf.set(key, value)
    return spark


#: the one book of scoped conf flips: (session UUID, conf key) ->
#: [depth, value before the first entry]; the lock is held only while
#: flipping, never across the scope's body
_scope_lock = threading.Lock()
_scope_state: dict[tuple[str, str], list] = {}


@contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on ``spark`` for the ``with`` block, then restore.

    Key rule: scopes are counted per (JVM session, conf key).  The JVM
    session is identified by its ``sessionUUID``, which every Python
    wrapper of one session shares and which ``newSession()`` and
    Structured Streaming's per-query clone (the session a
    ``foreachBatch`` batch plans in) do not — a flip on one session is
    invisible in the others, so each must be scoped on its own.

    Restore rule: the first entry on a key saves its current value (or
    its unset state); the last exit on that key restores it, whatever
    the exit order and whichever thread exits.  While scopes overlap on
    a key, the latest entry's value holds.

    Contract: a flip is session-global.  Every query planned on the
    session while a scope is open — on any thread — sees the scoped
    value."""
    sid = spark._jsparkSession.sessionUUID()
    entered = []  # a key is booked only once its set succeeded
    try:
        with _scope_lock:
            for key, value in confs.items():
                state = _scope_state.get((sid, key))
                before = spark.conf.get(key, None) if state is None else None
                spark.conf.set(key, value)
                if state is None:
                    _scope_state[(sid, key)] = [1, before]
                else:
                    state[0] += 1
                entered.append(key)
        yield
    finally:
        with _scope_lock:
            for key in entered:
                state = _scope_state[(sid, key)]
                state[0] -= 1
                if state[0] == 0:
                    del _scope_state[(sid, key)]
                    if state[1] is None:
                        spark.conf.unset(key)
                    else:
                        spark.conf.set(key, state[1])
