"""Spark job counts of registry queries, per phase (scheduling pins).

Each query runs through ``bench.run_query`` under an enabled
``perfbench/spans.py`` tracer, the spans ``python bench.py --profile``
records: construct is ``fn(spark, sf)`` (cache builds, training collects,
guards, eager checkpoints), action is the noop write.  Job counts do not
depend on host speed, so these catch a query that starts scheduling more
jobs, which no single timing window can show.  The session is the suite's
``local[4]`` one with 4 shuffle partitions, over the sf0.001 fixtures.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
import bench
from datayours_spark import io
from perfbench.spans import Tracer

SF_DIR = io.DEFAULT_SF_DIR

#: (construct jobs, action jobs): both query families and the shapes of
#: the nine ``corpus_build`` benchmark queries
REGISTRY_JOBS = {
    "q_fetch_grid": (1, 5),
    "q_rollup_routed": (3, 6),
    "q_tpch_q3": (3, 4),
    "q_dedup_minhash": (4, 4),
    "q_ngram_jaccard": (7, 10),
    "q_ann_ivf": (10, 6),
    "q_semdedup": (10, 8),
    "q_index_summary": (3, 12),
    "q_ingest_pipeline": (4, 1),
    "q_pipeline_payload": (4, 6),
}


@pytest.fixture(scope="module")
def traced(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield Tracer(spark, enabled=True), entrymod.queries()
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("name", sorted(REGISTRY_JOBS))
def test_registry_query_job_counts(spark, traced, name):
    tracer, registry = traced
    # a cache built earlier in the suite would turn construct jobs into hits
    io._SESSION_CACHE.clear()
    construct, action = bench.run_query(tracer, spark, registry, name, SF_DIR)
    tracer.resolve()
    assert (construct["jobs"], action["jobs"]) == REGISTRY_JOBS[name]


def test_pipeline_queries_share_one_run(spark, traced):
    """The two ``pipeline_compose`` queries read one session-cached
    pipeline run: constructed second, either query runs no job, and the
    manifest read after the payload's action scans its materialized
    checkpoint in at most one job."""
    tracer, registry = traced
    io._SESSION_CACHE.clear()
    registry["q_ingest_pipeline"](spark, SF_DIR)
    payload, _ = bench.run_query(
        tracer, spark, registry, "q_pipeline_payload", SF_DIR
    )
    construct, action = bench.run_query(
        tracer, spark, registry, "q_ingest_pipeline", SF_DIR
    )
    tracer.resolve()
    assert payload["jobs"] == 0
    assert construct["jobs"] == 0
    assert action["jobs"] <= 1
