"""Spark job counts of /render and /metrics requests (scheduling pins).

Job counts do not depend on host speed, so this catches a serving path that
starts scanning the catalog again, re-derives the leaves, or adds a
distributed sort or join — regressions no single timing window can show.
The session is the suite's ``local[4]`` one with 4 shuffle partitions.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from datayours_spark.http import GraphiteApp
from datayours_spark.streaming.ingest import IngestPipeline

T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC

#: the first render on a fresh app: the catalog collect (LWW view aggregate
#: map, result) and the grid collect (FETCH_JOBS)
RENDER_JOBS = 5
#: the grid collect alone: LWW view aggregate map, slot aggregate map,
#: result — the dense grid rides the slot aggregate, so no broadcast job
FETCH_JOBS = 3

RENDER_QS = (
    f"target=a.b%7B1,2%7D.*&target=a.b1.c1&format=json"
    f"&from={T0}&until={T0 + 3_600}"
)


def _appended_store(spark, out_dir: str) -> None:
    """Two appended batches over the same 15 series: the second rewrites
    every point, so the LWW view has work to do."""
    schema = "path string, ts_sec bigint, ts_us bigint, batch_seq bigint, value double"
    for seq in (1, 2):
        rows = [
            (f"a.b{i % 5}.c{i % 3}", T0 + 60 * i, T0 * 10**6 + i, seq, float(i * seq))
            for i in range(200)
        ]
        (
            spark.createDataFrame(rows, schema)
            .withColumn("date", F.to_date(F.timestamp_seconds("ts_sec")))
            .write.mode("append")
            .partitionBy("date")
            .parquet(f"{out_dir}/datapoints")
        )


def _datapoints(spark, tmp_path):
    _appended_store(spark, str(tmp_path / "out"))
    pipe = IngestPipeline(
        spark=spark, input_dir=str(tmp_path / "in"),
        output_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt"),
    )
    return pipe.datapoints()


_calls = itertools.count()


def _call(spark, app, path: str, query: str) -> tuple[str, str, int]:
    """(status, body, jobs) of one GET through the WSGI callable, the jobs
    counted in a job group of their own (a group name never repeats, so
    no other call's jobs are counted)."""
    sc = spark.sparkContext
    group = f"render-jobs-{next(_calls)}"
    environ = {"REQUEST_METHOD": "GET", "PATH_INFO": path, "QUERY_STRING": query}
    old_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    sc.setJobGroup(group, f"GET {path}")
    try:
        status = []
        body = b"".join(app(environ, lambda s, h: status.append(s))).decode()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.shuffle.partitions", old_partitions)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    return status[0], body, len(jobs)


def test_json_render_job_count(spark, tmp_path):
    app = GraphiteApp(spark, _datapoints(spark, tmp_path), step=60, now=T0 + 86_400)
    status, body, jobs = _call(spark, app, "/render", RENDER_QS)

    assert status == "200 OK"
    # a.b1.c1 matches both targets and is served once: 6 series x 61 slots
    assert body.count('"target"') == 6
    assert body.count('"target": "a.b1.c1"') == 1
    assert jobs == RENDER_JOBS

    # the catalog is resolved: a second render runs the fetch alone, and
    # the /metrics endpoints run nothing
    assert _call(spark, app, "/render", RENDER_QS)[1:] == (body, FETCH_JOBS)
    for path, query in (
        ("/metrics/find", "query=a.b1.*"),
        ("/metrics/expand", "query=a.b1.*&leavesOnly=1"),
        ("/metrics/index.json", ""),
    ):
        status, body, jobs = _call(spark, app, path, query)
        assert status == "200 OK" and body.count("a.b1.c") == 3, (path, body)
        assert jobs == 0, path

