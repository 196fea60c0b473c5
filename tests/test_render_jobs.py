"""Spark job count of one /render request (a scheduling pin).

Job counts do not depend on host speed, so this catches a render path that
starts scanning the catalog again, re-derives the leaves, or adds a
distributed sort — regressions no single timing window can show.  The
session is the suite's ``local[4]`` one with 4 shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datayours_spark.http import GraphiteApp
from datayours_spark.streaming.ingest import IngestPipeline

T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC

#: the leaf collect (catalog shuffle map + result) and the grid collect (LWW
#: view aggregate map, slot aggregate map, slot broadcast, result)
RENDER_JOBS = 6


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


def test_json_render_job_count(spark, tmp_path):
    _appended_store(spark, str(tmp_path / "out"))
    pipe = IngestPipeline(
        spark=spark, input_dir=str(tmp_path / "in"),
        output_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt"),
    )
    app = GraphiteApp(spark, pipe.datapoints(), step=60, now=T0 + 86_400)
    environ = {
        "REQUEST_METHOD": "GET",
        "PATH_INFO": "/render",
        "QUERY_STRING": (
            f"target=a.b%7B1,2%7D.*&target=a.b1.c1&format=json"
            f"&from={T0}&until={T0 + 3_600}"
        ),
    }
    sc = spark.sparkContext
    old_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    sc.setJobGroup("render-job-count", "one /render request")
    try:
        status = []
        body = b"".join(app(environ, lambda s, h: status.append(s))).decode()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.shuffle.partitions", old_partitions)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    jobs = sc.statusTracker().getJobIdsForGroup("render-job-count")

    assert status == ["200 OK"]
    # a.b1.c1 matches both targets and is served once: 6 series x 61 slots
    assert body.count('"target"') == 6
    assert body.count('"target": "a.b1.c1"') == 1
    assert len(jobs) == RENDER_JOBS, sorted(jobs)
