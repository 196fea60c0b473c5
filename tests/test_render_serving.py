"""The served /render path over an appended store: the dense grid unioned
into the LWW slot aggregate against the left-join form it replaced, and an
app serving the one snapshot its datapoints relation listed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datayours_spark import api
from datayours_spark.http import GraphiteApp
from datayours_spark.operators.align import apply_null_policy
from datayours_spark.operators.fetch import lww_slots, slot_sequence
from datayours_spark.streaming.ingest import IngestPipeline

T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC
H = 3_600
SCHEMA = "path string, ts_sec bigint, ts_us bigint, batch_seq bigint, value double"


def _append(spark, out: str, seq: int, rows) -> None:
    """One ingest batch: (path, ts_sec, value) rows at batch_seq ``seq``,
    ts_us counting down, so only batch_seq can make a rewrite win."""
    data = [
        (p, t, (T0 + 10 * H) * 10**6 - 1_000 * seq + k, seq, v)
        for k, (p, t, v) in enumerate(rows)
    ]
    (
        spark.createDataFrame(data, SCHEMA)
        .withColumn("date", F.to_date(F.timestamp_seconds("ts_sec")))
        .write.mode("append")
        .partitionBy("date")
        .parquet(f"{out}/datapoints")
    )


def _pipe(spark, tmp_path) -> IngestPipeline:
    return IngestPipeline(
        spark=spark, input_dir=str(tmp_path / "in"),
        output_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt"),
    )


def _joined_grid(spark, datapoints, paths, frm, until, step, policy):
    """The left-join densification: the grid literal joined to the slots."""
    lo, hi = frm - frm % step, until - until % step
    slots = lww_slots(
        datapoints.where(
            F.col("path").isin(paths) & F.col("ts_sec").between(lo, hi + step - 1)
        ),
        step,
    )
    grid = spark.range(1).select(F.explode(F.lit(paths)).alias("path")).select(
        "path", F.explode(slot_sequence(frm, until, step)).alias("slot")
    )
    out = grid.join(slots, ["path", "slot"], "left")
    return apply_null_policy(out, policy, partition_cols=["path"]).select(
        "path", "slot", "value"
    )


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("densify")
    out = str(tmp_path / "out")
    _append(spark, out, 1, [
        ("s.a", T0 + 10, 1.0),
        ("s.a", T0 + H + 5, 2.0),       # the slot's only point ...
        ("s.a", T0 + 4 * H + 1, 4.0),
        ("s.a", T0 + 4 * H + 100, 5.0),  # later in the slot: wins
        ("s.b", T0 + 10 * H, 9.0),       # matched leaf, no point in range
        ("s.c", T0 + 2 * H, 3.0),
    ])
    _append(spark, out, 2, [("s.a", T0 + H + 5, 20.0)])  # ... rewritten
    return _pipe(spark, tmp_path).datapoints()


class TestDenseGridInAggregate:
    FRM, UNTIL = T0, T0 + 5 * H
    PATHS = ["s.a", "s.b", "s.c"]

    @staticmethod
    def _rows(df):
        return sorted((r["path"], r["slot"], r["value"]) for r in df.collect())

    @pytest.mark.parametrize("policy", ["null", "zero", "hold", "connected"])
    def test_matches_left_join(self, spark, store, policy):
        grid = api.render_grid(
            spark, store, "s.*", self.FRM, self.UNTIL, step=H, null_policy=policy,
        )
        assert "Join" not in grid._jdf.queryExecution().executedPlan().toString()
        got = self._rows(grid)
        assert got == self._rows(
            _joined_grid(spark, store, self.PATHS, self.FRM, self.UNTIL, H, policy)
        )
        values = {(p, s): v for p, s, v in got}
        assert len(got) == 3 * 6
        assert values[("s.a", T0 + H)] == 20.0  # the later batch's rewrite
        assert values[("s.a", T0 + 4 * H)] == 5.0
        if policy in ("null", "hold", "connected"):
            assert all(values[("s.b", T0 + k * H)] is None for k in range(6))

    def test_coarsened_step(self, spark, store):
        # 3 leaves x 6 hourly slots exceed 9 points: the step doubles
        grid = api.render_grid(
            spark, store, ["s.a", "s.{b,c}"], self.FRM, self.UNTIL, step=H,
            null_policy="hold", max_points=9, catalog=self.PATHS,
        )
        step = api.coarsen_step(H, self.FRM, self.UNTIL, 3, 9)
        assert step == 2 * H
        assert self._rows(grid) == self._rows(
            _joined_grid(spark, store, self.PATHS, self.FRM, self.UNTIL, step, "hold")
        )


def test_app_serves_its_snapshot(spark, tmp_path):
    """An app built before an append keeps serving the catalog and the data
    its relation listed; a new app sees the new series and the rewrite."""
    out = str(tmp_path / "out")
    pipe = _pipe(spark, tmp_path)
    _append(spark, out, 1, [("a.x", T0 + 10, 1.0)])
    old = GraphiteApp(spark, pipe.datapoints(), step=H, now=T0 + H)
    _append(spark, out, 2, [("a.x", T0 + 10, 2.0), ("a.y", T0 + 10, 3.0)])
    new = GraphiteApp(spark, pipe.datapoints(), step=H, now=T0 + H)

    def get(app, path, query):
        environ = {"REQUEST_METHOD": "GET", "PATH_INFO": path, "QUERY_STRING": query}
        return b"".join(app(environ, lambda s, h: None)).decode()

    render = f"target=a.*&format=csv&from={T0}&until={T0}"
    assert get(old, "/metrics/index.json", "") == '["a.x"]'
    assert get(old, "/render", render) == "a.x,2024-01-01 00:00:00,1"
    assert get(new, "/metrics/index.json", "") == '["a.x","a.y"]'
    assert get(new, "/render", render) == (
        "a.x,2024-01-01 00:00:00,2\na.y,2024-01-01 00:00:00,3"
    )
