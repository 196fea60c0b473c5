"""User-defined record transform: the reference's UDTF/flatMap extension point.

Reproduces `user.run` (`/root/reference/L_DataUser.lua:23-64`): a per-record
hook invoked on every ingested (metric, value, time) triple that may DROP the
record, MUTATE it, or EMIT 0..N records (the reference iterates the returned
closure until nil — a flatMap contract).

Spark-first shape: the hook is a Python generator ``fn(path, value, ts) ->
iterable[(path, value, ts)]`` applied via ``mapInPandas`` — Arrow-batched,
one Python hop for the whole batch instead of per-record UDF calls.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame

HookFn = Callable[[str, float, int], Iterable[tuple[str, float, int]]]

HOOK_SCHEMA = "path string, ts_sec bigint, value double"


def apply_user_hook(datapoints: DataFrame, hook: HookFn) -> DataFrame:
    """flatMap `hook` over (path, ts_sec, value) records via mapInPandas."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out_path: list[str] = []
            out_ts: list[int] = []
            out_value: list[float] = []
            for path, ts, value in zip(pdf["path"], pdf["ts_sec"], pdf["value"]):
                for npath, nvalue, nts in hook(path, float(value), int(ts)):
                    out_path.append(npath)
                    out_ts.append(nts)
                    out_value.append(nvalue)
            yield pd.DataFrame(
                {"path": out_path, "ts_sec": out_ts, "value": out_value}
            )

    return datapoints.select("path", "ts_sec", "value").mapInPandas(
        run, schema=HOOK_SCHEMA
    )


def example_derive_hook(threshold: float) -> HookFn:
    """0..N emission demo: pass every record through and additionally emit a
    `<path>.high` marker record when the value crosses a threshold."""

    def hook(path: str, value: float, ts: int):
        yield (path, value, ts)
        if value > threshold:
            yield (path + ".high", value - threshold, ts)

    return hook
