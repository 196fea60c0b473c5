"""Whisper fetch semantics: slot quantization, last-write-wins, dense grid.

Reproduces (`/root/reference/L_DataWhisper.lua:346-354, 356-411, 525-552`):

- **Slot write (LWW)**: a point overwrites its quantized slot; the last write
  wins per (path, slot) — `update` seeks to ``t - t % spp`` and overwrites.
- **Fetch** materializes EVERY slot in ``[quantize(from), quantize(until)]``
  inclusive at the archive's resolution; slots with no matching point are
  null (`valueList[n] = nil`).
- **Clamping** (`L_DataWhisper.lua:535-542`): from>now → nothing;
  until<oldest → nothing; else from clamped to oldest, until clamped to now.

Scale notes:
- The LWW aggregation is one hash aggregate keyed (path, slot) — map-side
  partial aggregation applies because ``max_by`` is a declarative aggregate.
- The dense grid is `sequence()`+`explode` — generated, never collected.
- A single-series fetch pushes `path = X AND ts_sec BETWEEN a AND b` into
  the parquet scan (partition pruning on a date-partitioned layout).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def quantize(col: Column | str, step: int) -> Column:
    """``t - (t % step)`` (`L_DataWhisper.lua:331`)."""
    c = (F.col(col) if isinstance(col, str) else col).cast("long")
    return (c - (c % F.lit(step))).alias("slot")


def lww_slots(datapoints: DataFrame, step: int, order_col: str = "ts_us") -> DataFrame:
    """Quantize to `step` slots with last-write-wins per (path, slot).

    Input: (path, ts_sec, <order_col>, value). Output: (path, slot, value)
    where value is the point with the greatest `order_col` in the slot
    (`L_DataWhisper.lua:346-354` — later writes overwrite the slot).  The
    order column DEFINES "last": pass an arrival sequence for the reference's
    arrival-order overwrite semantics, or an event-time key (the default
    ts_us) for event-time-latest semantics.
    """
    return (
        datapoints.groupBy("path", quantize("ts_sec", step).alias("slot"))
        .agg(F.max_by("value", order_col).alias("value"))
    )


def slot_sequence(from_time: int, until_time: int, step: int) -> Column:
    """The slots [quantize(from), quantize(until)] inclusive, as one
    array column (`explode` it for one row per slot)."""
    lo = from_time - from_time % step
    hi = until_time - until_time % step
    return F.sequence(
        F.lit(lo).cast("long"), F.lit(hi).cast("long"), F.lit(step).cast("long")
    )


def time_grid(
    spark: SparkSession, from_time: int, until_time: int, step: int
) -> DataFrame:
    """Dense slot grid [quantize(from), quantize(until)] inclusive.

    Generated with `sequence`+`explode` — stays on executors, no driver loop.
    """
    return spark.range(1).select(
        F.explode(slot_sequence(from_time, until_time, step)).alias("slot")
    )


def fetch_grid(
    spark: SparkSession,
    datapoints: DataFrame,
    path: str,
    from_time: int,
    until_time: int,
    step: int,
    now: int | None = None,
    oldest: int | None = None,
) -> DataFrame:
    """Fetch one series as a dense (slot, value-with-nulls) grid.

    Mirrors `whisper.fetch` (`L_DataWhisper.lua:525-552`): clamp the range to
    [oldest, now] (when provided), quantize bounds to the archive step, emit
    every slot, null where no point landed.  Returns (slot, value) ordered
    by slot.
    """
    if now is not None and from_time > now:
        return _empty_grid(spark)
    if oldest is not None and until_time < oldest:
        return _empty_grid(spark)
    if oldest is not None and from_time < oldest:
        from_time = oldest
    if now is not None and until_time > now:
        until_time = now

    # the filter spans WHOLE slots: a point anywhere inside the last slot
    # (even past until_time) defines that slot's value, because the reference
    # quantizes first and then reads the slot (`L_DataWhisper.lua:361-373`)
    lo = from_time - from_time % step
    hi = until_time - until_time % step
    series = datapoints.where(F.col("path") == path).where(
        F.col("ts_sec").between(lo, hi + step - 1)
    )
    if "date" in datapoints.columns:
        # canonical date-partitioned layout (io.write_datapoints): derive the
        # partition predicate from the time range so the scan prunes to the
        # covered dates — the Spark replacement for Whisper's ring-offset
        # arithmetic (`L_DataWhisper.lua:339-344`)
        series = series.where(
            F.col("date").between(
                F.to_date(F.timestamp_seconds(F.lit(lo))),
                F.to_date(F.timestamp_seconds(F.lit(hi + step - 1))),
            )
        )
    slots = lww_slots(series, step).drop("path")
    grid = time_grid(spark, from_time, until_time, step)
    # single-series slot table is small → broadcast it to avoid shuffling the grid
    return grid.join(F.broadcast(slots), "slot", "left").orderBy("slot")


def _empty_grid(spark: SparkSession) -> DataFrame:
    return (
        spark.range(0)
        .select(F.col("id").alias("slot"), F.lit(None).cast("double").alias("value"))
    )
