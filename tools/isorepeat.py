#!/usr/bin/env python
"""Isolated-repeat timing for ONE bench query — the protocol that
dissolved the r13 `q_index_summary` weak flag and the r14
`streaming_rollup` drift (MEASURED_LEDGER_2026-10-17.md): a FRESH
SparkSession with the standard bench warm-ups, the query run N times
back-to-back, CPU probes immediately before and after the whole block.
Separates real per-query cost (the steady-state tail) from
session-history effects (which only long mixed-bench sessions carry)
and host degradation (which the probes expose).

Usage:
  python tools/isorepeat.py q_fetch_grid [N]
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/isorepeat.py ...

Prints one JSON line: {"query": ..., "probe_before": s, "repeats":
[s, ...], "probe_after": s, "best": s, "steady_min"/"steady_max": s
(over repeats[1:], i.e. excluding the cold first run), "sf_dir": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
import bench
from datayours_spark.session import get_spark


def main() -> None:
    name = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    sf_dir = bench.SF_DIR
    registry = entrymod.queries()
    fn = registry[name]
    probe_before = bench._cpu_probe_sec()
    spark = get_spark("datayours-isorepeat")
    registry["q_tally_minmax"](spark, sf_dir).count()
    registry["q_text_stats"](spark, sf_dir).count()
    bench._warm_streaming(spark)
    bench._warm_arrow(spark)
    repeats = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        repeats.append(round(time.perf_counter() - t0, 3))
    probe_after = bench._cpu_probe_sec()
    spark.stop()
    steady = repeats[1:] or repeats
    print(
        json.dumps(
            {
                "query": name,
                "probe_before": probe_before,
                "repeats": repeats,
                "probe_after": probe_after,
                "best": min(repeats),
                "steady_min": min(steady),
                "steady_max": max(steady),
                "sf_dir": sf_dir,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
