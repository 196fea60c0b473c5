"""Contract tests for bench.py's driver-facing stdout line.

The driver records only the LAST 2000 characters of bench.py's stdout
and parses the JSON line out of that window.  BENCH_r05/BENCH_r06 were
both lost (``parsed: null``) because the pretty-printed per-query map
outgrew the window and the line head — with the metric and the headline
total — was clipped off.  These tests pin the line format so that can't
silently recur.
"""

import json
import os

import bench


def _worst_case_line() -> str:
    # worst realistic widths: every query at a 3-digit-integer-part
    # two-decimal value (no headline query takes 100+ s at sf0.1; if one
    # ever does, the bench has bigger problems than line length)
    timings = {n: 99.99 for n in bench.BENCH_QUERIES}
    return bench.bench_line(9999.99, timings, 0.1)


def test_line_fits_driver_tail_window():
    line = _worst_case_line()
    # the line plus its trailing newline must sit fully inside the
    # 2000-char tail; keep real margin for a few future query additions
    assert len(line) <= 1900, (
        f"bench line is {len(line)} chars; the driver's 2000-char stdout "
        "tail will clip it — shorten names/precision or trim "
        "BENCH_QUERIES before adding more queries"
    )


def test_line_parses_with_required_keys():
    d = json.loads(_worst_case_line())
    assert set(d) == {"metric", "value", "unit", "queries", "sf"}
    assert d["unit"] == "sec"
    # printed keys are the query names sans the uniform q_ prefix
    assert set(d["queries"]) == {
        n.removeprefix("q_") for n in bench.BENCH_QUERIES
    }
    # the prefix-strip must stay collision-free
    assert len(d["queries"]) == len(bench.BENCH_QUERIES)


def test_bench_queries_exist_in_registry():
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    ghosts = [n for n in bench.BENCH_QUERIES if n not in q]
    assert ghosts == [], f"bench names unknown queries: {ghosts}"


def test_committed_profile_covers_bench_queries():
    path = os.path.join(os.path.dirname(bench.__file__), "BENCH_PROFILE.json")
    with open(path) as fh:
        profiled = {r["query"] for r in json.load(fh)["queries"]}
    missing = [n for n in bench.BENCH_QUERIES if n not in profiled]
    assert missing == [], f"BENCH_PROFILE.json has no record for: {missing}"


def test_no_program_file_hard_codes_the_checkout():
    # tools write their scratch data under their own checkout; a
    # literal absolute checkout path writes into whichever checkout
    # happens to sit there instead
    root = os.path.dirname(os.path.abspath(bench.__file__))
    files = [os.path.join(root, "bench.py"), os.path.join(root, "__spark_entry__.py")]
    for sub in ("tools", "perfbench", "datayours_spark"):
        for dirpath, _, names in os.walk(os.path.join(root, sub)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    offenders = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            if root in fh.read():
                offenders.append(os.path.relpath(path, root))
    assert offenders == [], f"hard-coded checkout path in: {offenders}"
