"""Output checks: every engine answer is compared with an independent one.

- `/render`, `/metrics/find` and `/metrics/expand` bodies against a
  pure-Python last-write-wins (LWW) grid over the points the generator
  says were admitted (`LiveState`);
- the final ingest state (`datapoints()`, `series_stats()`) against the
  same expected set;
- registry query results against `oracle_sql()` in DuckDB, normalized by
  `tools/selfcheck.py`'s `normalize`.

A check returns an error string, or None when the output is right.
"""

from __future__ import annotations

import bisect
import fnmatch
import json
import math
from datetime import datetime, timezone

#: api.render's default points-per-render bound (`max_points`)
MAX_POINTS = 10_080


def expand_braces(pattern: str) -> list[str]:
    """``a.{b,c}.d`` → [a.b.d, a.c.d] (Graphite's brace alternation)."""
    lo = pattern.find("{")
    if lo < 0:
        return [pattern]
    hi = pattern.index("}", lo)
    return [
        x
        for alt in pattern[lo + 1 : hi].split(",")
        for x in expand_braces(pattern[:lo] + alt + pattern[hi + 1 :])
    ]


def match_leaves(paths, pattern: str) -> list[str]:
    """Leaf paths matched by a Graphite glob: per dot level, ``*`` and
    ``?`` never cross a dot."""
    out = set()
    for alt in expand_braces(pattern):
        levels = alt.split(".")
        for p in paths:
            parts = p.split(".")
            if len(parts) == len(levels) and all(
                fnmatch.fnmatchcase(a, b) for a, b in zip(parts, levels)
            ):
                out.add(p)
    return sorted(out)


def coarsened_step(step: int, frm: int, until: int, n_leaves: int) -> int:
    """The step a render ends at once leaves × slots must fit MAX_POINTS."""

    def n_slots(s: int) -> int:
        return until // s - frm // s + 1

    while n_leaves * n_slots(step) > MAX_POINTS:
        step *= max(2, math.ceil(n_leaves * n_slots(step) / MAX_POINTS))
    return step


class LiveState:
    """The expected store: (path, ts) → value after cross-batch LWW, plus
    the per-series stats the ingest path must maintain."""

    def __init__(self):
        self.points: dict[str, dict[int, float]] = {}
        self.stats: dict[str, list[int]] = {}  # path → [min_ts, max_ts, n]
        self._sorted: dict[str, list[int]] = {}

    def apply(self, admitted: dict) -> None:
        """Merge one batch (already LWW-resolved within the batch)."""
        for (path, ts), value in admitted.items():
            self.points.setdefault(path, {})[ts] = value
            st = self.stats.setdefault(path, [ts, ts, 0])
            st[0], st[1], st[2] = min(st[0], ts), max(st[1], ts), st[2] + 1
            self._sorted.pop(path, None)

    def catalog(self) -> list[str]:
        return sorted(self.points)

    def grid(self, paths: list[str], frm: int, until: int, step: int):
        """[(path, [(slot, value|None), ...])] — each slot holds the point
        with the latest second in it, as `lww_slots` over ts_us."""
        lo, hi = frm - frm % step, until - until % step
        out = []
        for p in paths:
            pts = self.points[p]
            ts = self._sorted.get(p)
            if ts is None:
                ts = self._sorted[p] = sorted(pts)
            series = []
            for slot in range(lo, hi + 1, step):
                i = bisect.bisect_left(ts, slot + step) - 1
                hit = i >= 0 and ts[i] >= slot
                series.append((slot, pts[ts[i]] if hit else None))
            out.append((p, series))
        return out

    def render(self, target: str, frm: int, until: int, step: int):
        paths = match_leaves(self.points, target)
        step = coarsened_step(step, frm, until, len(paths))
        return self.grid(paths, frm, until, step)


def _num(v: float | None) -> str:
    return "nil" if v is None else f"{v:.14g}"


def check_render(body: str, fmt: str, expected) -> str | None:
    if fmt == "json":
        try:
            got = [
                (s["target"], [(t, v) for v, t in s["datapoints"]])
                for s in json.loads(body)
            ]
        except (ValueError, KeyError, TypeError) as e:
            return f"render json unparsable: {e}"
        if got != expected:
            return _first_diff(got, expected)
        return None
    want = "\n".join(
        f"{p},{datetime.fromtimestamp(t, timezone.utc):%Y-%m-%d %H:%M:%S},{_num(v)}"
        for p, series in expected
        for t, v in series
    )
    if body != want:
        got_lines, want_lines = body.split("\n"), want.split("\n")
        for i, (a, b) in enumerate(zip(got_lines, want_lines)):
            if a != b:
                return f"render csv line {i}: got {a!r} want {b!r}"
        return f"render csv: {len(got_lines)} lines, want {len(want_lines)}"
    return None


def _first_diff(got, want) -> str:
    if [p for p, _ in got] != [p for p, _ in want]:
        return f"render series {[p for p, _ in got]} want {[p for p, _ in want]}"
    for (p, a), (_, b) in zip(got, want):
        if a != b:
            for x, y in zip(a, b):
                if x != y:
                    return f"render {p} slot {x} want {y}"
            return f"render {p}: {len(a)} slots, want {len(b)}"
    return "render mismatch"


def check_find(body: str, kind: str, paths: list[str], target: str) -> str | None:
    """/metrics/find (treejson) and /metrics/expand over an all-leaf tree
    of equal-depth paths."""
    want = match_leaves(paths, target)
    try:
        doc = json.loads(body)
        if kind == "find":
            got = [n["id"] for n in doc]
            leaves = all(n["leaf"] == 1 for n in doc)
        else:
            got, leaves = doc["results"], True
    except (ValueError, KeyError, TypeError) as e:
        return f"{kind} unparsable: {e}"
    if got != want or not leaves:
        return f"{kind} {target}: got {got[:4]}… want {want[:4]}…"
    return None


def check_store(state: LiveState, rows, stats_rows) -> str | None:
    """Final `datapoints()` and `series_stats()` against the expected set."""
    got = {(r["path"], r["ts_sec"]): r["value"] for r in rows}
    want = {(p, t): v for p, pts in state.points.items() for t, v in pts.items()}
    if len(rows) != len(got):
        return f"datapoints: {len(rows) - len(got)} duplicate (path, second) rows"
    if got != want:
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])[:3]
        return f"datapoints: missing {missing} extra {extra} wrong {wrong}"
    got_stats = {r["path"]: [r["min_ts"], r["max_ts"], r["n"]] for r in stats_rows}
    if got_stats != state.stats:
        bad = sorted(
            p for p in set(got_stats) | set(state.stats)
            if got_stats.get(p) != state.stats.get(p)
        )[:3]
        return f"series_stats differ for {bad}"
    return None


class CorpusOracle:
    """DuckDB over the generated corpus directory, checked with
    tools/selfcheck.py's normalization (imported, not copied)."""

    def __init__(self, corpus_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self._want: dict[str, tuple] = {}
        for t in ("documents", "embeddings"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'"
            )

    def check(self, sql: str, columns: list[str], rows) -> str | None:
        from selfcheck import normalize

        if sql not in self._want:  # every pass reads the same inputs
            res = self.con.execute(sql)
            self._want[sql] = ([d[0] for d in res.description], res.fetchall())
        ocols, orows = self._want[sql]
        if sorted(columns) != sorted(ocols):
            return f"columns {sorted(columns)} want {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows, want {len(orows)}"
        if normalize(rows, columns) != normalize(orows, ocols):
            return "values differ from the DuckDB oracle"
        return None

    def close(self) -> None:
        self.con.close()
