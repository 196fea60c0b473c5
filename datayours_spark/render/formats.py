"""Graphite render output formats (JSON / CSV), byte-compatible.

Reproduces (`/root/reference/graphite_cgi.lua:318-371`):

- **CSV**: one line per grid point: ``series,YYYY-MM-DD HH:MM:SS,value``
  with missing values rendered as the text ``nil`` (Lua `tostring(nil)`);
  timestamps formatted in UTC here (the reference uses server-local time).
- **JSON**: the Graphite render document
  ``[{"target": path, "datapoints": [[v, t], ...]}, ...]`` with nulls as
  ``null``, laid out line-by-line exactly like the reference's emitter.
- Numbers render via ``%.14g`` (Lua `tostring` number formatting).

The emitters take a fetched grid DataFrame (path, slot, value) — a SMALL
render-sized result (bounded by points-per-query, reference `maxpoints`
style) — so assembling the response text driver-side matches the reference's
architecture; the heavy lifting stayed distributed in fetch/rollup.
`render_csv_df` is the fully-distributed variant for bulk export sinks.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: the reference's JSON representation of infinity ("looks like infinity
#: symbols on their side", `L_DataLibrary.lua:367`)
JSON_HUGE = "8.88e888"


def _num(v: float | None) -> str:
    if v is None:
        return "nil"
    s = f"{v:.14g}"
    return s


def json_number(v: float) -> str:
    """The reference's JSON number quirks (`L_DataLibrary.lua:390-392`):
    NaN → null, +inf → 8.88e888, -inf → -8.88e888."""
    import math

    if math.isnan(v):
        return "null"
    if v == math.inf:
        return JSON_HUGE
    if v == -math.inf:
        return "-" + JSON_HUGE
    return _num(v)


def _date(t: int) -> str:
    return datetime.fromtimestamp(t, tz=timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def render_csv(grid_rows: list[tuple[str, int, float | None]]) -> str:
    """``series,datetime,value`` lines (`graphite_cgi.lua:318-338`)."""
    return "\n".join(
        f"{path},{_date(t)},{_num(v)}" for path, t, v in grid_rows
    )


def render_json(series: list[tuple[str, list[tuple[int, float | None]]]]) -> str:
    """The reference's line-oriented JSON emitter (`graphite_cgi.lua:340-371`).

    series = [(target_path, [(t, v), ...]), ...]
    """
    data: list[str] = ["[", ""]
    for path, points in series:
        data.append("{")
        data.append(f'  "target": "{path}",')
        data.append('  "datapoints": [')
        n = len(points)
        for i, (t, v) in enumerate(points, start=1):
            comma = "" if i == n else ","
            value = "null" if v is None else json_number(v)
            data.append(f"  [{value}, {t}]{comma}")
        data.append("  ]")
        data.append("}")
        data.append(",")
    data[-1] = "]"  # overwrite final comma (reference quirk: empty → "[\n]")
    return "\n".join(data)


def render_csv_df(grid: DataFrame) -> DataFrame:
    """Distributed CSV rows for bulk sinks: (line) column, nulls → 'nil'."""
    value_text = F.when(F.col("value").isNull(), F.lit("nil")).otherwise(
        # shortest-repr cast, with the trailing ".0" trimmed to match Lua's
        # %.14g integer rendering ("2.0" → "2")
        F.regexp_replace(F.col("value").cast("string"), r"\.0$", "")
    )
    return grid.select(
        F.concat_ws(
            ",",
            F.col("path"),
            F.date_format(F.timestamp_seconds("slot"), "yyyy-MM-dd HH:mm:ss"),
            value_text,
        ).alias("line")
    )


SYSLOG_USER_INFO = 14  # facility=user, severity=info (`L_DataDaemon.lua:251`)


def syslog_line(
    message: str, host: str, tag: str = "DataDaemon", when: int | None = None
) -> str:
    """S6: the daemon's syslog datagram format
    (`/root/reference/L_DataDaemon.lua:246-259`):
    ``<14>%b %d %H:%M:%S HOST tag: message\\n``.

    A sink wanting syslog echo formats each record with this and hands the
    lines to any text sink (`foreachBatch` → socket/file).
    """
    from datetime import datetime, timezone

    ts = datetime.now(tz=timezone.utc) if when is None else datetime.fromtimestamp(
        when, tz=timezone.utc
    )
    stamp = ts.strftime("%b %d %H:%M:%S")
    return f"<{SYSLOG_USER_INFO}>{stamp} {host} {tag}: {message}\n"


def find_treejson(nodes: list[tuple[str, str, bool]]) -> list[dict]:
    """/metrics/find default (treejson) node shape
    (`graphite_cgi.lua:225-234`): Grafana's tree browser contract.

    nodes = [(path, name, is_leaf), ...] from operators.catalog.find_nodes.
    """
    return [
        {
            "allowChildren": 0 if is_leaf else 1,
            "expandable": 0 if is_leaf else 1,
            "leaf": 1 if is_leaf else 0,
            "id": path,
            "text": name,
            "context": {},  # required by consumers (reference quirk kept)
        }
        for path, name, is_leaf in nodes
    ]


def find_completer(nodes: list[tuple[str, str, bool]]) -> dict:
    """/metrics/find?format=completer shape (`graphite_cgi.lua:236-242,
    262`): branches get a trailing dot, wrapped in a `metrics` object."""
    return {
        "metrics": [
            {
                "is_leaf": 1 if is_leaf else 0,
                "path": path if is_leaf else path + ".",
                "name": name,
            }
            for path, name, is_leaf in nodes
        ]
    }


def fetched_to_series(grid: DataFrame) -> list[tuple[str, list[tuple[int, float | None]]]]:
    """Collect a (path, slot, value) grid into render_json input, ordered
    by (path, slot) on the driver: the grid is render-sized, and Python's
    str order is Spark's binary UTF-8 string order, so no distributed sort
    runs."""
    out: dict[str, list[tuple[int, float | None]]] = {}
    for r in sorted(grid.collect(), key=lambda r: (r["path"], r["slot"])):
        out.setdefault(r["path"], []).append((r["slot"], r["value"]))
    return list(out.items())
