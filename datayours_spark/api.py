"""The engine's user-facing query API: Graphite render/metrics semantics.

This is the §3.2 pipeline (`/root/reference/graphite_cgi.lua:383-393,
470-503`) as a library surface — what a DataYours/graphite-api user calls
instead of the HTTP endpoints:

- `render(targets, from_, until_, format)` — resolve times (relative with
  the 0.998 shrink, ISO incl. ordinal dates, epoch ints; defaults = last
  24 h), glob/brace-find every matching leaf, fetch dense per-series grids,
  apply the null policy, emit Graphite JSON/CSV text or the raw grid
  DataFrame.
- `find(query)` / `expand(query)` / `index()` — the /metrics endpoints.

Scale notes: one distributed plan serves ALL matched series (the reference
loops per leaf).  The render entry points take a ``catalog`` (see
:func:`catalog_paths`): a path list is matched on the driver with no Spark
job, a DataFrame with a ``path`` column (e.g. the ingest-maintained
``series_stats()``) is collected once, and ``None`` keeps the distributed
``SELECT DISTINCT path`` over the datapoints.  A `GraphiteApp` resolves its
catalog once and passes the list to every render.  A render resolves its
matched leaf list ONCE — with ``catalog=None`` one filter over the series
catalog, at most ``max_points + 1`` rows — and never scans the catalog
again: the cap arithmetic reads the list's length, and one ``spark.sql``
text with the list in it as literals builds the rest: the fetch filters
the datapoints on ``path IN (list)`` plus the ts range (both reach the
parquet scan), and the dense leaves × slots grid is unioned into the LWW
slot aggregate as null-ordered rows, so it densifies the output without a
join.  The result is bounded by ``max_points`` like the reference's
points-per-query cap, so it is collected unsorted and ordered on the
driver, where the render text is assembled exactly as CGI response
assembly was.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import get_lit_sql_str

from datayours_spark.kernel.timeparse import default_render_range, parse_time
from datayours_spark.operators.align import apply_null_policy
from datayours_spark.operators.catalog import (
    collect_leaf_paths,
    find_leaf_paths,
    find_nodes,
    series_catalog,
)
from datayours_spark.render.formats import fetched_to_series, render_csv, render_json


def catalog_paths(catalog: list[str] | DataFrame | None) -> list[str] | None:
    """The one catalog rule the render entry points share: a path list is
    used as is; a DataFrame with a ``path`` column (e.g. the
    ingest-maintained ``series_stats()``, a KB-scale relation) is collected
    once into a sorted distinct list; ``None`` stays ``None``, and the
    caller takes the distributed path over ``series_catalog(datapoints)``."""
    if isinstance(catalog, DataFrame):
        return sorted(r["path"] for r in catalog.select("path").distinct().collect())
    return catalog


def find(
    datapoints: DataFrame, query: str, format: str = "df"
) -> DataFrame | list | dict:
    """/metrics/find — nodes for a glob/brace query.

    format: 'df' → (path, name, is_leaf) DataFrame; 'treejson' (the
    endpoint's default, Grafana's contract) / 'completer' → the reference's
    JSON-ready shapes (`graphite_cgi.lua:225-263`).
    """
    nodes = find_nodes(series_catalog(datapoints), query)
    if format == "df":
        return nodes
    from datayours_spark.render.formats import find_completer, find_treejson

    rows = [(r["path"], r["name"], r["is_leaf"]) for r in nodes.collect()]
    if format == "treejson":
        return find_treejson(rows)
    if format == "completer":
        return find_completer(rows)
    raise ValueError(f"unknown find format {format!r}")


def expand(datapoints: DataFrame, query: str, leaves_only: bool = False) -> DataFrame:
    """/metrics/expand — flat path list (branches get a trailing dot)."""
    from datayours_spark.operators.catalog import expand_query

    return expand_query(series_catalog(datapoints), query, leaves_only)


def index(datapoints: DataFrame) -> DataFrame:
    """/metrics/index.json — every leaf path, sorted."""
    from datayours_spark.operators.catalog import index_json

    return index_json(series_catalog(datapoints))


def _match_leaves(
    datapoints: DataFrame,
    targets: list[str],
    catalog: list[str] | DataFrame | None,
    limit: int | None,
) -> list[str]:
    """The sorted leaves any target matches.  With a catalog they are
    matched on the driver (:func:`catalog_paths`), one pass over the list
    per target; with ``None`` the globs push into the distinct scan as one
    filter, so only matched leaves (at most ``limit`` of them) reach the
    driver."""
    paths = catalog_paths(catalog)
    if paths is None:
        return collect_leaf_paths(series_catalog(datapoints), targets, limit)
    return sorted({p for t in targets for p in find_leaf_paths(paths, t)})


class RenderCapExceeded(ValueError):
    """A render would materialize more than max_points (leaves × slots)."""


def coarsen_step(
    step: int, frm: int, until: int, n_leaves: int, max_points: int
) -> int:
    """The smallest step multiple that brings ``n_leaves × slots`` under
    ``max_points`` — Graphite's maxDataPoints consolidation as pure
    arithmetic (property-tested exhaustively; the bound is a guarantee).

    Slot count at a step is the post-quantization
    ``floor(until/s) - floor(frm/s) + 1``; a one-shot ceil factor can
    undershoot when quantized edges shift, so the factor re-applies until
    the bound truly holds.  Raises :class:`RenderCapExceeded` when the
    leaf count alone exceeds the bound (coarsening bottoms out at one slot
    per leaf).
    """
    import math

    def n_slots(s: int) -> int:
        return (until - until % s) // s - (frm - frm % s) // s + 1

    if n_leaves > max_points:
        raise RenderCapExceeded(
            f"{n_leaves} matched leaves alone exceed "
            f"max_points={max_points}; narrow the glob"
        )
    while n_leaves * n_slots(step) > max_points:
        factor = math.ceil(n_leaves * n_slots(step) / max_points)
        step = step * max(2, factor)
    return step


def render_grid(
    spark: SparkSession,
    datapoints: DataFrame,
    targets: list[str] | str,
    from_: str | int | None = None,
    until_: str | int | None = None,
    step: int = 3_600,
    now: int | None = None,
    null_policy: str = "null",
    max_points: int | None = 10_080,
    on_exceed: str = "coarsen",
    catalog: list[str] | DataFrame | None = None,
) -> DataFrame:
    """The distributed heart of /render: (path, slot, value) dense grids for
    every leaf matched by any target, nulls where no point landed.

    The matched leaves are resolved once: from a ``catalog`` list or
    DataFrame on the driver (:func:`catalog_paths`), or with ``None`` by one
    collect (:func:`~datayours_spark.operators.catalog.collect_leaf_paths`:
    every target's leaf condition OR-ed into one catalog filter).  The rest
    is one ``spark.sql`` text (the plan DataFrame calls would build, in a
    fixed handful of py4j round trips instead of one per call and path):
    the fetch filters on ``path IN (list)`` and the ts range, which reach
    the parquet scan; the dense grid (``explode`` over the path array, then
    the slot ``sequence``) is unioned into the slot aggregate's input as
    ``(path, slot, NULL, NULL)`` rows.  ``max_by`` skips rows whose
    ordering is null, so a grid row never beats a real point and a slot
    with no point comes out null; the ts filter keeps every data slot
    inside the grid, so the aggregate's output is exactly the grid, with no
    join.  ``apply_null_policy`` fills the nulls.  No target matching a
    leaf gives an empty (path, slot, value) frame.  Paths are quoted by
    Spark's ``Literal.sql`` rule (``get_lit_sql_str``), which assumes
    ``spark.sql.parser.escapedStringLiterals=false``, as PySpark's
    formatter does; the engine never sets it.

    ``max_points`` bounds the result to len(matched leaves) × slot count —
    the reference's points-per-query guard (`dataMineServer maxpoints`,
    SURVEY §2.4 O4) applied BEFORE anything materializes: with
    ``catalog=None`` the leaf collect stops at ``max_points + 1`` rows (a
    given catalog is already on the driver, whole), the slot count is
    arithmetic.  The
    default is the reference's own default bound (10080, a week of minutes
    — `L_DataBaseDM.lua:74`); pass ``None`` to disable, a larger int to
    raise.  On overflow, ``on_exceed='coarsen'`` multiplies the step by the
    smallest integer factor that fits (Graphite's maxDataPoints
    consolidation), re-checking the post-quantization slot count until the
    bound truly holds; ``'error'`` raises :class:`RenderCapExceeded`.  More
    leaves than ``max_points`` raise in either mode.  So the bounded result
    is safe to collect and order on the driver.
    """
    import time as _time

    if isinstance(targets, str):
        targets = [targets]
    now_ts = int(_time.time()) if now is None else parse_time(now)
    default_from, default_until = default_render_range(now_ts)
    frm = default_from if from_ is None else parse_time(from_, now=now_ts)
    until = default_until if until_ is None else parse_time(until_, now=now_ts)

    paths = _match_leaves(
        datapoints, targets, catalog,
        None if max_points is None else max_points + 1,
    )
    if not paths:
        return spark.createDataFrame([], "path string, slot bigint, value double")

    if max_points is not None:
        if len(paths) > max_points:
            raise RenderCapExceeded(
                f"more than {max_points} matched leaves alone exceed "
                f"max_points={max_points}; narrow the glob"
            )
        n_slots = (until - until % step) // step - (frm - frm % step) // step + 1
        if len(paths) * n_slots > max_points:
            if on_exceed == "error":
                raise RenderCapExceeded(
                    f"{len(paths)} leaves x {n_slots} slots exceeds "
                    f"max_points={max_points}; narrow the glob or range"
                )
            step = coarsen_step(step, frm, until, len(paths), max_points)

    lo = frm - frm % step
    hi = until - until % step
    in_list = ", ".join(get_lit_sql_str(p) for p in paths)
    in_list = in_list.replace("{", "{{").replace("}", "}}")  # for the formatter
    slots = spark.sql(f"""
        SELECT path, ts_sec - ts_sec % {step}L AS slot, max_by(value, ts_us) AS value
        FROM (SELECT path, ts_sec, ts_us, value FROM {{points}}
              WHERE path IN ({in_list}) AND ts_sec BETWEEN {lo}L AND {hi + step - 1}L
              UNION ALL
              SELECT path, explode(sequence({lo}L, {hi}L, {step}L)), NULL, NULL
              FROM (SELECT explode(array({in_list})) AS path))
        GROUP BY path, slot""", points=datapoints)
    return apply_null_policy(slots, null_policy, partition_cols=["path"])


def render_mixed(
    spark: SparkSession,
    datapoints: DataFrame,
    targets: list[str] | str,
    engine,
    from_: str | int | None = None,
    until_: str | int | None = None,
    now: int | None = None,
    max_leaves: int = 1_000,
    catalog: list[str] | DataFrame | None = None,
) -> DataFrame:
    """Mixed-timebase /render (the reference's "mixed timebase support",
    `L_DataGraph.lua:205-254`): same target glob/brace expansion and time
    parsing as :func:`render`, but every matched leaf is served at the step
    ITS OWN storage-schemas archives route to for the window — a 1-minute
    series and a 1-hour series union onto one time axis at their native
    cadences.  `engine` is the kernel.rules.RuleEngine holding the
    storage-schemas / storage-aggregation rules.

    Output: (path, slot, value, step).  The matched-leaf list is driver-side
    (it parameterizes per-spec routing), so it is capped at `max_leaves` —
    :class:`RenderCapExceeded` past that.

    ``catalog`` injects the series catalog (:func:`catalog_paths`) — the
    ingest-maintained stats table (`IngestPipeline.series_stats()`, a
    KB-scale relation) or a plain list of paths — so target resolution
    never scans the datapoints table; the default derives the catalog from
    `datapoints` by distinct, which is a full-column scan at collect time
    (fine for ad-hoc use, wrong as the standing configuration at 100 TB).
    """
    import time as _time

    from datayours_spark.plans.router import mixed_fetch

    if isinstance(targets, str):
        targets = [targets]
    now_ts = int(_time.time()) if now is None else parse_time(now)
    default_from, default_until = default_render_range(now_ts)
    frm = default_from if from_ is None else parse_time(from_, now=now_ts)
    until = default_until if until_ is None else parse_time(until_, now=now_ts)

    # the matched leaf list parameterizes per-spec routing, so it ends up
    # on the driver either way
    paths = _match_leaves(datapoints, targets, catalog, max_leaves + 1)
    if len(paths) > max_leaves:
        raise RenderCapExceeded(
            f"more than max_leaves={max_leaves} matched leaves"
        )
    return mixed_fetch(spark, datapoints, engine, paths, frm, until, now_ts)


def render(
    spark: SparkSession,
    datapoints: DataFrame,
    targets: list[str] | str,
    from_: str | int | None = None,
    until_: str | int | None = None,
    step: int = 3_600,
    now: int | None = None,
    format: str = "json",
    null_policy: str = "null",
    max_points: int | None = 10_080,
    on_exceed: str = "coarsen",
    catalog: list[str] | DataFrame | None = None,
) -> str | DataFrame:
    """/render — Graphite-format output text for every matching series.

    format: 'json' → the render JSON document; 'csv' → series,datetime,value
    lines; 'df' → the (path, slot, value) grid DataFrame for further
    composition.  `max_points` defaults to the reference's 10080 bound
    (`L_DataBaseDM.lua:74`, see :func:`render_grid`); pass None to disable.
    ``catalog`` follows :func:`catalog_paths`.
    """
    grid = render_grid(
        spark, datapoints, targets, from_, until_, step, now, null_policy,
        max_points=max_points, on_exceed=on_exceed, catalog=catalog,
    )
    if format == "df":
        return grid
    if format == "json":
        return render_json(fetched_to_series(grid))
    if format == "csv":
        rows = sorted(
            ((r["path"], r["slot"], r["value"]) for r in grid.collect()),
            key=lambda row: row[:2],
        )
        return render_csv(rows)
    raise ValueError(f"unknown render format {format!r}")
