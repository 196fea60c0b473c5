"""Metric-tree catalog: glob find with branch/leaf nodes, expand, index.

Reproduces the find machinery (`/root/reference/L_DataFinders.lua:138-220`
tree build + recursive descent; `L_DataGraphiteAPI.lua:340-398` Store
federation/dedup; `graphite_cgi.lua:225-301` endpoint shapes):

- A find query has N dot-separated glob levels; results are the N-level
  prefixes of the namespace: a prefix is a LEAF node when a series path of
  exactly N levels matches, and a BRANCH node when longer paths share it.
  Both can exist for one prefix — the Store yields the branch once and the
  leaf as-is (`L_DataGraphiteAPI.lua:355-388`).
- `/metrics/index.json` is every leaf path, sorted (`graphite_cgi.lua:285-301`).

Scale notes: each operator comes in two forms.  The distributed one
(:func:`find_nodes`, :func:`expand_query`, :func:`collect_leaf_paths`)
starts from `SELECT DISTINCT path` — one shuffle over the series
dimension — with the glob translated driver-side and pushed down as
`rlike` filters.  The driver-side one (:func:`find_node_rows`,
:func:`expand_paths`, :func:`find_leaf_paths`) matches a path list held on
the driver, level by level like the reference's finders, and runs no
Spark job; it is differential-tested against the distributed form.  A
`GraphiteApp` collects the distinct scan into such a list once and serves
every find, expand, index and render target from it.  Reading the
KB-scale ingest-maintained stats table (`series_stats()`) instead of that
scan is the form that stays cheap at 100 TB; it is not wired into the app
yet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datayours_spark.kernel.globs import expand_braces, glob_path_to_regex


def series_catalog(datapoints: DataFrame) -> DataFrame:
    """Distinct leaf paths (the whisper-directory scan, `L_DataDash.lua:160-176`)."""
    return datapoints.select("path").distinct()


def find_node_rows(paths, pattern: str) -> list[tuple[str, str, bool]]:
    """Driver-side find: (path, name, is_leaf) node rows for `pattern` over
    the series paths `paths` — identical to ``find_nodes(catalog,
    pattern).collect()`` (differential-tested), branch row before leaf row
    for a prefix that is both.

    This is the reference's own find shape (directory listing + per-level
    pattern match, `L_DataFinders.lua:162-189`) for callers that already
    hold the catalog driver-side, where spinning up a distributed
    aggregation to match ~series-count strings would cost more than the
    match.  `paths` is any iterable of dotted series paths.
    """
    import re as _re

    n = len(expand_braces(pattern)[0].split("."))
    regexes = [_re.compile(r) for r in glob_path_to_regex(pattern)]
    kinds: dict[str, set[bool]] = {}
    for p in paths:
        parts = p.split(".")
        if len(parts) < n:
            continue
        prefix = ".".join(parts[:n])
        if any(rx.match(prefix) for rx in regexes):
            kinds.setdefault(prefix, set()).add(len(parts) == n)
    return [
        (prefix, prefix.rsplit(".", 1)[-1], leaf)
        for prefix in sorted(kinds)
        for leaf in sorted(kinds[prefix])
    ]


def find_leaf_paths(paths, pattern: str) -> list[str]:
    """Driver-side leaf resolution: the sorted subset of `paths` that are
    leaves matching `pattern` (the leaf rows of :func:`find_node_rows`)."""
    return [p for p, _, leaf in find_node_rows(paths, pattern) if leaf]


def expand_paths(paths, pattern: str, leaves_only: bool = False) -> list[str]:
    """Driver-side `/metrics/expand` over a path list — identical to
    ``expand_query(catalog, pattern, leaves_only)`` (differential-tested)."""
    return sorted(
        p if leaf else p + "."
        for p, _, leaf in find_node_rows(paths, pattern)
        if leaf or not leaves_only
    )


def _match_condition(pattern: str, col: str = "prefix") -> tuple[F.Column, int]:
    """OR of per-expansion regexes over the first-N-level prefix; returns
    (condition on the `col` column, n_levels)."""
    n_levels = len(expand_braces(pattern)[0].split("."))
    regexes = glob_path_to_regex(pattern)
    cond = F.col(col).rlike(regexes[0])
    for r in regexes[1:]:
        cond = cond | F.col(col).rlike(r)
    return cond, n_levels


def collect_leaf_paths(
    catalog: DataFrame, targets: list[str], limit: int | None = None
) -> list[str]:
    """Distributed leaf resolution for a target list: the sorted distinct
    leaf paths matched by ANY target — the union of
    ``find_nodes(catalog, t).where(is_leaf)`` over `targets`
    (differential-tested), as one filter and one collect.

    A leaf of an N-level pattern is a path of exactly N levels that the
    pattern's regex matches, so each target contributes
    ``size(split(path)) == N AND path RLIKE ...`` and the targets OR
    together; the filter runs below the catalog's distinct, at the scan.
    ``limit`` caps the collected rows, so a caller bounding the match
    count (``limit = bound + 1``) never pulls an over-wide glob's whole
    leaf set to the driver.
    """
    cond = None
    for t in targets:
        matched, n = _match_condition(t, "path")
        leaf = (F.size(F.split("path", "\\.")) == n) & matched
        cond = leaf if cond is None else cond | leaf
    leaves = catalog.where(cond).select("path")
    if limit is not None:
        leaves = leaves.limit(limit)
    return sorted({r["path"] for r in leaves.collect()})


def find_nodes(catalog: DataFrame, pattern: str) -> DataFrame:
    """Glob find → (path, name, is_leaf) node rows, ordered by path.

    Emits one branch row and/or one leaf row per matching N-level prefix,
    exactly like the reference's federated find after path dedup.
    """
    cond, n = _match_condition(pattern)
    parts = F.split("path", "\\.")
    prefixed = catalog.select(
        F.array_join(F.slice(parts, 1, n), ".").alias("prefix"),
        (F.size(parts) == n).alias("exact"),
    ).where(F.size(parts) >= n)
    grouped = (
        prefixed.where(cond)
        .groupBy("prefix")
        .agg(
            F.max(F.col("exact")).alias("has_leaf"),
            F.max(~F.col("exact")).alias("has_branch"),
        )
    )
    leaf = F.array(F.lit(True))
    branch = F.array(F.lit(False))
    nodes = grouped.select(
        "prefix",
        F.explode(
            F.when(F.col("has_leaf") & F.col("has_branch"), F.concat(branch, leaf))
            .when(F.col("has_leaf"), leaf)
            .otherwise(branch)
        ).alias("is_leaf"),
    )
    return nodes.select(
        F.col("prefix").alias("path"),
        F.element_at(F.split("prefix", "\\."), -1).alias("name"),
        "is_leaf",
    ).orderBy("path", "is_leaf")


def expand_query(catalog: DataFrame, pattern: str, leaves_only: bool = False) -> DataFrame:
    """`/metrics/expand` — flat path list; branches get a trailing dot
    (`graphite_cgi.lua:265-283`)."""
    nodes = find_nodes(catalog, pattern)
    if leaves_only:
        nodes = nodes.where(F.col("is_leaf"))
    return nodes.select(
        F.when(F.col("is_leaf"), F.col("path"))
        .otherwise(F.concat(F.col("path"), F.lit(".")))
        .alias("path")
    ).orderBy("path")


def index_json(catalog: DataFrame) -> DataFrame:
    """`/metrics/index.json` — all leaf paths sorted (`graphite_cgi.lua:285-301`)."""
    return catalog.orderBy("path")
