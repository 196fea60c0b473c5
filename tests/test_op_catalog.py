"""Catalog find/expand/index shapes (graphite_cgi.lua:225-301; L_DataFinders)."""

import pytest

from datayours_spark.operators.catalog import (
    collect_leaf_paths,
    expand_query,
    find_nodes,
    index_json,
    series_catalog,
)

PATHS = [
    "events.click.u1",
    "events.click.u2",
    "events.view.u1",
    "system.cpu",  # 2-level leaf alongside 3-level events branches
    "system.cpu.load",  # makes system.cpu BOTH leaf and branch
]


@pytest.fixture()
def catalog(spark):
    return spark.createDataFrame([(p,) for p in PATHS], "path string")


class TestFind:
    def test_branch_detection(self, catalog):
        nodes = [(r["path"], r["is_leaf"]) for r in find_nodes(catalog, "events.*").collect()]
        assert nodes == [("events.click", False), ("events.view", False)]

    def test_leaf_detection(self, catalog):
        nodes = [(r["path"], r["is_leaf"]) for r in find_nodes(catalog, "events.click.*").collect()]
        assert nodes == [("events.click.u1", True), ("events.click.u2", True)]

    def test_both_branch_and_leaf(self, catalog):
        nodes = [(r["path"], r["is_leaf"]) for r in find_nodes(catalog, "system.*").collect()]
        # system.cpu is a leaf AND a branch → branch emitted first, then leaf
        assert nodes == [("system.cpu", False), ("system.cpu", True)]

    def test_name_is_last_segment(self, catalog):
        names = {r["name"] for r in find_nodes(catalog, "events.*").collect()}
        assert names == {"click", "view"}

    def test_braces(self, catalog):
        nodes = find_nodes(catalog, "events.{click,view}.u1").collect()
        assert [r["path"] for r in nodes] == ["events.click.u1", "events.view.u1"]


class TestExpandIndex:
    def test_expand_trailing_dot_on_branches(self, catalog):
        got = [r["path"] for r in expand_query(catalog, "*").collect()]
        assert got == ["events.", "system."]

    def test_expand_leaves_only(self, catalog):
        got = [r["path"] for r in expand_query(catalog, "system.*", leaves_only=True).collect()]
        assert got == ["system.cpu"]

    def test_index_sorted_leaves(self, catalog):
        got = [r["path"] for r in index_json(series_catalog(catalog)).collect()]
        assert got == sorted(PATHS)


class TestFindLeafPaths:
    """Driver-side leaf resolution must be byte-identical to the
    distributed find_nodes(...).where(is_leaf) — it backs target
    resolution against the ingest-maintained stats catalog."""

    PATTERNS = [
        "events.*",            # branches only → no leaves
        "events.click.*",
        "events.{click,view}.u1",
        "events.*.u?",
        "system.*",            # leaf-and-branch node
        "system.cpu",
        "*.cpu.load",
        "nomatch.*",
        "*",
    ]

    @staticmethod
    def _find_leaves(catalog, targets):
        return sorted(
            {
                r["path"]
                for t in targets
                for r in find_nodes(catalog, t).where("is_leaf").collect()
            }
        )

    @pytest.mark.parametrize("pattern", PATTERNS)
    def test_matches_distributed_find(self, catalog, pattern):
        from datayours_spark.operators.catalog import find_leaf_paths

        distributed = self._find_leaves(catalog, [pattern])
        assert find_leaf_paths(PATHS, pattern) == distributed
        assert collect_leaf_paths(catalog, [pattern]) == distributed

    def test_overlapping_targets_collect_once(self, catalog):
        from datayours_spark.operators.catalog import find_leaf_paths

        # events.click.u1 and system.cpu each match two of the targets
        targets = ["events.click.*", "events.*.u1", "system.*", "system.cpu"]
        want = self._find_leaves(catalog, targets)
        assert want == [
            "events.click.u1", "events.click.u2", "events.view.u1", "system.cpu",
        ]
        assert sorted({p for t in targets for p in find_leaf_paths(PATHS, t)}) == want
        assert collect_leaf_paths(catalog, targets) == want
        # the limit caps what reaches the driver, not which leaves match
        assert len(collect_leaf_paths(catalog, targets, limit=2)) == 2


class TestDriverSideFind:
    """The driver-side find and expand a `GraphiteApp` serves from must be
    identical to the distributed forms over the same catalog, order
    included (``system.*`` covers a prefix that is both branch and leaf)."""

    def test_matches_distributed(self, spark):
        from functools import reduce

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from datayours_spark.operators.catalog import expand_paths, find_node_rows

        # every distributed answer in one collect, keyed (pattern, form);
        # find_nodes and expand_query order by path (then is_leaf), which
        # the driver-side sort below restores.  The catalog is a JVM-side
        # literal, so the 27 scans start no Python worker.
        catalog = spark.range(1).select(F.explode(F.lit(PATHS)).alias("path"))
        frames = []
        for i, pattern in enumerate(TestFindLeafPaths.PATTERNS):
            frames.append(find_nodes(catalog, pattern).select(
                F.lit(i).alias("i"), F.lit("find").alias("form"),
                "path", "name", "is_leaf",
            ))
            for form in ("expand", "leaves"):
                frames.append(expand_query(catalog, pattern, form == "leaves").select(
                    F.lit(i), F.lit(form), "path",
                    F.lit(None).cast("string"), F.lit(None).cast("boolean"),
                ))
        got: dict = {}
        for r in reduce(DataFrame.unionAll, frames).collect():
            got.setdefault((r["i"], r["form"]), []).append(tuple(r)[2:])

        for i, pattern in enumerate(TestFindLeafPaths.PATTERNS):
            want = sorted(got.get((i, "find"), []))
            assert find_node_rows(PATHS, pattern) == want, pattern
            for form in ("expand", "leaves"):
                want = sorted(p for p, _, _ in got.get((i, form), []))
                assert expand_paths(PATHS, pattern, form == "leaves") == want, (pattern, form)

    def test_branch_row_before_leaf_row(self):
        from datayours_spark.operators.catalog import find_node_rows

        assert find_node_rows(reversed(PATHS), "system.*") == [
            ("system.cpu", "cpu", False), ("system.cpu", "cpu", True),
        ]
