"""User-facing render/metrics API (graphite_cgi.lua:383-503 semantics)."""

from __future__ import annotations

from datayours_spark import api

T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC
H = 3_600


def _dp(make_datapoints):
    return make_datapoints(
        [
            ("a.x", T0 + 0 * H + 10, 1.0),
            ("a.x", T0 + 2 * H + 10, 3.0),
            ("a.y", T0 + 1 * H + 10, 5.0),
            ("b.x", T0 + 0 * H + 10, 9.0),
        ]
    )


class TestMetrics:
    def test_find_branch_and_leaf(self, spark, make_datapoints):
        nodes = api.find(_dp(make_datapoints), "*").collect()
        assert [(r["path"], r["is_leaf"]) for r in nodes] == [
            ("a", False),
            ("b", False),
        ]

    def test_expand_and_index(self, spark, make_datapoints):
        dp = _dp(make_datapoints)
        assert [r["path"] for r in api.expand(dp, "a.*").collect()] == ["a.x", "a.y"]
        assert [r["path"] for r in api.index(dp).collect()] == ["a.x", "a.y", "b.x"]


class TestRender:
    def test_brace_target_multi_series_grid(self, spark, make_datapoints):
        grid = api.render(
            spark,
            _dp(make_datapoints),
            targets="a.{x,y}",
            from_=T0,
            until_=T0 + 2 * H,
            step=H,
            format="df",
        )
        got = {(r["path"], r["slot"]): r["value"] for r in grid.collect()}
        assert got == {
            ("a.x", T0): 1.0,
            ("a.x", T0 + H): None,
            ("a.x", T0 + 2 * H): 3.0,
            ("a.y", T0): None,
            ("a.y", T0 + H): 5.0,
            ("a.y", T0 + 2 * H): None,
        }

    def test_csv_format_golden(self, spark, make_datapoints):
        out = api.render(
            spark,
            _dp(make_datapoints),
            targets=["b.*"],
            from_=T0,
            until_=T0 + H,
            step=H,
            format="csv",
        )
        assert out == (
            "b.x,2024-01-01 00:00:00,9\nb.x,2024-01-01 01:00:00,nil"
        )

    def test_json_format_golden(self, spark, make_datapoints):
        out = api.render(
            spark,
            _dp(make_datapoints),
            targets="b.x",
            from_=T0,
            until_=T0 + H,
            step=H,
            format="json",
        )
        assert '"target": "b.x"' in out
        assert f"[9, {T0}]," in out
        assert f"[null, {T0 + H}]" in out

    def test_relative_from_with_shrink(self, spark, make_datapoints):
        # -1h with the 0.998 shrink reaches back 3592.8s → slot T0+2H kept,
        # plus the T0+3H anchor slot = grid of 2 slots
        dp = _dp(make_datapoints)
        grid = api.render(
            spark,
            dp,
            targets="a.x",
            from_="-1h",
            until_=None,
            step=H,
            now=T0 + 3 * H,
            format="df",
        )
        slots = sorted(r["slot"] for r in grid.collect())
        assert slots == [T0 + 2 * H, T0 + 3 * H]

    def test_hold_policy(self, spark, make_datapoints):
        grid = api.render(
            spark,
            _dp(make_datapoints),
            targets="a.x",
            from_=T0,
            until_=T0 + 3 * H,
            step=H,
            format="df",
            null_policy="hold",
        )
        vals = [r["value"] for r in grid.orderBy("slot").collect()]
        assert vals == [1.0, 1.0, 3.0, 3.0]


class TestRenderEdges:
    def _render(self, spark, make_datapoints, targets, format):
        return api.render(
            spark, _dp(make_datapoints), targets=targets,
            from_=T0, until_=T0 + 2 * H, step=H, format=format,
        )

    def test_no_match_gives_empty_bodies(self, spark, make_datapoints):
        assert self._render(spark, make_datapoints, "nomatch.*", "json") == "[\n]"
        assert self._render(spark, make_datapoints, "nomatch.*", "csv") == ""
        grid = self._render(spark, make_datapoints, "nomatch.*", "df")
        assert grid.columns == ["path", "slot", "value"]
        assert grid.collect() == []

    def test_overlapping_targets_give_one_series(self, spark, make_datapoints):
        out = self._render(spark, make_datapoints, ["a.x", "a.*", "*.x"], "json")
        assert out.count('"target": "a.x"') == 1
        assert out.count('"target": "a.y"') == 1
        assert out.count('"target": "b.x"') == 1
        csv = self._render(spark, make_datapoints, ["a.x", "a.{x,y}"], "csv")
        assert csv.splitlines() == [
            "a.x,2024-01-01 00:00:00,1",
            "a.x,2024-01-01 01:00:00,nil",
            "a.x,2024-01-01 02:00:00,3",
            "a.y,2024-01-01 00:00:00,nil",
            "a.y,2024-01-01 01:00:00,5",
            "a.y,2024-01-01 02:00:00,nil",
        ]

    def test_branch_only_glob_gives_no_series(self, spark, make_datapoints):
        # "*" matches the branches a and b, never a leaf
        assert self._render(spark, make_datapoints, "*", "json") == "[\n]"
        assert self._render(spark, make_datapoints, "*", "csv") == ""


class TestRenderCap:
    def test_over_wide_render_raises_on_error_mode(self, spark, make_datapoints):
        import pytest

        with pytest.raises(api.RenderCapExceeded, match="exceeds"):
            api.render(
                spark,
                _dp(make_datapoints),
                targets="*.*",          # 3 leaves
                from_=T0,
                until_=T0 + 10 * H,     # x 11 slots = 33 points
                step=H,
                format="csv",
                max_points=10,
                on_exceed="error",
            )

        # the leaf count alone over the cap raises in error mode too
        with pytest.raises(api.RenderCapExceeded, match="leaves alone"):
            api.render(
                spark, _dp(make_datapoints), targets="*.*",
                from_=T0, until_=T0, step=H, format="json",
                max_points=2, on_exceed="error",
            )

    def test_coarsen_mode_fits_within_cap(self, spark, make_datapoints):
        # 3 leaves x 11 slots = 33 > 10 → step coarsens by ceil(33/10) = 4
        grid = api.render(
            spark,
            _dp(make_datapoints),
            targets="*.*",
            from_=T0,
            until_=T0 + 10 * H,
            step=H,
            format="df",
            max_points=10,
        )
        rows = grid.collect()
        assert len(rows) <= 10
        slots = sorted({r["slot"] for r in rows})
        assert slots[1] - slots[0] == 4 * H  # coarsened step
        # values survive at the coarser resolution (LWW within the new slot)
        got = {(r["path"], r["slot"]): r["value"] for r in rows}
        assert got[("a.x", T0)] == 3.0  # T0+2H point wins the 4h slot (LWW)

    def test_default_cap_is_reference_10080(self, spark, make_datapoints):
        # No max_points passed: the reference's 10080 default bound
        # (L_DataBaseDM.lua:74) engages on its own — a wide window coarsens
        # down to fit without the caller asking for protection.
        grid = api.render_grid(
            spark, _dp(make_datapoints), targets="*.*",
            from_=T0, until_=T0 + 10_000 * H, step=H,  # 3 x 10001 > 10080
        )
        assert grid.count() <= 10_080

    def test_default_cap_raises_when_leaves_alone_exceed(
        self, spark, make_datapoints
    ):
        # Coarsening bottoms out at one slot per leaf, so a glob matching
        # more leaves than max_points raises even in coarsen mode — the
        # unbounded wide-glob render can never reach collect.
        import pytest

        dp = make_datapoints(
            [(f"wide.s{i:05d}", T0, 1.0) for i in range(10_081)]
        )
        with pytest.raises(api.RenderCapExceeded, match="leaves alone"):
            api.render_grid(
                spark, dp, targets="wide.*", from_=T0, until_=T0 + H, step=H,
            )

    def test_coarsen_cap_is_true_upper_bound(self, spark, make_datapoints):
        # Regression for the one-shot factor undershoot: boundary
        # misalignment plus the +1 could leave n_leaves * n_slots' above the
        # cap for short windows with many leaves. The loop re-checks at the
        # post-quantization slot count, so the bound always holds.
        dp = make_datapoints(
            [(f"m.s{i}", T0 + 7, float(i)) for i in range(7)]
        )
        for until_off in (H - 1, H, 2 * H - 1, 3 * H + 1):
            grid = api.render_grid(
                spark, dp, targets="m.*",
                from_=T0 + 1, until_=T0 + until_off, step=60,
                max_points=13,
            )
            assert grid.count() <= 13, f"cap broken at until=+{until_off}"

    def test_coarsen_step_property_exhaustive(self):
        # The arithmetic is a pure function — property-test the guarantee
        # without Spark: for every window/leaf/cap shape, the coarsened
        # step keeps n_leaves * n_slots under the cap, is a multiple of the
        # requested step, and is untouched when already under.
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=300, deadline=None)
        @given(
            step=st.sampled_from([1, 7, 60, 300, 3_600]),
            frm=st.integers(0, 10**9),
            span=st.integers(0, 10**7),
            n_leaves=st.integers(1, 10_000),
            max_points=st.integers(1, 100_000),
        )
        def check(step, frm, span, n_leaves, max_points):
            import pytest

            until = frm + span
            if n_leaves > max_points:
                with pytest.raises(api.RenderCapExceeded):
                    api.coarsen_step(step, frm, until, n_leaves, max_points)
                return
            s = api.coarsen_step(step, frm, until, n_leaves, max_points)
            n_slots = (until - until % s) // s - (frm - frm % s) // s + 1
            assert n_leaves * n_slots <= max_points
            assert s % step == 0
            orig_slots = (
                (until - until % step) // step - (frm - frm % step) // step + 1
            )
            if n_leaves * orig_slots <= max_points:
                assert s == step  # no gratuitous coarsening

        check()


class TestRenderMixed:
    def _engine(self):
        from datayours_spark.kernel.rules import rule_engine_from_confs

        return rule_engine_from_confs(
            schemas_conf="""
[fine]
pattern = ^a\\.
retentions = 1m:1d

[coarse]
pattern = ^b\\.
retentions = 1h:1d
"""
        )

    def test_each_leaf_serves_at_its_own_step(self, spark, make_datapoints):
        from datayours_spark import api

        dp = make_datapoints(
            [("a.x", T0 + i * 60, float(i)) for i in range(120)]
            + [("b.x", T0 + i * 60, float(i)) for i in range(120)]
        )
        now = T0 + 2 * H
        out = api.render_mixed(
            spark, dp, "*.x", self._engine(),
            from_=T0, until_=T0 + H, now=now,
        )
        steps = {r["path"]: r["step"] for r in out.collect()}
        assert steps == {"a.x": 60, "b.x": 3_600}
        rows = {(r["path"], r["slot"]): r["value"] for r in out.collect()}
        assert rows[("a.x", T0 + 10 * 60)] == 10.0   # 1m cadence
        assert ("b.x", T0 + 10 * 60) not in rows     # only 1h slots for b
        assert ("b.x", T0) in rows

    def test_leaf_cap(self, spark, make_datapoints):
        import pytest

        from datayours_spark import api

        dp = _dp(make_datapoints)
        with pytest.raises(api.RenderCapExceeded, match="matched leaves"):
            api.render_mixed(
                spark, dp, "*.*", self._engine(),
                from_=T0, until_=T0 + H, now=T0 + 2 * H, max_leaves=2,
            )


class TestFindFormats:
    def test_treejson_shape(self, spark, make_datapoints):
        out = api.find(_dp(make_datapoints), "a.*", format="treejson")
        assert out == [
            {"allowChildren": 0, "expandable": 0, "leaf": 1, "id": "a.x",
             "text": "x", "context": {}},
            {"allowChildren": 0, "expandable": 0, "leaf": 1, "id": "a.y",
             "text": "y", "context": {}},
        ]

    def test_completer_branch_trailing_dot(self, spark, make_datapoints):
        out = api.find(_dp(make_datapoints), "*", format="completer")
        assert out == {
            "metrics": [
                {"is_leaf": 0, "path": "a.", "name": "a"},
                {"is_leaf": 0, "path": "b.", "name": "b"},
            ]
        }
