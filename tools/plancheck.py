#!/usr/bin/env python
"""Physical-plan regression checks: assert the plans Catalyst produces are
the plans a 100 TB deployment needs.

Checks (each prints PASS/FAIL; nonzero exit on any FAIL):

1. **Partition pruning** — a range fetch over the canonical date-partitioned
   datapoints layout (io.write_datapoints) scans only the covered dates
   (PartitionFilters on `date`), pushes `path =` and the ts range into the
   parquet scan (PushedFilters), and reads only the needed columns
   (ReadSchema).  A served render over that layout's LWW view pushes its
   leaf list (`In(path`) and ts range, and plans two exchanges, no join.
2. **Broadcast joins** — TPC-H Q3's dimension joins broadcast (no
   SortMergeJoin on a small dim side); metadata enrichment broadcasts.
3. **Partial aggregation** — rollups and LWW slots run map-side partial
   aggregation (partial_max_by / partial_avg) before the exchange, and a
   single shuffle serves the aggregation.
4. **No cartesian products** — nothing degenerates to CartesianProduct;
   the ANN brute-force cross join is an explicit BroadcastNestedLoopJoin.
5. **Whole-stage codegen** — the rollup pipeline stays inside
   WholeStageCodegen spans (no row-at-a-time Python in the hot path).

Usage: python tools/plancheck.py   [SPARK_GRAFT_SF_DIR=... to change scale]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from datayours_spark.io import load_table, read_datapoints, write_datapoints
from datayours_spark.operators.fetch import fetch_grid, lww_slots
from datayours_spark.operators.rollup import rollup
from datayours_spark.session import get_spark
from datayours_spark.sources.events import datapoints_from_events

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "_tmp", "plancheck", "datapoints")

failures: list[str] = []


def check(name: str, ok: bool, detail: str = "") -> None:
    print(f"{'PASS' if ok else 'FAIL'}  {name}" + (f": {detail}" if detail else ""))
    if not ok:
        failures.append(name)


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    # bypass the session index caches: plan assertions (and the cartesian
    # sweep) must see the FULL lineage, not a localCheckpoint scan
    os.environ["DATAYOURS_NO_INDEX_CACHE"] = "1"
    spark = get_spark("datayours-plancheck")

    # ---- 1. canonical layout: partition pruning + pushdown --------------
    dp = datapoints_from_events(spark, SF_DIR)
    write_datapoints(dp, TMP)
    stored = read_datapoints(spark, TMP)
    t0 = entrymod.T0
    grid = fetch_grid(spark, stored, "events.click.u1", t0 + 3_600, t0 + 86_400, 3_600)
    plan = plan_of(grid)
    check(
        "partition pruning on date",
        bool(re.search(r"PartitionFilters: \[[^\]]*date", plan)),
    )
    check(
        "path equality pushed to parquet",
        bool(re.search(r"PushedFilters: \[[^\]]*EqualTo\(path", plan)),
    )
    check(
        "ts range pushed to parquet",
        bool(re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(ts_sec", plan)),
    )
    check(
        "column pruning (no value-less columns read)",
        "ReadSchema" in plan and "props" not in plan,
    )
    # both partition bounds present → the scan is clipped to the covered
    # dates (2 of ~30), not the whole table
    check(
        "scan clipped to covered date partitions",
        bool(re.search(r"PartitionFilters: \[[^\]]*date#\d+ >=", plan))
        and bool(re.search(r"PartitionFilters: \[[^\]]*date#\d+ <=", plan)),
    )

    # ---- 1b. served render: one SQL text, the dense grid in the aggregate --
    # q_render_api derives its paths from the events table, so no path
    # filter can reach its scan: it pins the shape (the slot aggregate's
    # one exchange, no join).  The same render over the stored layout's
    # LWW view (IngestPipeline.datapoints, what an app serves) must push
    # the leaf list and the ts range into the scan and plan two exchanges
    # (the LWW view's and the slot aggregate's), still without a join.
    def n_exchanges(plan: str) -> int:
        return len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))

    plan = plan_of(entrymod.queries()["q_render_api"](spark, SF_DIR))
    check(
        "q_render_api: one exchange, no join",
        n_exchanges(plan) == 1 and "Join" not in plan,
        f"{n_exchanges(plan)} exchanges",
    )
    from datayours_spark import api
    from datayours_spark.streaming.ingest import IngestPipeline

    base = os.path.dirname(TMP)
    lww = IngestPipeline(
        spark=spark, input_dir=f"{base}/in", output_dir=base,
        checkpoint_dir=f"{base}/ckpt",
    ).datapoints()
    plan = plan_of(api.render_grid(
        spark, lww, entrymod.RENDER_API_TARGET, entrymod.FETCH_FROM,
        t0 + 3 * entrymod.DAY, step=entrymod.RENDER_API_STEP, null_policy="zero",
    ))
    # whole lines: the In list's own brackets end a `[^\]]*` match early
    pushed = " ".join(re.findall(r"PushedFilters: (.*)", plan))
    check(
        "served render pushes the leaf list and ts range into the scan",
        "In(path" in pushed and "GreaterThanOrEqual(ts_sec" in pushed,
        f"PushedFilters: {pushed[:120]}",
    )
    check(
        "served render: two exchanges, no join",
        n_exchanges(plan) == 2 and "Join" not in plan,
        f"{n_exchanges(plan)} exchanges",
    )

    # ---- 2. broadcast joins ---------------------------------------------
    q3 = entrymod.queries()["q_tpch_q3"](spark, SF_DIR)
    plan = plan_of(q3)
    check("tpch_q3 broadcasts dims", "BroadcastHashJoin" in plan)
    enrich = entrymod.queries()["q_join_enrich"](spark, SF_DIR)
    check("metadata enrichment broadcasts", "BroadcastHashJoin" in plan_of(enrich))

    # ---- 3. partial aggregation, single shuffle for rollup ---------------
    fine = lww_slots(dp, 60)
    plan = plan_of(fine)
    check("LWW slots partial-aggregate map-side", "partial_max_by" in plan)
    check(
        "LWW slots need exactly one shuffle",
        len(re.findall(r"Arguments: hashpartitioning\(", plan)) == 1,
    )
    rolled = rollup(fine, 60, 3_600, method="average", xff=0.5)
    plan = plan_of(rolled)
    check("rollup partial-aggregates map-side", "partial_avg" in plan)
    # simple-mode explain stars the WholeStageCodegen stages (`*(1) ...`);
    # AQE wraps the plan until execution, so switch it off for this look
    import contextlib
    import io as _io

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        rollup(lww_slots(dp, 60), 60, 3_600, method="average", xff=0.5).explain()
    simple = buf.getvalue()
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    # ---- 4. no cartesian products ----------------------------------------
    for qname in ("q_ann_cosine", "q_asof_resample", "q_align_pivot"):
        q = entrymod.queries()[qname](spark, SF_DIR)
        check(f"{qname} has no CartesianProduct", "CartesianProduct" not in plan_of(q))

    # ---- 5. whole-stage codegen ------------------------------------------
    check("rollup stays in WholeStageCodegen", "*(" in simple)

    # ---- 6. bucketed layout: shuffle-free per-series aggregation ----------
    # bucketing datapoints by path (the Whisper file-per-series co-location,
    # SURVEY §1.8) lets every (path, slot) aggregation run with ZERO
    # exchange — hashpartitioning(path) already clusters each group
    import shutil

    warehouse = os.path.join(os.path.dirname(TMP), "plancheck_warehouse")
    # each run starts a fresh derby metastore that has forgotten the managed
    # table, but its files survive — clear the location for idempotence
    shutil.rmtree(warehouse, ignore_errors=True)
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS plancheck LOCATION '{warehouse}'")
    (
        dp.write.mode("overwrite")
        .bucketBy(16, "path")
        .sortBy("path", "ts_sec")
        .saveAsTable("plancheck.dp_bucketed")
    )
    bucketed = spark.table("plancheck.dp_bucketed")
    plan = plan_of(lww_slots(bucketed, 60))
    check(
        "bucketed LWW aggregates with zero shuffle",
        "Arguments: hashpartitioning(" not in plan,
    )

    # ---- 6b. training-pipeline ops: shuffle counts ------------------------
    registry = entrymod.queries()
    plan = plan_of(registry["q_sample_stratified"](spark, SF_DIR))
    check(
        "stratified sample is shuffle-free (row-local keep/drop)",
        "Arguments: hashpartitioning(" not in plan and "Exchange" not in plan,
    )
    plan = plan_of(registry["q_token_histogram"](spark, SF_DIR))
    check("token histogram partial-aggregates map-side", "partial_count" in plan)
    check(
        "token histogram needs exactly one shuffle",
        len(re.findall(r"Arguments: hashpartitioning\(", plan)) == 1,
    )
    plan = plan_of(registry["q_pack_sequences"](spark, SF_DIR))
    check(
        "sequence packing is one shuffle (the stream partitioning)",
        len(re.findall(r"Arguments: hashpartitioning\(", plan)) == 1,
    )
    plan = plan_of(registry["q_contamination"](spark, SF_DIR))
    check("contamination eval set broadcasts", "BroadcastHashJoin" in plan)
    # edit-distance verify: the corpus text sides must NEVER be a broadcast
    # build (impossible at real scale; the shuffle_hash hint pins it) —
    # broadcast is fine only for tiny literal sides, of which this plan
    # has none
    # (the plan's one BroadcastHashJoin is the upstream band-bucket join,
    # whose signature side is legitimately tiny; the two doc-text joins
    # are the ones that must shuffle)
    plan = plan_of(registry["q_neardup_verified"](spark, SF_DIR))
    check(
        "edit verify joins both doc-text sides via shuffle",
        len(re.findall(r"ShuffledHashJoin", plan)) >= 2,
    )
    # OOV rate: the vocabulary side must broadcast (vocab-sized model
    # state), and the corpus-side explode must not shuffle twice
    plan = plan_of(registry["q_oov_rate"](spark, SF_DIR))
    check("oov vocab joins as broadcast", "BroadcastHashJoin" in plan)
    # ... and vocab induction must be DISTRIBUTED top-k: a bounded
    # per-partition heap (TakeOrderedAndProject), never a global sort of
    # the full count table in one task (a web-scale raw vocabulary is
    # 10^8-10^9 distinct tokens).  Guards the vocab_topv formulation —
    # Spark 4's WindowGroupLimit rewrite does NOT fire for empty
    # partitionSpec windows, so an orderBy window there would silently
    # single-task the whole vocabulary.
    check(
        "vocab induction is bounded top-k (TakeOrderedAndProject)",
        "TakeOrderedAndProject" in plan,
    )
    # winnowing fingerprints: ONE generator projection straight off the
    # scan — the k-gram hashing, window minimization, and dedup are all
    # array expressions, so the plan must contain ZERO exchanges
    plan = plan_of(registry["q_winnow_fingerprints"](spark, SF_DIR))
    check(
        "winnow fingerprints are a zero-shuffle generator projection",
        "Exchange" not in plan and "Generate" in plan,
    )
    # TPC-H Q5: the six-table join must broadcast its KB-scale dims
    # (nation, region) and never plan a cartesian; the region + date
    # predicates must reach the scans as pushed filters
    plan = plan_of(registry["q_tpch_q5"](spark, SF_DIR))
    check(
        "tpch q5 broadcasts nation/region dims",
        len(re.findall(r"BroadcastHashJoin", plan)) >= 2,
    )
    check(
        "tpch q5 pushes the region predicate into the scan",
        "PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)" in plan
        or "EqualTo(r_name,ASIA)" in plan,
    )
    # ... and the region prune must sit BELOW the fact joins (r8 join
    # reorder — Catalyst won't do it without CBO stats).  Formatted-plan
    # node ids are post-order (descendants number lower than ancestors):
    # the customer region semi-join must number below the orderkey fact
    # join, and the supplier⋈nation join below the final suppkey join —
    # so non-region customers/suppliers never enter the fact shuffles.
    joins = {
        int(m.group(1)): (m.group(2) + m.group(3), m.group(4))
        for m in re.finditer(
            r"\((\d+)\) (\w*Join)\w*\s*\nLeft keys[^\n]*: \[([^\]]*)\]"
            r"\nRight keys[^\n]*: \[([^\]]*)\]\nJoin type: (\w+)",
            plan,
        )
    }
    keys = {i: lk + " " + rk for i, (lk, rk) in
            ((i, (v[0], v[1])) for i, v in joins.items())}
    orderkey_ids = [i for i, k in keys.items() if "l_orderkey" in k]
    suppkey_ids = [i for i, k in keys.items() if "l_suppkey" in k]
    cust_semi = [i for i, k in keys.items()
                 if "c_nationkey" in k and "n_nationkey" in k]
    supp_nat = [i for i, k in keys.items()
                if "s_nationkey" in k and "n_nationkey" in k]
    ok = (
        bool(orderkey_ids) and bool(suppkey_ids)
        and bool(cust_semi) and bool(supp_nat)
        and min(cust_semi) < min(orderkey_ids)
        and min(supp_nat) < max(suppkey_ids)
    )
    check(
        "tpch q5 prunes customer+supplier by region below the fact joins",
        ok,
        f"cust_semi={cust_semi} orderkey={orderkey_ids} "
        f"supp_nat={supp_nat} suppkey={suppkey_ids}",
    )
    # JL random projection (r8): the ±1 matrix is a plan literal and
    # every output coordinate a fixed-order fold — zero exchanges.
    plan = plan_of(registry["q_embed_project"](spark, SF_DIR))
    check(
        "embed projection is a zero-shuffle literal projection",
        "Exchange" not in plan,
    )
    # tpch q6 (r8): the pure filter-agg probe — the DATE range must push
    # into the parquet scan alongside discount/quantity (it is expressed
    # on the RAW shipdate column via io.epoch_range_pred; a predicate on
    # the derived _sec projection never pushes), and the scan must read
    # only the four referenced columns.
    plan = plan_of(registry["q_tpch_q6"](spark, SF_DIR))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed_txt = pushed.group(1) if pushed else ""
    check(
        "tpch q6 pushes the ship-date range into the scan",
        "GreaterThanOrEqual(l_shipdate" in pushed_txt
        and "LessThan(l_shipdate" in pushed_txt
        and "GreaterThanOrEqual(l_discount" in pushed_txt
        and "LessThan(l_quantity" in pushed_txt,
        f"PushedFilters=[{pushed_txt[:120]}]",
    )
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    n_cols = len(rs.group(1).split(",")) if rs else -1
    check(
        "tpch q6 scan reads exactly the four referenced columns",
        n_cols == 4,
        f"ReadSchema has {n_cols} columns",
    )
    # tpch q10 (r8): top-20 must plan TakeOrderedAndProject (bounded
    # per-partition state), never a global rank window; the order-date
    # range pushes into the orders scan.
    plan = plan_of(registry["q_tpch_q10"](spark, SF_DIR))
    check(
        "tpch q10 top-k plans TakeOrderedAndProject, no Window",
        "TakeOrderedAndProject" in plan and "Window" not in plan,
    )
    check(
        "tpch q10 pushes the order-date range into the orders scan",
        "GreaterThanOrEqual(o_orderdate" in plan
        and "LessThan(o_orderdate" in plan,
    )
    # tpch q14 (r8): part broadcasts against the month of fact rows and
    # the ship-date window pushes into the lineitem scan.
    plan = plan_of(registry["q_tpch_q14"](spark, SF_DIR))
    check(
        "tpch q14 broadcasts part and pushes the ship-date range",
        "BroadcastHashJoin" in plan
        and "GreaterThanOrEqual(l_shipdate" in plan,
    )
    # tpch q18 (r8): the HAVING aggregate must collapse lineitem BEFORE
    # any join — partial_sum map-side, and the order-set filter sits on
    # the aggregate, not after the customer join; top-100 is
    # TakeOrderedAndProject.
    plan = plan_of(registry["q_tpch_q18"](spark, SF_DIR))
    check(
        "tpch q18 aggregates lineitem map-side and takes ordered top-k",
        "partial_sum" in plan and "TakeOrderedAndProject" in plan
        and "Window" not in plan,
    )
    # tpch q2 (r10): the part filter and the region supplier spine both
    # broadcast into the lineitem scan (the (part, supplier) group is
    # the only corpus-sized aggregate), the decorrelated per-part min
    # joins back without any rank window, and the global top-50 plans
    # TakeOrderedAndProject.
    plan = plan_of(registry["q_tpch_q2"](spark, SF_DIR))
    check(
        "tpch q2 broadcasts part + region suppliers, min-join "
        "decorrelated, top-k ordered",
        plan.count("BroadcastHashJoin") >= 3
        and "TakeOrderedAndProject" in plan
        and "Window" not in plan
        and "partial_min" in plan,
    )
    # tpch q20 (r10): both lineitem passes broadcast the name-prefixed
    # part filter; the demand pass pushes its ship-date window into the
    # scan; the supplier chain ends in a broadcast semi-join.
    plan = plan_of(registry["q_tpch_q20"](spark, SF_DIR))
    check(
        "tpch q20 broadcasts parts, pushes demand window, semi-joins "
        "suppliers",
        "GreaterThanOrEqual(l_shipdate" in plan
        and "LessThan(l_shipdate" in plan
        and "LeftSemi" in plan
        and plan.count("BroadcastHashJoin") >= 2,
    )
    # tpch q19 (r10): the OR-of-conjunctions evaluates inside ONE
    # broadcast hash join (no union-of-three-plans blowup), part's hull
    # filter prunes the build side, and the revenue sum is map-side
    # partial.
    plan = plan_of(registry["q_tpch_q19"](spark, SF_DIR))
    check(
        "tpch q19 single broadcast join carries the disjunction",
        "BroadcastHashJoin" in plan
        and "Union" not in plan
        and "partial_sum" in plan,
    )
    # tpch q22 (r10): the scalar mean joins as a one-row broadcast
    # nested loop (NOT a CartesianProduct — the sweep below also
    # checks), the lapsed-customer test is a LeftAnti against the
    # date-pruned orders scan.
    plan = plan_of(registry["q_tpch_q22"](spark, SF_DIR))
    check(
        "tpch q22 scalar-avg broadcast + date-pruned anti-join",
        "BroadcastNestedLoopJoin" in plan
        and "LeftAnti" in plan
        and "GreaterThanOrEqual(o_orderdate" in plan,
    )
    # tpch q16 (r10): part filter broadcasts, the supplier blacklist is
    # a broadcast anti-join (decorrelated NOT IN), count(distinct) is
    # two-phase on the descriptor key, top-N is TakeOrderedAndProject.
    plan = plan_of(registry["q_tpch_q16"](spark, SF_DIR))
    check(
        "tpch q16 broadcast part + anti-join blacklist + ordered top-k",
        "BroadcastHashJoin" in plan
        and "LeftAnti" in plan
        and "TakeOrderedAndProject" in plan
        and "Window" not in plan,
    )
    # tpch q9 (r10): part + supplier-nation broadcast; the one
    # non-broadcast join is fact-to-derived on the (part, supplier)
    # composite key; no rank window anywhere.
    plan = plan_of(registry["q_tpch_q9"](spark, SF_DIR))
    check(
        "tpch q9 broadcasts dims, fact-to-derived composite join",
        plan.count("BroadcastHashJoin") >= 2 and "Window" not in plan,
    )
    # tpch q11 (r10): the scalar total joins back as a one-row
    # broadcast nested loop; parts-sized aggregates; no window.
    plan = plan_of(registry["q_tpch_q11"](spark, SF_DIR))
    check(
        "tpch q11 scalar-total broadcast + parts-sized aggregates",
        "BroadcastNestedLoopJoin" in plan and "Window" not in plan,
    )
    # tpch q4 (r11): the correlated EXISTS decorrelates to exactly ONE
    # left-semi join on orderkey (never inner+distinct), and the
    # order-date quarter pushes into the orders scan.
    plan = plan_of(registry["q_tpch_q4"](spark, SF_DIR))
    check(
        "tpch q4 single semi-join EXISTS + pushed order-date quarter",
        plan.count("Join type: LeftSemi") == 1
        and plan.count("Join type:") == 1
        and "GreaterThanOrEqual(o_orderdate" in plan
        and "LessThan(o_orderdate" in plan,
    )
    # tpch q12 (r11): all line predicates (mode IN, the derived date
    # comparisons, the receipt window) filter lineitem BEFORE the one
    # orders join; two-group CASE sums aggregate map-side.
    plan = plan_of(registry["q_tpch_q12"](spark, SF_DIR))
    check(
        "tpch q12 filters lines below the single join, map-side CASE",
        plan.count("Join type:") == 1
        and "partial_sum" in plan
        and "Window" not in plan,
    )
    # tpch q21 (r11): the double-correlated EXISTS / NOT-EXISTS
    # decorrelates to a semi- + anti-join PAIR on orderkey, each with
    # the supplier-differs residual; the nation's suppliers broadcast
    # below them; no CartesianProduct (global sweep also checks) and
    # the top-100 is TakeOrderedAndProject.
    plan = plan_of(registry["q_tpch_q21"](spark, SF_DIR))
    check(
        "tpch q21 semi+anti decorrelation pair + ordered top-k",
        plan.count("Join type: LeftSemi") == 2  # EXISTS + F-order filter
        and plan.count("Join type: LeftAnti") == 1
        and "TakeOrderedAndProject" in plan
        and "Window" not in plan,
    )
    # bm25: the query-term filter must sit BELOW the tf aggregate — the
    # broadcast LeftSemi join consumes the raw token explode (Generate)
    # directly, so only matched posting lists ever shuffle; the full
    # corpus (doc, token) relation never feeds a corpus-wide exchange.
    # Both tf branches (score and df) must show the shape.
    plan = plan_of(registry["q_bm25"](spark, SF_DIR))
    semi_over_explode = re.findall(
        r"BroadcastHashJoin LeftSemi[^\n]*\n[^\n]*Generate", plan
    )
    check(
        "bm25 semi-joins query terms below the tf aggregate",
        len(semi_over_explode) >= 2,
        f"saw {len(semi_over_explode)} LeftSemi-over-Generate spans",
    )
    # bm25 over chunks (r8): the chunk generator must feed the SAME
    # LeftSemi-below-tf shape as whole-doc bm25 — only matched chunk
    # tokens shuffle.
    plan = plan_of(registry["q_bm25_chunks"](spark, SF_DIR))
    semi_over_explode = re.findall(
        r"BroadcastHashJoin LeftSemi[^\n]*\n[^\n]*Generate", plan
    )
    check(
        "bm25-chunks keeps the query-term semi-join below its tf aggregate",
        len(semi_over_explode) >= 2,
        f"saw {len(semi_over_explode)} LeftSemi-over-Generate spans",
    )
    # knn label prediction (r8): the query side must broadcast (an
    # explicit BroadcastNestedLoopJoin — the sweep separately asserts no
    # CartesianProduct anywhere) and the vote must not add a second
    # corpus shuffle beyond the per-query rank.
    plan = plan_of(registry["q_knn_label"](spark, SF_DIR))
    check(
        "knn label prediction broadcasts the query side",
        "BroadcastNestedLoopJoin" in plan,
    )
    # ivf-sq (r8): the search must run against the PERSISTED
    # cluster-partitioned codes store with literal probe clusters —
    # static partition pruning (cluster IN (...)) does the
    # inverted-list seek, so the SQ decode projection and candidate
    # read touch only the probed partitions (the r7 verdict's
    # whole-corpus decode + vec_id tag join are gone).
    plan = plan_of(registry["q_ann_ivfsq"](spark, SF_DIR))
    check(
        "ivfsq searches the stored codes with static partition pruning",
        bool(re.search(r"PartitionFilters: \[cluster#\d+ IN \(", plan)),
    )
    check(
        "ivfsq stored search has no vec_id tag join of corpus relations",
        "SortMergeJoin" not in plan,
    )
    # gopher rules: pure per-row column arithmetic — zero exchanges.
    # (No WholeStageCodegen span: the higher-order filter/aggregate
    # lambdas are CodegenFallback, so the projection evaluates
    # interpreted-but-JVM-side; still a single scan-bound pass.)
    plan = plan_of(registry["q_gopher_rules"](spark, SF_DIR))
    check(
        "gopher rules are a zero-shuffle projection",
        "Exchange" not in plan,
    )
    # mixing weights (r8): strata-keyed combine + two broadcast scalar
    # cross-joins — never a window or sort over the corpus.
    plan = plan_of(registry["q_mix_weights"](spark, SF_DIR))
    check(
        "mixing weights plan has no window and no sort",
        "Window" not in plan and "Sort " not in plan,
    )
    # ppl buckets (r8): bucket assignment is a broadcast-threshold join,
    # NOT an ntile window (a per-language window sorts the head language
    # in one task at 100 TB).
    plan = plan_of(registry["q_ppl_buckets"](spark, SF_DIR))
    check(
        "ppl buckets use broadcast thresholds, not an ntile window",
        "Window" not in plan and "BroadcastHashJoin" in plan,
    )
    # source quality report (r8): ONE scan of documents — the Gopher
    # booleans ride the same projection the aggregate consumes.
    plan = plan_of(registry["q_source_quality"](spark, SF_DIR))
    # count the detail headers only — the tree line repeats each scan
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    check(
        "source quality report reads documents exactly once",
        n_scans == 1,
        f"saw {n_scans} parquet scans",
    )

    # ---- 6c. round-2 operators --------------------------------------------
    # guarded dedup: the expansion joins must be plain equi-joins (hash
    # shuffles), never a cartesian, and the series-meta dispatch broadcasts
    plan = plan_of(registry["q_simhash_guarded"](spark, SF_DIR))
    check(
        "guarded simhash expansion stays equi-join",
        "CartesianProduct" not in plan,
    )
    plan = plan_of(registry["q_rollup_routed"](spark, SF_DIR))
    check(
        "routed cascade broadcasts series_meta",
        "BroadcastHashJoin" in plan,
    )
    check(
        "routed fetch broadcasts the slot side into the grid join",
        "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan,
    )
    # single-pass mixed fetch: K retention specs must plan exactly ONE scan
    # of the datapoints source (the per-spec RollupSet loop used to plan K)
    plan = plan_of(registry["q_render_mixed"](spark, SF_DIR))
    # count tree nodes ("Scan parquet  (id)"), not their detail sections
    n_scans = len(re.findall(r"Scan parquet\s*\S*\s*\(\d+\)", plan))
    check(
        "mixed_fetch plans exactly one datapoints scan for N specs",
        n_scans == 1,
        f"saw {n_scans} parquet scans",
    )

    # multi-probe IVF: both the probe ranking (queries x centroids) and
    # the candidate join (corpus x probed queries) must broadcast the tiny
    # side — the corpus is never shuffled for candidate generation
    plan = plan_of(registry["q_ann_ivf_probe2"](spark, SF_DIR))
    check(
        "ivf multi-probe broadcasts centroids and probe set",
        "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan,
    )

    plan = plan_of(registry["q_multireader"](spark, SF_DIR))
    check(
        "multireader merge partial-aggregates map-side",
        "partial_min_by" in plan,
    )
    plan = plan_of(registry["q_tfidf_terms"](spark, SF_DIR))
    check("tf-idf n_sources scalar broadcasts", "BroadcastNestedLoopJoin" in plan)

    # ---- 6d. round-4 operators --------------------------------------------
    # span-level dedup: the posting-list coverage join (postings x repeated
    # shingle hashes) must be an equi-join on the hash — a SortMergeJoin or
    # BroadcastHashJoin, never a nested-loop/cartesian; that is what keeps
    # the cost linear in covered postings at 100 TB
    plan = plan_of(registry["q_span_dedup"](spark, SF_DIR))
    check(
        "span dedup posting-list join is an equi-join",
        ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
         or "ShuffledHashJoin" in plan)
        and "CartesianProduct" not in plan
        and "BroadcastNestedLoopJoin" not in plan,
    )

    # IVF-PQ: candidate generation and ADC scoring must broadcast every
    # small side (probes, codebook lookup table) — the code/norm scan side
    # is never shuffled for scoring, and nothing degenerates to a cartesian
    plan = plan_of(registry["q_ann_ivfpq"](spark, SF_DIR))
    check(
        "ivfpq broadcasts probe set and ADC lookup table",
        "BroadcastHashJoin" in plan and "CartesianProduct" not in plan,
    )

    # round-4 session additions ------------------------------------------
    # SemDeDup: the within-cluster pair generation must be an EQUI-join on
    # the cluster id (sum-of-cluster-squares cost), never a nested loop
    plan = plan_of(registry["q_semdedup"](spark, SF_DIR))
    check(
        "semdedup pair generation is an equi-join on cluster",
        ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
         or "BroadcastHashJoin" in plan)
        and "CartesianProduct" not in plan,
    )
    # fuzzy decontamination: the eval side (bands + token sets) broadcasts;
    # the train corpus is never self-joined
    plan = plan_of(registry["q_fuzzy_contamination"](spark, SF_DIR))
    check(
        "fuzzy decontamination broadcasts the eval side",
        plan.count("BroadcastHashJoin") >= 2 and "CartesianProduct" not in plan,
    )
    # two-stage ANN re-rank: stage 2 joins the shortlist to full vectors by
    # vec_id with the query side broadcast — full-vector IO stays
    # shortlist-sized
    plan = plan_of(registry["q_ann_ivfpq_rerank"](spark, SF_DIR))
    check(
        "ivfpq re-rank stage is equi-join + broadcast query side",
        "BroadcastHashJoin" in plan and "CartesianProduct" not in plan,
    )
    # balanced sharding: the corpus-wide window partitions by stratum (a
    # global-ordering window would single-partition the corpus)
    plan = plan_of(registry["q_shard_balance"](spark, SF_DIR))
    check(
        "shard balance window partitions by stratum",
        bool(re.search(r"windowspecdefinition\(stratum", plan))
        and bool(re.search(r"hashpartitioning\(stratum", plan))
        and "SinglePartition" not in plan,
    )
    # adaptive quality gate: the per-language threshold table broadcasts
    # onto the scored corpus (languages-sized side, never shuffled)
    plan = plan_of(registry["q_adaptive_quality"](spark, SF_DIR))
    check(
        "adaptive quality thresholds broadcast",
        "BroadcastHashJoin" in plan and "CartesianProduct" not in plan,
    )

    # round-5: guarded n-gram jaccard — the guard-bounded hot set enters
    # the plan as a LITERAL in-list predicate (no join, no broadcast
    # exchange), candidate generation stays equi-join (no cartesian), and
    # the per-doc shingle sets are materialized once (checkpoint scan)
    # instead of recomputing token_shingles per consumer
    plan = plan_of(registry["q_ngram_jaccard"](spark, SF_DIR))
    check(
        "ngram jaccard literal hot predicate; equi-joins; one shingle pass",
        "CartesianProduct" not in plan
        and "BroadcastNestedLoopJoin" not in plan
        and "ExistingRDD" in plan,
    )

    # round-6: guarded cosine near-dup — identical vectors collapse to one
    # representative before the bucket self-join (hot-bucket guard): the
    # final plan consumes only the checkpoint cuts (ExistingRDD), so the
    # embeddings source is never re-scanned, the self-join stays an
    # equi-join over DISTINCT vectors, and nothing degenerates to a
    # cartesian even on an exact-duplicate-heavy corpus
    plan = plan_of(registry["q_dedup_embed"](spark, SF_DIR))
    check(
        "cosine near-dup self-joins collapsed reps from checkpoint cuts",
        "CartesianProduct" not in plan
        and "BroadcastNestedLoopJoin" not in plan
        and "ExistingRDD" in plan
        and "parquet" not in plan,
        "plan should contain only checkpoint scans",
    )

    # round-4: routed queries must not run a plan-time full-table scan or
    # aggregation to anchor "now" / resolve targets (the round-3 advisory).
    # Once the stats anchor is warm, the only jobs a build may launch are
    # metadata-scale (parquet footer inference: single-task stages) — a
    # datapoints aggregation would schedule shuffle.partitions-many tasks.
    st = spark.sparkContext.statusTracker()
    for qname in ("q_render_mixed", "q_rollup_routed"):
        registry[qname](spark, SF_DIR)  # warm the per-dataset stats anchor
        before = set(st.getJobIdsForGroup(None) or [])
        registry[qname](spark, SF_DIR)  # build only — no action
        new_jobs = sorted(set(st.getJobIdsForGroup(None) or []) - before)
        tasks = 0
        for j in new_jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        check(
            f"{qname} build runs no scan/agg job (metadata-only)",
            tasks <= 4,
            f"build-time jobs {new_jobs} ran {tasks} tasks",
        )

    # routed knn (r9): the kNN exclusion contract must be applied to
    # the CANDIDATE relation BEFORE the ANN stages — a broadcast
    # left-anti join on the |Q|-row query-id relation feeding the probe
    # join (an over-fetch-then-filter would need k + |Q| neighbours per
    # query at batch-labeling scale); and no corpus relation may reach
    # a sort-merge join.
    plan = plan_of(registry["q_knn_label_routed"](spark, SF_DIR))
    check(
        "routed knn anti-joins query ids out of the candidates",
        "BroadcastHashJoin LeftAnti" in plan,
    )
    check(
        "routed knn has no corpus sort-merge join",
        "SortMergeJoin" not in plan,
    )
    # composed ingest pipeline (r9): the gate is a pure projection
    # filter over ONE scan (no semi-join back to the docs — that would
    # broadcast a corpus-sized id set); the drop-set anti-join
    # hash-shuffles instead of sorting the survivor scan; the pack
    # window partitions by shard (never an empty partitionSpec).
    # Both pipeline_compose queries read one session pipeline run
    # (`_pipeline_run`) whose manifest is localCheckpoint-ed, so
    # q_ingest_pipeline's own plan is that checkpointed scan.  The
    # lineage the run checkpoints is pinned on the same composition
    # built without the vocab, where the manifest stays un-checkpointed.
    from datayours_spark.streaming.pipeline import ingest_pipeline_batch

    plan = plan_of(registry["q_ingest_pipeline"](spark, SF_DIR))
    check(
        "pipeline manifest query reads the checkpointed run",
        "Scan ExistingRDD" in plan and "windowspecdefinition" not in plan,
    )
    all_docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    is_eval = F.col("doc_id") % entrymod.FUZZY_EVAL_MOD == 0
    plan = plan_of(ingest_pipeline_batch(
        all_docs.where(~is_eval), min_words=entrymod.PIPE_MIN_WORDS,
        k=entrymod.WINNOW_K, w=entrymod.WINNOW_W,
        threshold=entrymod.WINNOW_T, shards=entrymod.PACK_SHARDS,
        capacity=entrymod.PACK_CAPACITY, gate_cols=entrymod.PIPE_GATE_COLS,
        eval_docs=all_docs.where(is_eval).select("doc_id", "text"),
        decon_threshold=entrymod.WINNOW_T,
    )[4])
    check(
        "pipeline gate filters in-scan (no semi-join back to docs)",
        "LeftSemi" not in plan,
    )
    check(
        "pipeline drop-set anti-join is shuffled-hash",
        "ShuffledHashJoin LeftAnti" in plan,
    )
    check(
        "pipeline pack window partitions by shard",
        bool(re.search(r"windowspecdefinition\(shard", plan)),
    )

    # pipeline payload stage (r10): the id-ization joins the broadcast
    # vocab (model state) into the kept docs' token stream, the chunk
    # aggregate partitions by (shard, chunk) — capacity-bounded group
    # state, never an empty-partitionSpec window or a corpus sort.
    plan = plan_of(registry["q_pipeline_payload"](spark, SF_DIR))
    check(
        "pipeline payload broadcasts the vocab into the id stream",
        "BroadcastHashJoin" in plan,
    )
    # r15: the pack manifest is localCheckpoint-ed inside
    # ingest_pipeline_batch (narrow decision table, computed once for
    # the manifest + payload branches instead of twice), so the
    # shard-partitioned pack window no longer appears in THIS plan —
    # it is pinned above on the un-checkpointed composition.  Here we pin what remains protective: the manifest
    # enters via the checkpointed scan and no window in the payload
    # stage has an empty partitionSpec.
    check(
        "pipeline payload reads the checkpointed pack manifest",
        "Scan ExistingRDD" in plan
        and not re.search(r"windowspecdefinition\(\s*\)", plan),
    )
    # quality classifier (r10): the weight table broadcasts (model
    # state), the doc-keyed combine is the only hash exchange.
    plan = plan_of(registry["q_quality_classifier"](spark, SF_DIR))
    check(
        "quality classifier broadcasts weights, one doc-keyed exchange",
        "BroadcastHashJoin" in plan
        and len(re.findall(r"Arguments: hashpartitioning\(", plan)) == 1,
    )
    # offline chunk shuffle (r10; exchange pin r11): key arithmetic is
    # row-local; the only window partitions by out_shard (never empty
    # partitionSpec), and the whole pass is exactly TWO hash exchanges
    # — the (lang, shard) token sum that derives the grid and the ONE
    # out_shard shuffle the position window consumes (task state = one
    # output shard's keys; the scale smoke measures it at the 1.5M
    # grid).
    plan = plan_of(registry["q_chunk_shuffle"](spark, SF_DIR))
    check(
        "chunk shuffle windows by out_shard, one out_shard exchange",
        bool(re.search(r"windowspecdefinition\(out_shard", plan))
        and len(re.findall(r"Arguments: hashpartitioning\(out_shard", plan))
        == 1
        and len(re.findall(r"Arguments: hashpartitioning\(", plan)) == 2,
    )

    # index bloom summary (r11): the probe side broadcasts into ONE
    # summary scan (small-probe regime at this SF) and the bitmap
    # build is the (hb, word)-keyed bit_or aggregate — never an
    # all-pairs relation.
    plan = plan_of(registry["q_index_summary"](spark, SF_DIR))
    check(
        "index summary broadcasts probes, bit_or bitmap build",
        "BroadcastHashJoin" in plan and "bit_or" in plan,
    )
    # BPE segmentation (r9): the learned merge table is a literal
    # replace chain — applying it must be a pure generator projection
    # over the token stream, ZERO exchanges (the induction loop runs
    # its own bounded jobs before this plan exists).
    plan = plan_of(registry["q_bpe_segment"](spark, SF_DIR))
    check(
        "bpe segmentation is a zero-exchange projection",
        "Exchange" not in plan,
    )
    # packed training sequences (r9): id stream ⋈ manifest, then one
    # chunk-keyed aggregate — exactly two data shuffles (the manifest
    # window's (lang, shard) partitioning and the chunk groupBy); the
    # vocab side enters via broadcast, never a corpus shuffle.
    plan = plan_of(registry["q_pack_ids"](spark, SF_DIR))
    check(
        "pack_ids needs exactly two data shuffles",
        len(re.findall(r"Arguments: hashpartitioning\(", plan)) == 2,
    )

    # ---- 7. sweep: no query in the gate degenerates to a cartesian -------
    registry = entrymod.queries()
    bad = []
    for qname, fn in sorted(registry.items()):
        if qname == "q_streaming_rollup":
            continue  # streaming plan; inspected via its own run
        try:
            if "CartesianProduct" in plan_of(fn(spark, SF_DIR)):
                bad.append(qname)
        except Exception as exc:  # noqa: BLE001
            bad.append(f"{qname} (plan error: {exc})")
    check("no gate query plans a CartesianProduct", not bad, str(bad) or "all clean")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all plan checks passed")
    spark.stop()


if __name__ == "__main__":
    main()
