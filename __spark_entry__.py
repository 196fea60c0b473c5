"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` smoke-runs the flagship multi-series alignment query at
sf0.001.  `queries()` exposes one callable per implemented operator from
SURVEY.md §2; `oracle_sql()` gives the DuckDB-equivalent ANSI SQL for the
driver's correctness gate (row-count + schema + order-insensitive value
hash at sf0.01).

Engine-determinism conventions (both sides follow them):
- time arithmetic in BIGINT epoch seconds: Spark `ts div 1e9` on the
  nanos-as-long parquet column == DuckDB `epoch_us(ts) // 1e6`;
- last-write-wins ordering key is epoch MICROseconds (`ts div 1000` ==
  `epoch_us(ts)`), exact in both engines;
- float aggregates are rounded (sums→2dp, ratios/avgs→4dp) so that
  summation-order ulp noise cannot flip the hash.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datayours_spark.io import (
    epoch_range_pred,
    epoch_us_col,
    load_table,
    session_cached,
    small_df,
    spread_scan,
)
from datayours_spark.operators.align import apply_null_policy, asof_resample
from datayours_spark.operators.fetch import fetch_grid, lww_slots, time_grid
from datayours_spark.operators.rollup import rollup
from datayours_spark.session import conf_scope
from datayours_spark.sources.events import datapoints_from_events
from datayours_spark.sources.plaintext import format_plaintext, parse_plaintext_lines

# ---------------------------------------------------------------- constants

T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC — events table epoch start
DAY = 86_400
FETCH_SERIES = "events.click.u1"
FETCH_FROM = T0 + 3_600
FETCH_UNTIL = T0 + 7 * DAY
MONTH_END = T0 + 30 * DAY
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

TPCH_Q1_CUTOFF = 946_684_800  # 2000-01-01
TPCH_Q3_DATE = 896_659_200  # 1998-06-01

# DuckDB relations equivalent to datayours_spark.sources.events adapters
DP_USER = (
    "SELECT 'events.' || event_type || '.u' || CAST(user_id % 10 AS VARCHAR) AS path, "
    "epoch_us(ts) // 1000000 AS ts_sec, epoch_us(ts) AS ts_us, value FROM events"
)
DP_TYPE = (
    "SELECT 'events.' || event_type AS path, "
    "epoch_us(ts) // 1000000 AS ts_sec, epoch_us(ts) AS ts_us, value FROM events"
)


def _slots_sql(dp_sql: str, step: int) -> str:
    """Last-write-wins quantized slots (oracle side of operators.fetch.lww_slots)."""
    return (
        f"SELECT path, ts_sec - ts_sec % {step} AS slot, arg_max(value, ts_us) AS value "
        f"FROM ({dp_sql}) dp GROUP BY 1, 2"
    )


# ---------------------------------------------------------------- queries

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: multi-series LWW rollup + grid alignment at sf0.001 (J1)."""
    return q_align_pivot(spark, "/root/testdata/sf0.001")


def q_ingest_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+P5: plaintext 'path value ts' round-trip then per-series stats."""
    dp = datapoints_from_events(spark, sf_dir)
    lines = format_plaintext(dp)
    parsed = parse_plaintext_lines(lines)
    return parsed.groupBy("path").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_fetch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7+J3+T4: dense-grid fetch of one series, nulls where no point."""
    dp = datapoints_from_events(spark, sf_dir)
    return fetch_grid(spark, dp, FETCH_SERIES, FETCH_FROM, FETCH_UNTIL, 3_600)


def _q_rollup(method: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        dp = datapoints_from_events(spark, sf_dir)
        fine = lww_slots(dp, 60)
        out = rollup(fine, 60, 3_600, method=method, xff=0.0)
        value = F.round("value", 4) if method in ("average", "sum") else F.col("value")
        return out.select("path", "slot", value.alias("value"), "known")

    return run


def q_rollup_xff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: xFilesFactor gate — only windows with >=20% known fine slots."""
    dp = datapoints_from_events(spark, sf_dir, per_user=False)
    fine = lww_slots(dp, 60)
    out = rollup(fine, 60, 600, method="average", xff=0.2)
    return out.select("path", "slot", F.round("value", 4).alias("value"), "known")


def q_align_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+O1: union time axes of 5 series, one column per series, time-sorted."""
    dp = datapoints_from_events(spark, sf_dir, per_user=False)
    slots = lww_slots(dp, 21_600).withColumn("t", F.expr("substring(path, 8)"))
    return (
        slots.groupBy("slot")
        .pivot("t", EVENT_TYPES)
        .agg(F.first("value"))
        .orderBy("slot")
    )


def q_asof_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: backward as-of resample of irregular samples onto a 6h grid."""
    dp = datapoints_from_events(spark, sf_dir, per_user=False)
    samples = (
        dp.groupBy("path", "ts_sec").agg(F.max_by("value", "ts_us").alias("value"))
    )
    return asof_resample(spark, samples, T0, MONTH_END, 21_600)


def _null_policy_grid(spark: SparkSession, sf_dir: str, policy: str) -> DataFrame:
    """Dense fetch grid through the multi-series render surface: the grid
    keeps its REAL path column, so the null-policy window partitions by the
    series key (a literal column would be constant-folded out of the
    partition spec, bringing back the WindowExec single-partition
    warning)."""
    from datayours_spark import api

    dp = datapoints_from_events(spark, sf_dir)
    return api.render_grid(
        spark, dp, targets=FETCH_SERIES,
        from_=FETCH_FROM, until_=FETCH_UNTIL, step=3_600, now=FETCH_UNTIL,
        null_policy=policy,
    )


def q_null_policy_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: drawNullAs=zero over the dense fetch grid."""
    return _null_policy_grid(spark, sf_dir, "zero").select("slot", "value")


def q_null_policy_hold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: drawNullAs=hold (LOCF) over the dense fetch grid."""
    return _null_policy_grid(spark, sf_dir, "hold").select("slot", "value")


def q_null_policy_connected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: connected line mode — interior null runs linearly interpolated
    between their surrounding observations (the reference draws this at
    plot time, `L_DataGraph.lua:149-156, 264`); edge nulls stay null."""
    grid = _null_policy_grid(spark, sf_dir, "connected")
    return grid.select("slot", F.round("value", 6).alias("value"))


def q_tally_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+A7: per-series update tally and oldest/newest timestamps."""
    dp = datapoints_from_events(spark, sf_dir)
    return dp.groupBy("path").agg(
        F.count("*").alias("n"),
        F.min("ts_sec").alias("min_ts"),
        F.max("ts_sec").alias("max_ts"),
    )


def q_treemap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: hierarchy rollup counts over path levels (GROUPING SETS)."""
    dp = datapoints_from_events(spark, sf_dir)
    levels = dp.select(
        F.split("path", "\\.").getItem(1).alias("l2"),
        F.split("path", "\\.").getItem(2).alias("l3"),
    )
    return levels.rollup("l2", "l3").agg(F.count("*").alias("n"))


def q_catalog_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5+F6+§2.11: glob find with brace expansion over the series catalog."""
    from datayours_spark.kernel.globs import glob_path_to_regex

    regexes = glob_path_to_regex("events.{click,view}.u*")
    dp = datapoints_from_events(spark, sf_dir)
    catalog = dp.select("path").distinct()
    cond = F.col("path").rlike(regexes[0])
    for r in regexes[1:]:
        cond = cond | F.col("path").rlike(r)
    return catalog.where(cond).orderBy("path")


def q_maxpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: per-series ascending scan capped at maxpoints=20 from t1."""
    dp = datapoints_from_events(spark, sf_dir)
    t1 = T0 + 4 * DAY
    w = Window.partitionBy("path").orderBy("ts_us")
    return (
        dp.where(F.col("ts_sec") >= t1)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("path", "ts_sec", "value", F.col("rn").cast("long").alias("rn"))
    )


def q_clamp_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: per-channel DataOffset + [FilterMinimum, FilterMaximum] clamp."""
    dp = datapoints_from_events(spark, sf_dir, per_user=False)
    cfg = small_df(
        spark,
        CHANNEL_CONFIG,
        "path string, offset double, enable int, lo double, hi double",
    )
    joined = dp.join(F.broadcast(cfg), "path")
    clamped = F.when(
        F.col("enable") == 1,
        F.least(F.greatest(F.col("value") + F.col("offset"), F.col("lo")), F.col("hi")),
    ).otherwise(F.col("value") + F.col("offset"))
    return (
        joined.select("path", clamped.alias("v"))
        .groupBy("path")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("v"), 2).alias("sum_v"),
            F.round(F.avg("v"), 4).alias("avg_v"),
        )
    )


CHANNEL_CONFIG = [
    ("events.click", 10.0, 1, 0.0, 150.0),
    ("events.purchase", 0.0, 1, 20.0, 100.0),
    ("events.view", -5.0, 0, 0.0, 0.0),
    ("events.signup", 0.0, 1, 50.0, 200.0),
    ("events.error", 100.0, 1, 0.0, 250.0),
]

REWRITE_RULES = [
    # (pattern, spark_replacement, duckdb_replacement) — anchored so the
    # reference's replace-once semantics hold in both engines
    (r"^events\.(click|view)\.", r"web.$1.", r"web.\1."),
    (r"\.u([0-9]+)$", r".user$1", r".user\1"),
]


def q_rewrite_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: first-matching-rule path rename, applied once."""
    dp = datapoints_from_events(spark, sf_dir)
    p1, s1, _ = REWRITE_RULES[0]
    p2, s2, _ = REWRITE_RULES[1]
    renamed = (
        F.when(F.col("path").rlike(p1), F.regexp_replace("path", p1, s1))
        .when(F.col("path").rlike(p2), F.regexp_replace("path", p2, s2))
        .otherwise(F.col("path"))
    )
    return dp.select(renamed.alias("path")).groupBy("path").agg(F.count("*").alias("n"))


TRANSLATION = {"click": 1.0, "view": 2.0, "purchase": 3.0}


def q_translation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: symbolic value translation; unknown symbols dropped (P5)."""
    events = load_table(spark, sf_dir, "events")
    mapping = F.create_map(
        *[F.lit(x) for kv in TRANSLATION.items() for x in kv]
    )
    translated = events.select(
        F.concat(F.lit("events."), F.col("event_type")).alias("path"),
        mapping.getItem(F.col("event_type")).alias("code"),
    ).where(F.col("code").isNotNull())
    return translated.groupBy("path").agg(
        F.count("*").alias("n"), F.round(F.sum("code"), 2).alias("sum_code")
    )


def q_interval_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: per-series [min,max] interval intersected with a query window."""
    lo, hi = T0 + 9 * DAY, T0 + 19 * DAY
    dp = datapoints_from_events(spark, sf_dir)
    iv = dp.groupBy("path").agg(F.min("ts_sec").alias("s"), F.max("ts_sec").alias("e"))
    return (
        iv.select(
            "path",
            F.greatest(F.col("s"), F.lit(lo)).alias("ostart"),
            F.least(F.col("e"), F.lit(hi)).alias("oend"),
        )
        .where(F.col("ostart") <= F.col("oend"))
        .withColumn("olen", F.col("oend") - F.col("ostart"))
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (bench headline aggregation)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        # epoch_range_pred filters the RAW shipdate column so the cutoff
        # pushes into the parquet scan (<= c over whole-second data is
        # the half-open < c+1); a predicate on the derived _sec
        # projection never reaches PushedFilters
        li.where(epoch_range_pred(li, "l_shipdate", end_sec=TPCH_Q1_CUTOFF + 1))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority: 3-way join, agg, top-10."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    orders = orders.where(
        epoch_range_pred(orders, "o_orderdate", end_sec=TPCH_Q3_DATE)
    )
    li = load_table(spark, sf_dir, "lineitem")
    # strict > over whole-second data is >= date+1 — still pushable
    li = li.where(
        epoch_range_pred(li, "l_shipdate", start_sec=TPCH_Q3_DATE + 1)
    )
    return (
        li.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate_sec"),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(F.broadcast(cust.select("c_custkey")), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate_sec")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


#: TPC-H Q5 constants: region + the [1996-01-01, 1997-01-01) order window
TPCH_Q5_REGION = "ASIA"
TPCH_Q5_START = 820_454_400
TPCH_Q5_END = 852_076_800


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local-supplier revenue: the SIX-table join
    (customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region) with the
    same-nation correlation (c_nationkey = s_nationkey) — the classic
    join-order/broadcast showcase.

    Join order matters because Catalyst won't reorder without CBO stats:
    the region predicate is folded into a broadcast ``nation ⋈ region``
    dim FIRST, and both supplier (inner, picks up n_name) and customer
    (semi) join against that KB-scale broadcast BEFORE any fact join —
    so the 4/5 of customers/suppliers outside the region never enter
    the cust⋈orders⋈lineitem shuffles (~5× less data through the three
    big exchanges at 100 TB; the r7 verdict measured the old
    prune-last order paying that).  The date predicate pushes into the
    orders scan; AQE is free to pick broadcast for supplier while it
    fits.  Exercises the supplier table no other gate query touches."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    orders = orders.where(
        epoch_range_pred(orders, "o_orderdate", TPCH_Q5_START, TPCH_Q5_END)
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == TPCH_Q5_REGION
    )
    # region prune first: a KB-scale broadcast dim both halves filter on
    nr = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    supp_r = supp.join(
        F.broadcast(nr), supp.s_nationkey == nr.n_nationkey
    ).select("s_suppkey", "s_nationkey", "n_name")
    cust_r = cust.join(
        F.broadcast(nr.select("n_nationkey")),
        cust.c_nationkey == F.col("n_nationkey"),
        "left_semi",
    )
    return (
        cust_r.join(orders, cust_r.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(
            supp_r,
            (li.l_suppkey == supp_r.s_suppkey)
            & (cust_r.c_nationkey == supp_r.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


RP_OUT_DIM = 16


def q_embed_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection of the 64-d embeddings to 16 dims
    (Achlioptas ±1 matrix, deterministic md5-derived signs) — the
    footprint-cut preprocessing for cheaper downstream ANN/dedup.
    ZERO-shuffle projection; plancheck pins no exchange.

    r15: pinned to the Arrow matmul form — the production path the
    auto-dispatcher already picks above 4,096 matrix literals (the
    literal fold re-evaluates the matrix inside an interpreted lambda
    per row: measured 4.7 s vs 2.1 s at sf0.1, and ~4 rows/s vs 51k
    rows/s at production dims).  Output byte-equality fold↔arrow is
    pinned by the differential tests and re-verified against the
    DuckDB oracle at sf0.001/0.01/0.1 this round (decimal HALF_UP
    rounding on both sides)."""
    from datayours_spark.functions.similarity import project_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    return project_embeddings(emb, ANN_DIM, RP_OUT_DIM, force="arrow")


def q_rp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fidelity of the JL projection for retrieval: per query, the
    overlap between cosine top-k in the PROJECTED 16-d space and the
    exact 64-d top-k — the recall@k dial that tells you whether the 4×
    footprint cut is safe for a given corpus (the honest-metrics
    companion every compressed index here ships: q_ann_recall for
    IVF-PQ, the 0.98 SQ overlap, now the JL rung)."""
    from datayours_spark.functions.similarity import (
        cosine_topk,
        project_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(N_ANN_QUERIES))
    exact = cosine_topk(emb, qids, ANN_TOP_K).select(
        "query_id", "vec_id"
    )
    # r15: Arrow matmul form (see q_embed_project) — the fold form's
    # interpreted per-row matrix re-evaluation was ~4 s of this query's
    # projected branch at sf0.1; results byte-equal, oracle-verified
    proj = project_embeddings(emb, ANN_DIM, RP_OUT_DIM, force="arrow")
    proj_emb = proj.select(
        "vec_id",
        F.array(
            *[F.col(f"p{j:02d}") for j in range(1, RP_OUT_DIM + 1)]
        ).alias("embedding"),
    )
    approx = cosine_topk(proj_emb, qids, ANN_TOP_K).select(
        "query_id", "vec_id"
    )
    return (
        exact.join(
            approx.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left"
        )
        .groupBy("query_id")
        .agg(F.coalesce(F.sum("hit"), F.lit(0)).alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            F.round(F.col("n_overlap") / ANN_TOP_K, 4).alias("recall"),
        )
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style forecasting revenue change: the pure
    filter-and-aggregate probe — ship date in a one-year window,
    discount band, quantity cap, ONE global sum.  The point at 100 TB
    is the plan, not the arithmetic: all three predicates push into the
    parquet scan (PushedFilters prunes row groups by min/max), the scan
    reads only the four referenced columns, and the sum partial-aggs
    map-side into a single-row exchange — plancheck pins pushdown and
    ReadSchema width."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        epoch_range_pred(li, "l_shipdate", TPCH_Q5_START, TPCH_Q5_END)
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
        .alias("revenue")
    )


TPCH_Q10_START = 820_454_400   # 1996-01-01
TPCH_Q10_END = 828_316_800     # 1996-04-01 (the 3-month Q10 window)
TPCH_Q10_TOP = 20


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item reporting: top-20 customers by
    revenue lost to returns in a quarter — customer ⋈ orders(window) ⋈
    lineitem(returnflag = 'R') ⋈ broadcast nation.

    Join order: the date-windowed orders hit lineitem first (both
    predicates pushed into their scans, so the orderkey shuffle carries
    one quarter × one returnflag of the fact data), customer joins the
    reduced fact on custkey, nation broadcasts.  The top-20 is
    ``orderBy().limit()`` → TakeOrderedAndProject (bounded per-partition
    state), NOT a global rank window; ties break by custkey so the
    selected set is engine-deterministic."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    orders = orders.where(
        epoch_range_pred(orders, "o_orderdate", TPCH_Q10_START, TPCH_Q10_END)
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        # exact decimal accumulation: a double sum's last-ulp wobble is
        # order-dependent and CAN land a group on a .xx5 rounding
        # boundary (one did at sf0.01); the per-row double→decimal(18,6)
        # conversion is engine-identical, and the decimal sum is exact
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(18,6)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(TPCH_Q10_TOP)
    )


NOVELTY_N = 3


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation matrix: labeled language × the profile
    heuristic's prediction, with counts — the confusion audit run before
    trusting an LID gate for routing (the heuristic's misses concentrate
    somewhere specific; this shows WHERE).  One zero-shuffle scoring
    projection + one two-key map-side-combinable aggregate."""
    from datayours_spark.functions.text import predict_lang

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", predict_lang("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


def q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram novelty: the fraction of a doc's distinct
    3-shingles first seen (lowest doc_id) in that doc — the
    contributes-new-text signal behind novelty-based selection; the
    complement of the pairwise dedup families.  Posting-list shape:
    one min-aggregate + one join, no pairwise term."""
    from datayours_spark.functions.dedup import ngram_novelty

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(docs, n=NOVELTY_N)


def q_drop_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning AUDIT table — per document, WHICH gate
    would drop it and the final keep verdict: fails_gopher (the rule
    set), ppl_tail (worst LM-score tercile within its language),
    exact_dup (a non-canonical verbatim copy — lowest doc_id per text
    survives).  The per-reason booleans are what an ablation or a
    pipeline-debug session reads; ``keep`` is their conjunction.

    Shape: the Gopher booleans ride a zero-shuffle projection; the LM
    tercile reuses the broadcast-threshold bucketing; exact-dup is one
    md5 aggregate broadcast-min per text (min(doc_id) per md5 is a
    map-side-combinable aggregate, joined back on the hash)."""
    from datayours_spark.functions.text import gopher_rules, ppl_buckets

    docs = load_table(spark, sf_dir, "documents")
    g = gopher_rules(docs).select(
        "doc_id", (~F.col("pass_all")).alias("fails_gopher")
    )
    p = ppl_buckets(docs, by="lang").select(
        "doc_id", (F.col("bucket") == "tail").alias("ppl_tail")
    )
    canon = (
        docs.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("canonical_id"))
    )
    d = (
        docs.select("doc_id", F.md5("text").alias("h"))
        .join(canon, "h")
        .select(
            "doc_id",
            (F.col("doc_id") != F.col("canonical_id")).alias("exact_dup"),
        )
    )
    return (
        g.join(p, "doc_id")
        .join(d, "doc_id")
        .select(
            "doc_id",
            "fails_gopher",
            "ppl_tail",
            "exact_dup",
            (
                ~F.col("fails_gopher")
                & ~F.col("ppl_tail")
                & ~F.col("exact_dup")
            ).alias("keep"),
        )
    )


PROTO_DROP_FRAC = 0.2


def q_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototype pruning (Sorscher et al. 2022): flag the 20% most
    prototypical members of each learned k-means cluster (highest cosine
    to their own centroid) for removal — keep-hard data pruning over the
    embedding store, reusing the session's coarse quantizer and stored
    assignment.  Per-cluster thresholds are a clusters-sized broadcast,
    never a rank window."""
    from datayours_spark.functions.similarity import prototype_prune

    emb = load_table(spark, sf_dir, "embeddings")
    return prototype_prune(
        emb,
        _ann_centroids(spark, sf_dir),
        _ann_assignments(spark, sf_dir),
        drop_frac=PROTO_DROP_FRAC,
    )


TPCH_Q14_START = 820_454_400   # 1996-01-01
TPCH_Q14_END = 823_132_800     # 1996-02-01 (the one-month Q14 window)


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promotion effect: the share of one month's
    revenue from PROMO-type parts — lineitem ⋈ part with a conditional
    sum, the only gate query exercising the ``part`` table.

    The ship-date window pushes into the lineitem scan
    (epoch_range_pred on the raw column), part broadcasts (a dimension
    — KBs here, low GBs at 100 TB, still the broadcast side against a
    month of fact rows), and both sums partial-agg map-side into a
    single-row exchange.  Exact decimal accumulation, the Q10
    precedent: the ratio of two order-wobbled double sums can straddle
    a rounding boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    li = li.where(
        epoch_range_pred(li, "l_shipdate", TPCH_Q14_START, TPCH_Q14_END)
    )
    part = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev)).alias("_promo"),
            F.sum(rev).alias("_total"),
        )
        .select(
            F.round(
                100.0 * F.col("_promo").cast("double")
                / F.col("_total").cast("double"),
                4,
            ).alias("promo_revenue_pct")
        )
    )


TPCH_Q18_QTY = 300
TPCH_Q18_TOP = 100


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume customers: orders whose total
    lineitem quantity exceeds a threshold, with their customer — the
    aggregate-HAVING-as-semijoin shape no other gate query exercises.

    The per-order quantity sum is ONE map-side-combinable aggregate
    whose HAVING filter collapses the order set to a sliver BEFORE any
    join (at 100 TB this is the difference between joining 1e11
    lineitems and joining the few thousand qualifying orders); the
    qualifying set carries its sum, so the fact table is scanned exactly
    once — no re-join of lineitem for the final sum.  Top-100 is
    ``orderBy().limit()`` → TakeOrderedAndProject, ties broken by
    orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .where(F.col("sum_qty") > TPCH_Q18_QTY)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate_sec",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(
            F.col("o_totalprice").desc(), "o_orderdate_sec", "o_orderkey"
        )
        .limit(TPCH_Q18_TOP)
    )


def _year_col(df: DataFrame, col: str) -> F.Column:
    """UTC calendar year of a raw fixture timestamp column, robust to
    both physical encodings (long nanos / TIMESTAMP[_NTZ]) — the
    grouping companion of io.epoch_range_pred.  Derived by integer
    day arithmetic on the epoch (``date_from_unix_date``), so the
    result is the UTC year under ANY ``spark.sql.session.timeZone``
    — no TIMESTAMP_LTZ rendering is involved."""
    from datayours_spark.io import epoch_us_col

    return F.year(
        F.date_from_unix_date(
            F.floor(
                epoch_us_col(df, col) / F.lit(86_400_000_000)
            ).cast("int")
        )
    ).cast("long")


TPCH_Q7_N1 = "NATION_3"
TPCH_Q7_N2 = "NATION_7"
TPCH_Q7_START = 820_454_400   # 1996-01-01
TPCH_Q7_END = 883_612_800     # 1998-01-01


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style volume shipping: revenue flowing between two
    nations per year, keyed by (supplier nation, customer nation,
    year) for either direction of the pair.

    Plan shape: both dimension chains (supplier→nation, customer→
    orders' nation) fold into KB-scale broadcasts BEFORE the fact
    joins; the ship-date window pushes into the lineitem scan; the
    nation-pair predicate is applied on the joined dims (4 rows of
    model state drive it), and the single fact⋈fact shuffle is
    lineitem ⋈ orders on orderkey.  Decimal-exact revenue."""
    nation = load_table(spark, sf_dir, "nation")
    pair = nation.where(F.col("n_name").isin(TPCH_Q7_N1, TPCH_Q7_N2))
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(pair.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(pair.select(
            F.col("n_nationkey").alias("cn_key"),
            F.col("n_name").alias("cust_nation"),
        )),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey", "cust_nation")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem")
    li = li.where(
        epoch_range_pred(li, "l_shipdate", TPCH_Q7_START, TPCH_Q7_END)
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    joined = (
        li.select(
            "l_orderkey", "l_suppkey",
            rev.alias("volume"),
            _year_col(li, "l_shipdate").alias("l_year"),
        )
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("volume").alias("_rev"))
        .select(
            "supp_nation", "cust_nation", "l_year",
            F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
        )
    )


TPCH_Q8_TYPE = "PROMO"
TPCH_Q8_REGION = "ASIA"
TPCH_Q8_NATION = "NATION_2"
TPCH_Q8_START = 820_454_400   # 1996-01-01
TPCH_Q8_END = 883_612_800     # 1998-01-01


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style national market share: of the revenue a region's
    customers spent on one part type per year, the fraction supplied by
    one nation — the conditional-share aggregate over a 7-table join.

    Plan shape: part (type-filtered) and the region's nation set fold
    into broadcasts; customers semi-join the region dim before touching
    orders; the supplier→nation broadcast carries the CASE nation name;
    lineitem ⋈ orders is the one fact⋈fact shuffle.  Decimal-exact
    sums; the share divides two decimals at the end."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == TPCH_Q8_REGION
    )
    nr = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey")
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nr),
        F.col("c_nationkey") == nr.n_nationkey,
        "left_semi",
    ).select("c_custkey")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_type") == TPCH_Q8_TYPE
    ).select("p_partkey")
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    orders = load_table(spark, sf_dir, "orders")
    orders = orders.where(
        epoch_range_pred(orders, "o_orderdate", TPCH_Q8_START, TPCH_Q8_END)
    )
    o_year = _year_col(orders, "o_orderdate")
    orders = orders.select(
        "o_orderkey", "o_custkey", o_year.alias("o_year")
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
        .select("o_year", rev.alias("volume"), "supp_nation")
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.sum(
                F.when(
                    F.col("supp_nation") == TPCH_Q8_NATION, F.col("volume")
                ).otherwise(F.lit(0).cast("decimal(18,6)"))
            ).alias("_nat"),
            F.sum("volume").alias("_tot"),
        )
        .select(
            "o_year",
            F.round(
                F.col("_nat").cast("double") / F.col("_tot").cast("double"),
                6,
            ).alias("mkt_share"),
        )
    )


TPCH_Q15_START = 820_454_400   # 1996-01-01
TPCH_Q15_END = 828_316_800     # 1996-04-01


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style top supplier: each supplier's revenue over one
    quarter, keeping the supplier(s) whose revenue equals the global
    maximum.

    Plan shape: the quarter window pushes into the lineitem scan; ONE
    supplier-keyed aggregate builds the revenue relation
    (suppliers-sized); the global max is a single-row broadcast joined
    back by DECIMAL equality (exact — a double-sum max could tie-break
    differently across engines); supplier names arrive by broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    li = li.where(
        epoch_range_pred(li, "l_shipdate", TPCH_Q15_START, TPCH_Q15_END)
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).alias("total_rev")
    )
    mx = revenue.agg(F.max("total_rev").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        revenue.join(F.broadcast(mx), F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            F.col("supplier_no").cast("long").alias("s_suppkey"),
            "s_name",
            F.round(F.col("total_rev").cast("double"), 2).alias(
                "total_revenue"
            ),
        )
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style customer order-count distribution: how many
    customers placed exactly N orders, INCLUDING the zero-order
    customers a plain join would drop (the left-outer + two-level
    aggregate shape; the fixture has no o_comment, so the comment
    exclusion is omitted).

    Plan shape: orders pre-aggregate to (custkey, count) BEFORE the
    outer join — the join then moves one row per customer instead of
    one per order (at 100 TB, ~10× less through the exchange);
    zero-order customers enter via the left join's NULL→0."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey"))
        .agg(F.count("*").alias("c_count"))
    )
    counts = cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "left"
    ).select(F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count"))
    return (
        counts.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .select(F.col("c_count").cast("long"), F.col("custdist"))
    )


TPCH_Q17_BRAND = "Brand#1"
TPCH_Q17_MAX_SIZE = 5


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style small-quantity revenue: average yearly revenue
    lost if orders below 20% of a part's average quantity were not
    taken — the correlated-scalar-subquery shape, decorrelated into a
    per-part aggregate joined back (the fixture has no p_container, so
    the brand + small-size filter stands in).

    Plan shape: the brand/size part filter folds into a broadcast that
    prunes lineitem BEFORE the per-part average (both lineitem passes
    touch only the filtered parts); the per-part avg relation is
    parts-sized and joins back by partkey; decimal-exact sum."""
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == TPCH_Q17_BRAND)
        & (F.col("p_size") <= TPCH_Q17_MAX_SIZE)
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == part.p_partkey
    )
    avg_qty = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    )
    small = li.join(avg_qty, "l_partkey").where(
        F.col("l_quantity") < F.col("qty_cut")
    )
    total = small.agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias("_s")
    )
    return total.select(
        F.round(F.col("_s").cast("double") / 7.0, 4).alias("avg_yearly")
    )


TPCH_Q2_REGION = "EUROPE"
TPCH_Q2_TYPE = "PROMO"
TPCH_Q2_MAX_SIZE = 10
TPCH_Q2_TOP = 50


def _region_suppliers(spark: SparkSession, sf_dir: str, region: str):
    """Suppliers enriched to their nation, filtered to one region —
    the shared supplier→nation→region broadcast spine of Q2/Q20."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == region
    )
    nat = nation.join(
        F.broadcast(reg), nation.n_regionkey == reg.r_regionkey
    ).select("n_nationkey", "n_name")
    return supp.join(
        F.broadcast(nat), supp.s_nationkey == nat.n_nationkey
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style minimum-cost supplier: for each qualifying part,
    the region's suppliers achieving the part's MINIMUM supply cost —
    the classic correlated `= (SELECT min(ps_supplycost) …)` subquery,
    decorrelated into a parts-sized per-part min joined back on
    (partkey, cost).  The fixture ships no partsupp table, so the
    supply relation derives from lineitem: each (part, supplier)'s
    minimum observed unit price (min l_extendedprice / l_quantity) —
    same shape, same decorrelation.

    Plan shape: part filter (type + size) and the region supplier
    spine both BROADCAST into the lineitem scan, so the only
    corpus-sized aggregate is the (part, supplier) group — map-side
    combinable; the per-part min relation is parts-sized and joins
    back; the final global top-N plans TakeOrderedAndProject (never a
    single-task global sort).  The cost equality join compares doubles
    each engine derived through the identical expression — no
    accumulation-order hazard (min of exact divisions)."""
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == TPCH_Q2_TYPE)
        & (F.col("p_size") <= TPCH_Q2_MAX_SIZE)
    ).select("p_partkey", "p_brand")
    rs = _region_suppliers(spark, sf_dir, TPCH_Q2_REGION)
    li = load_table(spark, sf_dir, "lineitem")
    ps = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(rs), li.l_suppkey == rs.s_suppkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.col("l_extendedprice") / F.col("l_quantity")
            ).alias("cost")
        )
    )
    min_cost = ps.groupBy("l_partkey").agg(F.min("cost").alias("min_cost"))
    best = ps.join(min_cost, "l_partkey").where(
        F.col("cost") == F.col("min_cost")
    )
    return (
        best.join(F.broadcast(rs), best.l_suppkey == rs.s_suppkey)
        .join(
            F.broadcast(part),
            F.col("l_partkey") == part.p_partkey,
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").cast("long").alias("p_partkey"),
            "p_brand",
            F.round("cost", 4).alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(TPCH_Q2_TOP)
    )


TPCH_Q9_NOUN = "gear"


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style product-type profit: net profit of one product
    family per (nation, year) — the classic six-table join whose cost
    side comes from partsupp.  The fixture ships no partsupp, so the
    supply-cost relation derives from lineitem exactly as in
    :func:`q_tpch_q2` (each (part, supplier)'s minimum observed unit
    price): profit = revenue − supplycost · quantity.

    Plan shape: the name-filtered part broadcasts into BOTH lineitem
    passes (the cost derivation and the fact scan), supplier→nation
    broadcasts, and the one non-broadcast join is fact-to-derived on
    the (part, supplier) composite key — the aggregated-subquery join
    Q9 is known for; year extraction via the session-tz-independent
    `_year_col`; decimal-exact profit accumulation (the Q10 boundary
    lesson)."""
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").contains(TPCH_Q9_NOUN)
    ).select("p_partkey")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    sn = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    li = load_table(spark, sf_dir, "lineitem")
    li_p = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    ps = li_p.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost")
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("cost") * F.col("l_quantity")
    ).cast("decimal(18,6)")
    return (
        li_p.join(ps, ["l_partkey", "l_suppkey"])
        .join(F.broadcast(sn), F.col("l_suppkey") == sn.s_suppkey)
        .select(
            "n_name",
            _year_col(li, "l_shipdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("n_name", "o_year")
        .agg(
            F.round(F.sum("amount").cast("double"), 4).alias("sum_profit")
        )
        .orderBy("n_name", F.col("o_year").desc())
    )


TPCH_Q11_NATION = "NATION_7"
TPCH_Q11_FRAC = 0.0015


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style important-stock identification: parts whose
    supply value held by ONE nation's suppliers exceeds a fraction of
    that nation's total — the classic GROUP BY with a scalar-subquery
    HAVING.  The fixture ships no partsupp: supply value derives from
    lineitem as (min observed unit price) × (total quantity the pair
    shipped), per (part, supplier) of the nation.

    Plan shape: the nation's suppliers broadcast into the lineitem
    scan (everything downstream is that nation's slice); the scalar
    total is a ONE-ROW aggregate joined back as a broadcast nested
    loop (never a CartesianProduct); parts-sized aggregates
    throughout; decimal-exact value sums so the threshold compare is
    engine-stable."""
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == TPCH_Q11_NATION
    )
    sn = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem")
    li_n = li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
    ps = li_n.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.col("l_extendedprice") / F.col("l_quantity")
        ).alias("cost"),
        F.sum("l_quantity").alias("qty"),
    )
    pv = ps.groupBy("l_partkey").agg(
        F.sum(
            (F.col("cost") * F.col("qty")).cast("decimal(18,6)")
        ).alias("value")
    )
    total = pv.agg(F.sum("value").alias("tot"))
    return (
        pv.join(F.broadcast(total))
        .where(F.col("value") > F.lit(TPCH_Q11_FRAC) * F.col("tot"))
        .select(
            F.col("l_partkey").cast("long").alias("p_partkey"),
            F.round(F.col("value").cast("double"), 4).alias("value"),
        )
        .orderBy(F.col("value").desc(), "p_partkey")
    )


TPCH_Q16_EXCL_BRAND = "Brand#4"
TPCH_Q16_EXCL_TYPE = "PROMO"
TPCH_Q16_SIZES = (1, 4, 9, 14, 19, 23, 36, 45)
TPCH_Q16_TOP = 40


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier-count-by-part-descriptor: how many
    DISTINCT suppliers can supply each (brand, type, size) bucket,
    excluding one brand, one type and a blacklist of suppliers — the
    classic NOT-IN-subquery + count(distinct) shape.  The fixture
    ships no partsupp or s_comment: the supply relation derives from
    lineitem's observed (part, supplier) pairs, and suppliers with a
    NEGATIVE account balance stand in for the complaints blacklist.

    Plan shape: the part filter broadcasts into the lineitem scan; the
    supplier blacklist is a broadcast ANTI-join (the decorrelated
    NOT IN); the distinct-supplier count is the only two-phase
    aggregate and its key space is parts-descriptor-sized; the global
    top-N plans TakeOrderedAndProject."""
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != TPCH_Q16_EXCL_BRAND)
        & (F.col("p_type") != TPCH_Q16_EXCL_TYPE)
        & F.col("p_size").isin(list(TPCH_Q16_SIZES))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    ps = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
    )
    return (
        ps.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
        .limit(TPCH_Q16_TOP)
    )


TPCH_Q20_PREFIX = "red "
TPCH_Q20_REGION = "ASIA"
TPCH_Q20_START = 852_076_800   # 1997-01-01
TPCH_Q20_END = 883_612_800     # 1998-01-01


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style excess-stock suppliers: which of a region's
    suppliers hold MORE than half a year's demand of name-prefixed
    parts — the classic nested semi-join chain (supplier IN (… partsupp
    WHERE ps_availqty > (SELECT 0.5·sum(l_quantity) …))), decorrelated
    into two differently-windowed per-(part, supplier) aggregates
    joined on their group key.  The fixture ships no partsupp, so
    availability derives from lineitem: quantity the pair shipped
    BEFORE the demand year stands in for standing stock.

    Plan shape: the name-prefix part filter broadcasts into BOTH
    lineitem passes (each reads only prefixed parts; the demand pass
    additionally pushes the shipdate window to the scan via
    epoch_range_pred); the avail/demand relations are pair-sized and
    join on their own key; the supplier chain is broadcast semi-joins
    end to end — lineitem is never shuffled by anything wider than the
    (part, supplier) aggregate key."""
    pts = load_table(spark, sf_dir, "part").where(
        F.col("p_name").startswith(TPCH_Q20_PREFIX)
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    li_p = li.join(F.broadcast(pts), li.l_partkey == pts.p_partkey)
    avail = (
        li_p.where(
            epoch_range_pred(li, "l_shipdate", end_sec=TPCH_Q20_START)
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("avail"))
    )
    demand = (
        li_p.where(
            epoch_range_pred(
                li, "l_shipdate", TPCH_Q20_START, TPCH_Q20_END
            )
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("need"))
    )
    excess = avail.join(demand, ["l_partkey", "l_suppkey"]).where(
        F.col("avail") > 0.5 * F.col("need")
    )
    rs = _region_suppliers(spark, sf_dir, TPCH_Q20_REGION)
    return (
        rs.join(
            excess.select(F.col("l_suppkey").alias("s_suppkey")).distinct(),
            "s_suppkey",
            "left_semi",
        )
        .select("s_name", "n_name", "s_acctbal")
        .orderBy("s_name")
    )


#: (brand, max_size, qty_lo, qty_hi) — the three disjunctive arms
TPCH_Q19_ARMS = (
    ("Brand#1", 5, 1.0, 11.0),
    ("Brand#2", 10, 10.0, 20.0),
    ("Brand#3", 15, 20.0, 30.0),
)


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style discounted revenue under a DISJUNCTION of
    brand/size/quantity arms — the classic OR-of-conjunctions predicate
    that a naive planner evaluates post-join; the point of the shape is
    that the part-side conjuncts (brand, size) travel with the
    broadcast part relation and the mixed conjuncts (quantity vs the
    joined arm) evaluate inside the single broadcast hash join — no
    second pass, no union-of-three-plans blowup, and the common
    size floor (the OR's part-side hull) prunes the broadcast build.

    Plan shape: lineitem scans once; part filters to the arms' hull
    and broadcasts; the per-arm quantity window is ONE join-condition
    disjunction; decimal-exact revenue sum."""
    arms_hull = F.col("p_size") <= max(a[1] for a in TPCH_Q19_ARMS)
    part = (
        load_table(spark, sf_dir, "part")
        .where(
            F.col("p_brand").isin([a[0] for a in TPCH_Q19_ARMS])
            & arms_hull
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = load_table(spark, sf_dir, "lineitem")
    arm = None
    for brand, max_size, qlo, qhi in TPCH_Q19_ARMS:
        cond = (
            (F.col("p_brand") == brand)
            & (F.col("p_size") <= max_size)
            & (F.col("l_quantity") >= qlo)
            & (F.col("l_quantity") <= qhi)
        )
        arm = cond if arm is None else (arm | cond)
    joined = li.join(
        F.broadcast(part), (li.l_partkey == part.p_partkey) & arm
    )
    rev = joined.agg(
        F.sum(
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).cast("decimal(18,6)")
        ).alias("_r")
    )
    return rev.select(
        F.round(F.col("_r").cast("double"), 4).alias("revenue")
    )


TPCH_Q22_NATIONS = (
    "NATION_2", "NATION_5", "NATION_9", "NATION_13", "NATION_21",
    "NATION_22", "NATION_24",
)
TPCH_Q22_SINCE = 946_684_800   # 2000-01-01 — "recent" order window


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style global-sales-opportunity: wealthy customers of
    selected nations with NO RECENT orders — the classic scalar
    average subquery (acctbal above the selected nations' positive
    mean) plus a NOT-EXISTS anti-join, grouped per nation.  Two
    fixture adaptations, same shape: the nation dimension stands in
    for the phone country-code substring (no phone column), and the
    anti-join target is the RECENT slice of orders (every fixture
    customer has ordered at least once, so the all-time variant is
    vacuous — the lapsed-customer reading keeps the anti-join
    selective AND adds a pushed date predicate).

    Plan shape: the scalar mean is a ONE-ROW aggregate joined in as a
    broadcast nested-loop (never a CartesianProduct of anything
    wider); the no-recent-orders test is a key anti-join against the
    date-pruned orders scan (epoch_range_pred pushes the cutoff;
    orders never aggregates); nation broadcasts."""
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin(list(TPCH_Q22_NATIONS))
    )
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nation),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    orders = load_table(spark, sf_dir, "orders")
    recent = orders.where(
        epoch_range_pred(orders, "o_orderdate", start_sec=TPCH_Q22_SINCE)
    ).select("o_custkey")
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
                .cast("double"),
                4,
            ).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


# TPC-H Q4/Q12/Q21 need l_commitdate / l_receiptdate / l_shipmode,
# which the fixture does not ship.  They are DERIVED deterministically
# from existing columns — the derived-partsupp precedent (q_tpch_q2's
# supply relation): both engines stamp identical pseudo-columns from
# md5 of the line's identity, in integer DAY arithmetic, so the three
# classic plan shapes are exercised with bit-exact cross-engine data.
#   commit_day  = ship_day + (md5(key:c) mod 61) - 30    ∈ ship ± 30 d
#   receipt_day = ship_day + (md5(key:r) mod 30) + 1     ∈ ship + 1..30 d
#   l_shipmode  = MODES[md5(key:m) mod 7]
TPCH_SHIPMODES = ("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
TPCH_Q4_START = 820_454_400   # 1996-01-01
TPCH_Q4_END = 828_316_800     # 1996-04-01 (one quarter)
TPCH_Q12_MODES = ("MAIL", "SHIP")
TPCH_Q12_START_DAY = 9_496    # 1996-01-01 as epoch days
TPCH_Q12_END_DAY = 9_862      # 1997-01-01
TPCH_Q12_HIGH = ("1-URGENT", "2-HIGH")
TPCH_Q21_NATION = "NATION_9"
TPCH_Q21_TOP = 100


def _li_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem plus the derived ship_day / commit_day / receipt_day /
    l_shipmode pseudo-columns (header comment above).  Pure per-row
    projection — no shuffle, no Python; the derivation stays inside
    the scan's whole-stage codegen span."""
    from datayours_spark.functions.dedup import md5_int32

    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        ":",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    ship_day = F.floor(
        epoch_us_col(li, "l_shipdate") / F.lit(86_400_000_000)
    ).cast("long")

    def h(tag: str) -> F.Column:
        return md5_int32(F.concat(key, F.lit(":" + tag)))

    return li.select(
        "*",
        ship_day.alias("ship_day"),
        (ship_day + F.pmod(h("c"), F.lit(61)) - 30).alias("commit_day"),
        (ship_day + F.pmod(h("r"), F.lit(30)) + 1).alias("receipt_day"),
        F.element_at(
            F.array(*[F.lit(m) for m in TPCH_SHIPMODES]),
            (F.pmod(h("m"), F.lit(7)) + 1).cast("int"),
        ).alias("l_shipmode"),
    )


# the oracle-side twin of _li_dates — shared CTE body for Q4/Q12/Q21
_LID_SQL = """
    SELECT l.*,
           epoch_us(l_shipdate) // 86400000000 AS ship_day,
           epoch_us(l_shipdate) // 86400000000
             + ('0x' || substr(md5(l_orderkey::VARCHAR || ':' ||
                 l_linenumber::VARCHAR || ':c'), 1, 8))::BIGINT % 61 - 30
             AS commit_day,
           epoch_us(l_shipdate) // 86400000000
             + ('0x' || substr(md5(l_orderkey::VARCHAR || ':' ||
                 l_linenumber::VARCHAR || ':r'), 1, 8))::BIGINT % 30 + 1
             AS receipt_day,
           (['REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB'])[
             ('0x' || substr(md5(l_orderkey::VARCHAR || ':' ||
                 l_linenumber::VARCHAR || ':m'), 1, 8))::BIGINT % 7 + 1]
             AS l_shipmode
    FROM lineitem l
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: order-priority checking — count one quarter's orders
    having at least one line the customer received LATER than the
    supplier committed to, per priority class.  The classic correlated
    EXISTS, decorrelated to a left-semi join.

    Plan shape: the order-date quarter pushes into the orders scan
    (epoch_range_pred → PushedFilters); the late-line test is ONE
    semi-join on orderkey against the derived-column projection of
    lineitem (semi, not inner+distinct: no pair blow-up for orders
    with many late lines); the priority aggregate is five groups —
    map-side combinable.  Reference parity: DataYours has no
    multi-relation EXISTS; this extends the engine's join algebra the
    same way q_tpch_q2's decorrelation does."""
    orders = load_table(spark, sf_dir, "orders")
    orders = orders.where(
        epoch_range_pred(orders, "o_orderdate", TPCH_Q4_START, TPCH_Q4_END)
    )
    late = _li_dates(spark, sf_dir).where(
        F.col("commit_day") < F.col("receipt_day")
    ).select("l_orderkey")
    return (
        orders.join(
            late, orders.o_orderkey == late.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12: shipping-mode priority analysis — for two shipping
    modes, count one year's late-received lines (commit < receipt)
    that were shipped before commitment, split by whether the order
    was high-priority.  The CASE-conditional aggregate over a
    fact⋈fact join.

    Plan shape: every line predicate (mode IN-list, the two derived
    date comparisons, the receipt-year window) applies in the lineitem
    projection BEFORE the join, so the one shuffle joins only the
    qualifying slice against orders; the high/low CASE sums are
    map-side partials over two groups."""
    li = (
        _li_dates(spark, sf_dir)
        .where(
            F.col("l_shipmode").isin(list(TPCH_Q12_MODES))
            & (F.col("commit_day") < F.col("receipt_day"))
            & (F.col("ship_day") < F.col("commit_day"))
            & (F.col("receipt_day") >= TPCH_Q12_START_DAY)
            & (F.col("receipt_day") < TPCH_Q12_END_DAY)
        )
        .select("l_orderkey", "l_shipmode")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin(list(TPCH_Q12_HIGH))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: suppliers who kept orders waiting — one nation's
    suppliers with late lines on multi-supplier 'F' orders where they
    were the ONLY late supplier.  The double-correlated
    EXISTS / NOT-EXISTS, decorrelated to a semi- + anti-join PAIR on
    the same key (orderkey), each carrying the supplier-differs
    residual — the hardest decorrelation in the classic suite.

    Plan shape: the nation's suppliers broadcast into the late-line
    scan FIRST (everything downstream is that nation's slice — at
    100 TB this is the difference between shuffling one nation's lines
    and all of them); the 'F'-order test is a semi-join against the
    status-filtered orders scan; then the EXISTS becomes a left-semi
    against all lines and the NOT-EXISTS a left-anti against late
    lines, both keyed on orderkey with `l_suppkey <> other` as the
    join residual — never a CartesianProduct.  The global top-100
    plans TakeOrderedAndProject."""
    li = _li_dates(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == TPCH_Q21_NATION
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    orders_f = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    # the late-line slice feeds BOTH the driving side (l1) and the
    # NOT-EXISTS side (l3): materialized once, so the md5 date
    # derivation runs ONE lineitem pass instead of two (the derivation
    # is ~2 md5/row — half this query's scan compute).  The slice is
    # the narrow (orderkey, suppkey) projection of late lines only —
    # at scale the same fraction of the fact table every Q21 engine
    # carries through this decorrelation.
    late = (
        li.where(F.col("receipt_day") > F.col("commit_day"))
        .select("l_orderkey", "l_suppkey")
        .localCheckpoint(eager=True)
    )
    l1 = (
        late
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    )
    l2 = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    qual = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("o2"))
        & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("o3"))
        & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    return (
        qual.groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(TPCH_Q21_TOP)
    )


def q_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: broadcast metadata-enrichment join customer→nation→region."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
        .orderBy("r_name")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup (exact): hash-groupBy on text, canonical id + group size."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n")
    )


def q_dedup_tokenset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup (near, token-set fingerprint): docs sharing the same distinct
    token SET collapse into one group; groups with n>1 are near-dup sets."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
    )
    return (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n"))
        .where(F.col("n") > 1)
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts + type-token ratio per document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        "n_chars",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 4).alias("ttr"),
    )


STOPWORDS = ("the", "a")


def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality per language: doc counts, avg length, stopword ratio."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    per_doc = docs.select(
        "lang",
        F.size(toks).alias("n_tokens"),
        (stop / F.size(toks)).alias("stop_ratio"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("stop_ratio"), 4).alias("avg_stop_ratio"),
    ).orderBy("lang")


N_ANN_QUERIES = 3
ANN_TOP_K = 5


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: brute-force cosine top-k for query vectors."""
    from datayours_spark.functions.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, list(range(N_ANN_QUERIES)), ANN_TOP_K)


def q_ann_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search over an SQ8-quantized corpus: asymmetric top-k
    (exact queries vs the uniformly 8-bit-reconstructed corpus) — the
    4×-memory, no-codebook quantization family member between full
    vectors and IVF-PQ.  Bounds are 2·dim doubles of model state; the
    scan reads 1-byte codes instead of 8-byte doubles at scale."""
    from datayours_spark.functions.similarity import sq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return sq_topk(emb, list(range(N_ANN_QUERIES)), ANN_TOP_K)


def q_metrics_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 /metrics/find: glob query → branch/leaf node rows."""
    from datayours_spark.operators.catalog import find_nodes, series_catalog

    dp = datapoints_from_events(spark, sf_dir)
    return find_nodes(series_catalog(dp), "events.*")


def q_metrics_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 /metrics/index.json: every leaf path, sorted (O3)."""
    from datayours_spark.operators.catalog import index_json, series_catalog

    dp = datapoints_from_events(spark, sf_dir)
    return index_json(series_catalog(dp))


ROUTE_ARCHIVES_SPEC = "1m:1h,10m:6h,1h:7d"  # units s/m/h/d/y — no weeks (L_DataWhisper.lua:186)
ROUTE_CASES = [  # (case_id, from_offset_sec before MONTH_END)
    (1, 1_800),
    (2, 4 * 3_600),
    (3, 3 * DAY),
]
ROUTE_PATH = "events.click"


def q_resolution_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: archive-selection routing — older from-times served by coarser
    cascaded rollup levels."""
    from datayours_spark.kernel.archives import parse_retention_str
    from datayours_spark.plans.router import RollupSet

    dp = datapoints_from_events(spark, sf_dir, per_user=False)
    archives = parse_retention_str(ROUTE_ARCHIVES_SPEC)
    rollups = RollupSet.build(dp, archives, method="average", xff=0.0)
    now = MONTH_END
    outs = []
    for case_id, offset in ROUTE_CASES:
        step, grid = rollups.fetch(spark, ROUTE_PATH, now - offset, now, now)
        outs.append(
            grid.agg(
                F.lit(case_id).alias("case_id"),
                F.lit(step).alias("step"),
                F.count("*").alias("n_grid"),
                F.count("value").alias("n_known"),
                # exact decimal accumulation, one terminal round (the
                # q_tpch_q10 precedent): the fine values are 2-dp, so a
                # mean can sit exactly on a 4-dp half (56.29625 at
                # sf0.1) where a double sum's merge-order ulp decides
                # the rounding; 10 dp keeps the 2-dp values exact and
                # the mid/coarse means far inside the 4-dp rounding
                F.round(F.avg(F.col("value").cast("decimal(18,10)")), 4)
                .cast("double")
                .alias("avg_v"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def q_staircase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: staircase line mode — previous row duplicated at each new t."""
    from datayours_spark.operators.align import staircase

    dp = datapoints_from_events(spark, sf_dir, per_user=False)
    rows = (
        lww_slots(dp, 21_600)
        .where(F.col("path") == ROUTE_PATH)
        .where(F.col("slot") < T0 + 7 * DAY)
        .select("path", "slot", "value")
    )
    return staircase(rows, partition_cols=["path"]).select("slot", "value")


def q_user_hook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: user.run UDTF — per-record flatMap emitting 0..N records."""
    from datayours_spark.functions.userhook import apply_user_hook, example_derive_hook

    dp = datapoints_from_events(spark, sf_dir, per_user=False)
    out = apply_user_hook(dp, example_derive_hook(threshold=150.0))
    return out.groupBy("path").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


AGGREGATOR_FREQ = 600
AGGREGATOR_CONF = f"agg.<type> ({AGGREGATOR_FREQ}) = sum events.<type>.*"


def q_carbon_aggregator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: carbon-aggregator — the conf line 'agg.<type> (600) = sum
    events.<type>.*' parsed and applied (aggregation-rules.conf format,
    documented-but-unimplemented in the reference)."""
    from datayours_spark.kernel.rules import parse_aggregation_rules
    from datayours_spark.operators.rollup import carbon_aggregate

    rules = parse_aggregation_rules(AGGREGATOR_CONF)
    dp = datapoints_from_events(spark, sf_dir)
    out = carbon_aggregate(dp, rules)
    return out.select("path", "slot", F.round("value", 2).alias("value"), "n")


DATAMINE_CHANNELS = [
    ("dm.temperature.kitchen",),
    ("dm.energy.meter",),
    ("events.click.u1",),  # duplicate vs whisper catalog → deduped by J4
]


def q_store_federation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: multi-store find federation with path dedup."""
    dp = datapoints_from_events(spark, sf_dir)
    whisper_catalog = dp.select("path").distinct()
    dm_catalog = small_df(spark, DATAMINE_CHANNELS, "path string")
    return (
        whisper_catalog.unionByName(dm_catalog)
        .dropDuplicates(["path"])
        .orderBy("path")
    )


MR_PATHS = ("events.click.u1", "events.error.u1")
MR_STEP = 600
MR_HOLE = 1_800  # store 1 is missing every 3rd slot; store 2 fills them


def q_multireader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4+: MultiReader leaf merge — the same series is a leaf in TWO
    stores (a primary archive with holes and a complete fallback whose
    values are offset by +1000 to be distinguishable); the merge takes the
    highest-priority non-null value per slot.  graphite-web MultiReader
    semantics, which the reference left TODO
    (`L_DataGraphiteAPI.lua:384-386`)."""
    from datayours_spark.operators.federate import multireader_merge

    dp = datapoints_from_events(spark, sf_dir)
    base = lww_slots(dp.where(F.col("path").isin(list(MR_PATHS))), MR_STEP)
    primary = base.where(F.col("slot") % MR_HOLE != 0)
    fallback = base.select(
        "path", "slot", (F.col("value") + 1_000).alias("value")
    )
    out = multireader_merge([primary, fallback])
    return out.select("path", "slot", F.round("value", 4).alias("value"))


INGEST_MAX_RETENTION = 7 * DAY
INGEST_NOW = T0 + 14 * DAY


def q_ingest_reject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3+T6: whisper update admission — reject future points and points
    older than maxRetention (diff < maxRetention and diff >= 0)."""
    dp = datapoints_from_events(spark, sf_dir)
    diff = F.lit(INGEST_NOW) - F.col("ts_sec")
    status = (
        F.when(diff < 0, F.lit("future"))
        .when(diff >= INGEST_MAX_RETENTION, F.lit("stale"))
        .otherwise(F.lit("ok"))
    )
    return dp.groupBy(status.alias("status")).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding per-label centroid norms (vector aggregate demo)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.transform("embedding", lambda x: x.cast("double")))
    )
    centroid = exploded.groupBy("label", "pos").agg(F.avg("col").alias("m"))
    return (
        centroid.groupBy("label")
        .agg(
            F.count("*").alias("dim"),
            F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4).alias("centroid_norm"),
        )
        .orderBy("label")
    )


MINHASH_BANDS, MINHASH_ROWS = 5, 4
MINHASH_THRESHOLD = 0.5
#: edit-distance verify stage: normalized-similarity cutoff and the
#: per-pair cost cap (levenshtein runs on the first EDIT_PREFIX chars —
#: bounded O(EDIT_PREFIX^2) per candidate pair regardless of doc length)
EDIT_SIM_THRESHOLD = 0.6
EDIT_PREFIX = 1000

# Per-doc dedup SIGNATURES (minhash signature table / 60-bit simhash
# fingerprints / winnowing fingerprints) are index state — computed once
# at ingest and stored, they serve every downstream composition (pair
# detection, guards, clusters, incremental batches, leakage splits) —
# so they live in the session cache.  All are deterministic functions of
# (table, constants), so a hit is bit-identical to a recompute.
def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datayours_spark.functions.dedup import minhash_signatures

    k = MINHASH_BANDS * MINHASH_ROWS
    return session_cached(
        spark, sf_dir, "documents", ("minhash", k),
        lambda _: minhash_signatures(
            spread_scan(load_table(spark, sf_dir, "documents")), k=k
        ),
        checkpoint=True,
    )


def _simhash60(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datayours_spark.functions.dedup import simhash_fingerprint

    return session_cached(
        spark, sf_dir, "documents", ("simhash", 60),
        lambda _: simhash_fingerprint(
            spread_scan(load_table(spark, sf_dir, "documents")), 60
        ),
        checkpoint=True,
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: shingle → minhash → LSH bands → bucket join →
    exact-Jaccard verify (the classic MinHash-LSH pipeline)."""
    from datayours_spark.functions.dedup import minhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup(
        docs, bands=MINHASH_BANDS, rows=MINHASH_ROWS, threshold=MINHASH_THRESHOLD,
        signatures=_minhash_sigs(spark, sf_dir),
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components (hash-min label
    propagation) over the MinHash-LSH near-dup pair graph — the transitive
    closure step between pair detection and an actual corpus dedup."""
    from datayours_spark.functions.dedup import dup_clusters, minhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup(
        docs, bands=MINHASH_BANDS, rows=MINHASH_ROWS, threshold=MINHASH_THRESHOLD,
        signatures=_minhash_sigs(spark, sf_dir),
    )
    return dup_clusters(pairs)


def q_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive near-dup verification: MinHash-LSH candidates
    re-verified by normalized Levenshtein similarity instead of token-set
    Jaccard — the verify stage that distinguishes a true edit near-dup
    from a bag-of-words coincidence (Jaccard scores "a b c" vs "c b a" as
    1.0; edit similarity does not).  Candidate generation reuses the
    stored signature table; the per-pair cost is capped at EDIT_PREFIX^2
    by the prefix bound.  collapse_identical=True engages the hot-bucket
    guard so a boilerplate-heavy corpus cannot make the candidate
    self-join quadratic — the pair set is proven identical to the
    unguarded form (lsh_candidate_pairs docstring), so the oracle is
    unchanged."""
    from datayours_spark.functions.dedup import edit_verified_pairs, lsh_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(
        _minhash_sigs(spark, sf_dir), MINHASH_BANDS, MINHASH_ROWS,
        collapse_identical=True,
    )
    return edit_verified_pairs(
        cand, docs, threshold=EDIT_SIM_THRESHOLD, prefix_len=EDIT_PREFIX
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document."""
    from datayours_spark.functions.dedup import simhash32

    docs = load_table(spark, sf_dir, "documents")
    return simhash32(docs)


INCR_BATCH_MOD = 10  # docs with doc_id % 10 == 0 form the "new" batch


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup maintenance: docs with doc_id % 10 == 0 arrive
    as a new batch against the standing LSH index of the rest.  Must emit
    exactly the full pipeline's pairs that touch the batch — per-batch cost
    scales with the batch, not the corpus."""
    from datayours_spark.functions.dedup import _banded_rows, minhash_incremental

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    # signatures are per-doc, so the standing index and the batch's rows
    # both derive from the stored signature table by doc_id filters
    sigs = _minhash_sigs(spark, sf_dir)
    old_index = _banded_rows(
        sigs.where(F.col("doc_id") % INCR_BATCH_MOD != 0),
        MINHASH_BANDS, MINHASH_ROWS,
    )
    return minhash_incremental(
        new,
        old_index,
        docs,
        bands=MINHASH_BANDS,
        rows=MINHASH_ROWS,
        threshold=MINHASH_THRESHOLD,
        new_signatures=sigs.where(F.col("doc_id") % INCR_BATCH_MOD == 0),
    )


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup dashboard: how much of each source exact- and
    near-dedup would remove under the keep-lowest-id policy — the report
    a corpus owner reads before committing a dedup run.  Composes the
    exact hash groups with the MinHash cluster closure (cached signature
    table); the removed-set join is a plain equi-join (its size scales
    with the corpus's dup mass — AQE broadcasts it only when small)."""
    from datayours_spark.functions.dedup import dup_clusters, minhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    flags = docs.select(
        "doc_id", "source", (F.row_number().over(w) > 1).alias("exact_removed")
    )
    clusters = dup_clusters(
        minhash_dedup(
            docs, bands=MINHASH_BANDS, rows=MINHASH_ROWS,
            threshold=MINHASH_THRESHOLD,
            signatures=_minhash_sigs(spark, sf_dir),
        )
    )
    near = clusters.where(F.col("cluster_id") != F.col("doc_id")).select(
        "doc_id", F.lit(True).alias("near_removed")
    )
    # no broadcast hint: the removed set scales with the corpus's dup
    # mass, so the equi-join must be free to shuffle (AQE still
    # broadcasts when the side turns out small)
    return (
        flags.join(near, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("exact_removed").cast("int")).alias("exact_removed"),
            F.sum(F.coalesce(F.col("near_removed"), F.lit(False)).cast("int")).alias(
                "near_removed"
            ),
        )
        .withColumn(
            "neardup_rate", F.round(F.col("near_removed") / F.col("n_docs"), 4)
        )
    )


FUZZY_EVAL_MOD = 5  # docs with doc_id % 5 == 0 stand in for the eval set


def q_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination: MinHash-LSH near-dup join of the training
    corpus against the (broadcast) eval set — catches paraphrased eval
    leakage that q_contamination's exact shingle containment misses.
    Both sides' signatures derive from the session's stored signature
    table by doc_id filters."""
    from datayours_spark.functions.dedup import minhash_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    sigs = _minhash_sigs(spark, sf_dir)
    is_eval = F.col("doc_id") % FUZZY_EVAL_MOD == 0
    return minhash_decontaminate(
        docs.where(~is_eval), docs.where(is_eval),
        bands=MINHASH_BANDS, rows=MINHASH_ROWS, threshold=MINHASH_THRESHOLD,
        train_signatures=sigs.where(~is_eval),
        eval_signatures=sigs.where(is_eval),
    )


SIMHASH_MAX_HAMMING = 3


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via banded blocking (4 x 8-bit slices; by
    pigeonhole every pair within hamming distance 3 shares a slice) + a
    popcount verify — no all-pairs comparison anywhere."""
    from datayours_spark.functions.dedup import simhash_neardup

    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup(
        docs, max_hamming=SIMHASH_MAX_HAMMING,
        fingerprints=_simhash60(spark, sf_dir),
    )


def q_simhash_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket-guarded SimHash near-dup: identical fingerprints collapse
    to one representative BEFORE the banded self-join (bucket width =
    distinct fingerprints, boilerplate-proof) and the exact pair set is
    reconstituted by expansion — the oracle is the UNGUARDED pipeline's SQL,
    so a green row proves pair-set equivalence."""
    from datayours_spark.functions.dedup import simhash_neardup

    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup(
        docs, max_hamming=SIMHASH_MAX_HAMMING, collapse_identical=True,
        fingerprints=_simhash60(spark, sf_dir),
    )


def q_minhash_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket-guarded MinHash-LSH near-dup: identical signatures
    collapse to a representative before the band bucket join; same emitted
    pairs (oracle = the unguarded pipeline's SQL)."""
    from datayours_spark.functions.dedup import minhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup(
        docs, bands=MINHASH_BANDS, rows=MINHASH_ROWS,
        threshold=MINHASH_THRESHOLD, collapse_identical=True,
        signatures=_minhash_sigs(spark, sf_dir),
    )


SPAN_K = 8          # shingle width for span-level dedup (tokens)
SPAN_MIN_TOKENS = 12  # minimal qualifying repeated-span length (tokens)


def _span_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached repeated-span table: detection runs once, the mask
    and removal steps of the same pipeline reuse its (small) span table —
    the lifecycle a real pipeline has (detect → decide → cut).  The
    uncached lineage (plan inspection) keeps the scan order and skips
    the posting-list checkpoint."""
    from datayours_spark.functions.dedup import repeated_spans

    def build(materialize: bool) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return repeated_spans(
            spread_scan(docs) if materialize else docs, k=SPAN_K,
            min_span=SPAN_MIN_TOKENS, min_docs=2,
            materialize_posts=materialize,
        )

    return session_cached(
        spark, sf_dir, "documents", ("spans", SPAN_K, SPAN_MIN_TOKENS),
        build, checkpoint=True,
    )


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (substring) dedup: maximal repeated token spans per doc
    via shingle posting lists — the Lee-et-al-style exact-substring dedup
    re-expressed as linear aggregations + one posting-list equi-join
    (inverted index on shingle hash -> covered offsets -> gaps-and-islands
    interval merge).  Catches boilerplate headers/footers shared across
    otherwise-distinct documents, which document-level dedup misses."""
    return _span_table(spark, sf_dir)


def q_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repeated-span mask: covered-token counts and fraction for
    every document (0 for clean docs) — the filter input for span-removal
    decisions downstream.

    r4 driver-red postmortem: values were judged bit-identical to the
    oracle; the one dtype divergence was the oracle's ``sum(span_tokens)``
    (DuckDB HUGEINT → pandas float64) vs Spark's int64 — now both sides
    emit BIGINT, plus a deterministic doc_id ordering.
    """
    from datayours_spark.functions.dedup import span_mask

    docs = load_table(spark, sf_dir, "documents")
    return span_mask(
        docs, k=SPAN_K, min_span=SPAN_MIN_TOKENS, min_docs=2,
        spans=_span_table(spark, sf_dir),
    ).orderBy("doc_id")


NGRAM_JACCARD_MIN = 0.2
#: per-(lang,source) document-frequency cap for the inverted-index join —
#: shingles above it are handled through the small hot-set side channel
#: (exactness argument in functions/dedup.py:ngram_jaccard_pairs).  2 is
#: deliberately tight at sf0.01 so the gate fixture actually routes a
#: shingle through the hot path; at 100 TB the cap is 1000s — the point is
#: that join cost is bounded by cap × postings regardless of its value.
NGRAM_DF_CAP = 2


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-3-gram Jaccard over (lang, source)-bucketed candidate pairs.

    Inverted-index shape with a document-frequency guard: cold shingles
    (df <= NGRAM_DF_CAP) drive the candidate equi-join, so its cost is
    bounded by cap × total postings — linear in the corpus; corpus-hot
    shingles (boilerplate, stop phrases) go through a broadcast hot-set
    side channel that keeps the pair set EXACT (the same oracle as the
    unguarded pipeline — a green row is the pair-set-equivalence proof).
    Without the cap, one corpus-hot 3-gram makes the join quadratic at
    100 TB (Σ per-shingle df²).  See
    :func:`datayours_spark.functions.dedup.ngram_jaccard_pairs` for the
    exactness case analysis and the fail-fast volume guards.
    """
    from datayours_spark.functions.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, n=3, threshold=NGRAM_JACCARD_MIN,
        bucket_cols=("lang", "source"), df_cap=NGRAM_DF_CAP,
    )


#: winnowing (MOSS) fingerprint parameters: 4-token k-grams, window 4 —
#: guarantees any shared run of >= 7 tokens contributes a shared
#: fingerprint; containment 0.5 = half the smaller doc's fingerprints
WINNOW_K, WINNOW_W, WINNOW_T = 4, 4, 0.5


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003):
    the rightmost-min k-gram hash per w-window, position-aware — the
    fingerprinting family member that can LOCATE overlap, next to
    SimHash and MinHash.  One generator projection, zero shuffle."""
    from datayours_spark.functions.dedup import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=WINNOW_K, w=WINNOW_W)


def _winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached positional winnowing fingerprint table — index
    state (computed once at ingest, stored next to the corpus), reused
    by every winnow composition; the _minhash_sigs discipline."""
    from datayours_spark.functions.dedup import winnow_fingerprints

    return session_cached(
        spark, sf_dir, "documents", ("winnow", WINNOW_K, WINNOW_W),
        lambda _: winnow_fingerprints(
            spread_scan(load_table(spark, sf_dir, "documents")),
            k=WINNOW_K, w=WINNOW_W,
        ),
        checkpoint=True,
    )


def q_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by winnowing-fingerprint containment — the MOSS
    report metric: shared distinct fingerprints / the smaller doc's
    fingerprint count.  Posting-list equi-join over the winnowed (i.e.
    ~2/(w+1)-compressed) index, with the sum(df²) fail-fast guard."""
    from datayours_spark.functions.dedup import winnow_neardup

    docs = load_table(spark, sf_dir, "documents")
    return winnow_neardup(
        docs, k=WINNOW_K, w=WINNOW_W, threshold=WINNOW_T,
        fingerprints=_winnow_fp(spark, sf_dir),
    )


def q_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap localization for the winnowing near-dup pairs: every
    matched fingerprint co-occurrence (id1, id2, pos1, pos2, h) — WHERE
    the two docs overlap, the report MinHash/SimHash cannot produce.
    Pair-scoped joins: cost ∝ pairs × fingerprints/doc, never corpus²."""
    from datayours_spark.functions.dedup import winnow_matches, winnow_neardup

    docs = load_table(spark, sf_dir, "documents")
    fp = _winnow_fp(spark, sf_dir)
    pairs = winnow_neardup(
        docs, k=WINNOW_K, w=WINNOW_W, threshold=WINNOW_T, fingerprints=fp
    )
    return winnow_matches(docs, pairs, k=WINNOW_K, w=WINNOW_W, fingerprints=fp)


def q_winnow_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-run span table from the winnowing matches (r7 verdict
    task #8): matched positions grouped per (pair, constant offset) and
    split islands-and-gaps over pos1 (gap > w ends a run) — the MOSS
    report as contiguous token spans [start, end] per document, with
    the run's match count."""
    from datayours_spark.functions.dedup import winnow_neardup, winnow_spans

    docs = load_table(spark, sf_dir, "documents")
    fp = _winnow_fp(spark, sf_dir)
    pairs = winnow_neardup(
        docs, k=WINNOW_K, w=WINNOW_W, threshold=WINNOW_T, fingerprints=fp
    )
    return winnow_spans(docs, pairs, k=WINNOW_K, w=WINNOW_W, fingerprints=fp)


def q_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowing family COMPOSED into removal: near-dup pairs →
    shared-run spans → cut those runs out of the higher-id member of
    each pair (lower id stays canonical), via remove_spans' linear
    indexed-filter projection.  Docs in no pair pass through verbatim."""
    from datayours_spark.functions.dedup import winnow_dedup, winnow_neardup

    docs = load_table(spark, sf_dir, "documents")
    fp = _winnow_fp(spark, sf_dir)
    pairs = winnow_neardup(
        docs, k=WINNOW_K, w=WINNOW_W, threshold=WINNOW_T, fingerprints=fp
    )
    return winnow_dedup(docs, pairs, k=WINNOW_K, w=WINNOW_W, fingerprints=fp)


def q_winnow_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnowing maintenance: docs with doc_id % 10 == 0
    arrive as a new batch against the standing fingerprint index of the
    rest — emits exactly the full winnow_neardup pairs that touch the
    batch (new×old via one posting equi-join, new×new within the batch).
    Completes the incremental family for the winnowing dedup form."""
    from datayours_spark.functions.dedup import (
        winnow_fingerprint_sets, winnow_incremental,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    old = docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0)
    # set form (r15): distinct by construction — no index-wide
    # distinct() exchange — and the stamped n_fp engages
    # winnow_incremental's denormalized-denominator mode (documented
    # pair-output-identical; the v2 streaming index format)
    idx = winnow_fingerprint_sets(
        old, k=WINNOW_K, w=WINNOW_W, with_count=True
    )
    return winnow_incremental(
        new, idx, k=WINNOW_K, w=WINNOW_W, threshold=WINNOW_T
    )


#: BM25 gate queries: fixed lexical query strings over the corpus
BM25_QUERIES = [(0, "table window agg"), (1, "customer query stream")]
BM25_TOP_K = 10


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: top-k documents per query string — the
    Robertson/Spärck-Jones ranking (Lucene/ATIRE idf form) every
    retrieval/eval-overlap probe starts from.  Posting-list shaped: tf
    aggregate + query-term semi-joined df + broadcast corpus scalars,
    ranked by a per-query top-k window over only the matching docs."""
    from datayours_spark.functions.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_QUERIES, BM25_TOP_K)


#: chunk-retrieval unit id: doc_id * CHUNK_ID_BASE + chunk_no (chunk_no
#: is bounded by n_tokens/stride << CHUNK_ID_BASE at any document length
#: this corpus can hold)
CHUNK_ID_BASE = 1_000_000


def q_bm25_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage retrieval (the RAG shape): BM25 top-k over sliding-window
    CHUNKS instead of whole documents — long documents stop swamping
    the length normalization, and the hit localizes WHERE the match is.
    Composes chunk_documents (zero-shuffle generator) with bm25_topk
    (query-term semi-join below tf); the chunk unit id is integer
    arithmetic so any engine re-derives it.  Output: (query_id, doc_id,
    chunk_no, score, rank)."""
    from datayours_spark.functions.text import bm25_topk, chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, window=CHUNK_WINDOW, stride=CHUNK_STRIDE
    ).select(
        (F.col("doc_id") * CHUNK_ID_BASE + F.col("chunk_no")).alias("chunk_id"),
        "chunk_text",
    )
    ranked = bm25_topk(
        chunks, BM25_QUERIES, BM25_TOP_K,
        id_col="chunk_id", text_col="chunk_text",
    )
    return ranked.select(
        "query_id",
        F.expr(f"doc_id div {CHUNK_ID_BASE}").cast("long").alias("doc_id"),
        F.pmod(F.col("doc_id"), F.lit(CHUNK_ID_BASE)).cast("long").alias("chunk_no"),
        "score",
        "rank",
    )


HYBRID_QUERY_IDS = [0, 1, 2]
HYBRID_TOP_K = 10


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid query-by-example retrieval with reciprocal-rank fusion
    (Cormack et al. 2009): for each query DOC, fuse (a) BM25 over the
    query doc's own terms (lexical) and (b) embedding-cosine top-k
    (semantic, doc_id ≡ vec_id in the fixture), by
    rrf = Σ 1/(60 + rank) — rank-only fusion, no score calibration.
    Self-hits are dropped from both lists (list ranks keep their
    original positions, the standard RRF treatment).  The example
    texts are a driver-side lookup of |Q| rows (model-state scale);
    everything else is the two underlying rankings' plans."""
    from datayours_spark.functions.similarity import cosine_topk, rrf_fuse
    from datayours_spark.functions.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qtexts = {
        r["doc_id"]: r["text"]
        for r in docs.where(F.col("doc_id").isin(HYBRID_QUERY_IDS))
        .select("doc_id", "text")
        .collect()
    }
    lex = bm25_topk(
        docs, [(qid, qtexts[qid]) for qid in HYBRID_QUERY_IDS],
        HYBRID_TOP_K + 1,
    ).where(F.col("doc_id") != F.col("query_id"))
    vec = (
        cosine_topk(emb, HYBRID_QUERY_IDS, HYBRID_TOP_K)
        .select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    )
    return rrf_fuse([lex, vec], HYBRID_TOP_K)


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality rules (Rae et al. 2021, A1.1) as
    per-rule boolean columns + the pass_all gate — the standard
    pretraining document filter, reported per rule so a pipeline can say
    WHICH rule rejected a doc.  One zero-shuffle codegen projection."""
    from datayours_spark.functions.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    return gopher_rules(docs)


QC_BUCKETS = 4096
QC_SCALE = 1000
QC_THRESHOLD = 0.5


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (new r10): the fastText/DCLM-style
    hashed linear classifier over unigram + bigram features — the
    standard stage AFTER the Gopher heuristic gate in LLM corpus
    builds.  Deterministic fixed-point weight table stands in for a
    trained model (same plumbing; swap the (bucket, w) relation).
    Output: per-doc (n_feats, score, keep).

    Scale shape: feature explode → md5 bucket hash → broadcast weight
    join (model state) → one doc-keyed map-side-combinable aggregate →
    in-plan sigmoid; integer-valued weights keep the sum exact under
    any accumulation order (no decimal cast needed)."""
    from datayours_spark.functions.text import (
        hashed_weight_table,
        quality_classifier,
    )

    docs = load_table(spark, sf_dir, "documents")
    weights = hashed_weight_table(spark, QC_BUCKETS, scale=QC_SCALE)
    return quality_classifier(
        docs, weights, QC_BUCKETS, w_scale=float(QC_SCALE),
        threshold=QC_THRESHOLD,
    )


MIX_ALPHA = 0.5
MIX_BUDGET = 1_000_000


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights (the mT5/XLM-R
    alpha-smoothing rule): per source, its token share, smoothed weight
    share^alpha / sum(share^alpha), the slice of a MIX_BUDGET-token
    training budget, and the implied epoch count over its data.  One
    map-side-combinable aggregate + two broadcast scalar cross-joins."""
    from datayours_spark.functions.sampling import mixing_weights

    docs = load_table(spark, sf_dir, "documents")
    return mixing_weights(
        docs, stratum_col="source", alpha=MIX_ALPHA, budget=MIX_BUDGET
    )


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): each
    language's docs split into head/middle/tail terciles by the
    corpus-unigram LM score.  Bucket membership compares against the
    language's two percentile THRESHOLDS (a languages-sized broadcast)
    rather than an ntile window — at 100 TB the head language IS the
    corpus, and an ntile would sort it in one task."""
    from datayours_spark.functions.text import ppl_buckets

    docs = load_table(spark, sf_dir, "documents")
    return ppl_buckets(docs, by="lang")


KNN_N_QUERIES = 5
KNN_K = 7


def q_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction over the embeddings table: the first
    KNN_N_QUERIES vectors are treated as unlabeled queries and classified
    by majority label of their KNN_K nearest cosine neighbours drawn
    from the remaining labeled corpus — embedding-space auto-labeling.
    Queries broadcast; the exact rank is the honest brute baseline (at
    100 TB the neighbour stage swaps for the IVF-PQ shortlist)."""
    from datayours_spark.functions.similarity import knn_predict

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_predict(emb, list(range(KNN_N_QUERIES)), KNN_K)


#: rerank shortlist for the ANN-routed kNN (candidates already exclude
#: every query id, so it only needs headroom over KNN_K)
KNN_ROUTED_SHORTLIST = 20


def q_knn_label_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`q_knn_label` with the neighbour stage routed through the
    session IVF-PQ index (ADC shortlist → exact re-rank → exclusion →
    vote) — the batch-auto-labeling scale path: brute force scans the
    corpus at full width per query batch, this touches nprobe/k of the
    codes + KNN_ROUTED_SHORTLIST full vectors per query.  Full replay
    oracle (coarse quantizer + PQ training + ADC + re-rank + vote all
    replayed in SQL)."""
    from datayours_spark.functions.similarity import knn_predict_routed

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_predict_routed(
        emb, list(range(KNN_N_QUERIES)), KNN_K,
        _ann_centroids(spark, sf_dir), _ann_books(spark, sf_dir, False),
        ANN_DIM, shortlist=KNN_ROUTED_SHORTLIST,
        codes=_ann_codes(spark, sf_dir, False),
        assignments=_ann_assignments(spark, sf_dir),
    )


def q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality report card: doc/token counts, exact-duplicate
    rate (1 − distinct texts / docs), and the Gopher pass rate — the
    per-dump summary a mixing policy reads before assigning source
    weights.  ONE scan: the Gopher booleans are a zero-shuffle
    projection carrying (source, text), then a single sources-keyed
    aggregate (count_distinct is the only two-phase member)."""
    from datayours_spark.functions.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    g = gopher_rules(docs, carry_cols=("source", "text"))
    agg = g.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_tokens"),
        F.count_distinct(F.md5("text")).alias("distinct_texts"),
        F.round(F.avg(F.col("pass_all").cast("int")), 4).alias(
            "gopher_pass_rate"
        ),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "distinct_texts",
        F.round(1 - F.col("distinct_texts") / F.col("n_docs"), 4).alias(
            "exact_dup_rate"
        ),
        "gopher_pass_rate",
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup overlap matrix: for every (source1, source2)
    pair (unordered, least/greatest-normalized), how many MinHash-LSH
    near-dup pairs cross them — the which-dumps-duplicate-each-other
    screen a mixing pipeline runs BEFORE weighting sources (a source
    whose docs are mostly near-copies of another adds less novel data
    than its row count suggests).  Reuses the stored signature table and
    the collapse guard; two source-label joins + one tiny aggregate on
    top of the near-dup pair set."""
    from datayours_spark.functions.dedup import minhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup(
        docs, signatures=_minhash_sigs(spark, sf_dir), collapse_identical=True
    )
    src = docs.select("doc_id", "source")
    s1 = src.select(F.col("doc_id").alias("id1"), F.col("source").alias("_s1"))
    s2 = src.select(F.col("doc_id").alias("id2"), F.col("source").alias("_s2"))
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .select(
            F.least("_s1", "_s2").alias("source1"),
            F.greatest("_s1", "_s2").alias("source2"),
        )
        .groupBy("source1", "source2")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis bundle: token counts (whitespace + BPE-ish regex),
    quality score, profile-based language ID, rolling-hash fingerprint."""
    from datayours_spark.functions.text import text_profile

    docs = load_table(spark, sf_dir, "documents")
    return text_profile(docs)


ANN_LSH_PLANES = 8


def _emb_dim(sf_dir: str) -> int:
    """Embedding width from the parquet footer + one row-group peek —
    driver-side, no Spark job at plan-build time (ADVICE r1).  Handles
    both layouts: a single parquet file (the driver fixtures) and a
    Spark-written directory of part files (any real store)."""
    import glob

    import pyarrow.parquet as pq

    path = f"{sf_dir}/embeddings.parquet"
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
        if not parts:
            raise ValueError(f"{path} has no part-*.parquet files")
        path = parts[0]
    pf = pq.ParquetFile(path)
    return len(pf.read_row_group(0, columns=["embedding"]).column(0)[0])


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketing of embeddings + bucket occupancy stats."""
    from datayours_spark.functions.similarity import bucket_stats, lsh_buckets

    emb = load_table(spark, sf_dir, "embeddings")
    return bucket_stats(
        lsh_buckets(emb, n_planes=ANN_LSH_PLANES, dim=_emb_dim(sf_dir))
    )


RENDER_API_TARGET = "events.{click,error}.u?"  # braces + single-char glob
RENDER_API_STEP = 21_600


def q_render_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 end-to-end via the user-facing api.render facade: brace+glob
    target → find leaves → one distributed dense-grid fetch for ALL matched
    series → zero null policy."""
    from datayours_spark import api

    dp = datapoints_from_events(spark, sf_dir)
    return api.render(
        spark,
        dp,
        targets=RENDER_API_TARGET,
        from_=FETCH_FROM,
        until_=T0 + 3 * DAY,
        step=RENDER_API_STEP,
        format="df",
        null_policy="zero",
    ).select("path", "slot", F.round("value", 4).alias("value"))


# ------- dataMine federated source fixture (derived from events) -----------

DM_CHANNELS = {t: i + 1 for i, t in enumerate(EVENT_TYPES)}  # click=1, ...
DM_OFFSET_CHANNEL = "purchase"  # gets DataOffset+filter to exercise P4
DM_GRID_STEP = 21_600


def _materialize_datamine(spark: SparkSession, sf_dir: str) -> str:
    """Write a deterministic dataMine DB (weekly per-channel CSVs +
    dataMineConfig.json) derived from the events table, once per sf.

    Fixture scaffolding only: the sample volume is the events table, which
    is dedup'd per (channel, second) BEFORE writing so the irregular-sample
    semantics stay deterministic (the reference's bisection also resolves
    one row per time, `L_DataBaseDM.lua:102-116`).
    """
    import json
    from pathlib import Path

    from datayours_spark.sources.datamine import WEEK_SECONDS

    db = Path(__file__).parent / "tests" / "_tmp" / f"dm_{Path(sf_dir).name}"
    if not (db / "dataMineConfig.json").exists():
        events = load_table(spark, sf_dir, "events")
        rows = (
            events.groupBy(
                "event_type", F.col("ts_sec").alias("t")
            )
            .agg(F.max_by("value", epoch_us_col(events, "ts")).alias("v"))
            .collect()
        )
        by_file: dict[tuple[int, int], list[tuple[int, float]]] = {}
        for r in rows:
            ch = DM_CHANNELS[r["event_type"]]
            by_file.setdefault((ch, r["t"] // WEEK_SECONDS), []).append(
                (r["t"], r["v"])
            )
        for (ch, week), pts in by_file.items():
            f = db / "database" / str(ch) / "raw" / f"{week}.txt"
            f.parent.mkdir(parents=True, exist_ok=True)
            f.write_text(
                "\n".join(f"{t},{v!r}" for t, v in sorted(pts)) + "\n"
            )
        config = {
            "Variables": [
                {
                    "Id": DM_CHANNELS[t],
                    "Name": t,
                    "DataOffset": 5.0 if t == DM_OFFSET_CHANNEL else 0.0,
                    "FilterEnable": 1 if t == DM_OFFSET_CHANNEL else 0,
                    "Filterminimum": 10.0,
                    "FilterMaximum": 100.0,
                }
                for t in EVENT_TYPES
            ]
        }
        (db / "dataMineConfig.json").write_text(json.dumps(config))
    return str(db)


def q_datamine_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13+S14+P4+J2 end-to-end: weekly-CSV federated scan → channel config
    join (offset/clamp) → backward as-of resample onto a 6h grid."""
    from datayours_spark.sources.datamine import (
        apply_channel_filters,
        asof_query,
        read_channels,
        read_config,
    )

    db_dir = _materialize_datamine(spark, sf_dir)
    samples = apply_channel_filters(
        read_channels(spark, db_dir), read_config(spark, db_dir)
    )
    out = asof_query(spark, samples, T0, T0 + 7 * DAY, DM_GRID_STEP)
    return out.select("path", "slot", F.round("value", 4).alias("value"))


def q_dm_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataMine timeline report's DATA side
    (`L_DataMineServer.lua:258-282`): per-channel display name plus first/
    last sample timestamps (one aggregation over the weekly-CSV store),
    with the reference's `last <= first → first + 1` bar nudge.  The HTML
    assembly around it is `render.dmreports.report_timeline` (golden
    tests); this query oracle-checks the numbers inside the bars."""
    from datayours_spark.sources.datamine import read_channels, read_config

    db_dir = _materialize_datamine(spark, sf_dir)
    stats = read_channels(spark, db_dir).groupBy("channel_id").agg(
        F.min("ts_sec").alias("first_ts"), F.max("ts_sec").alias("max_ts")
    )
    return (
        read_config(spark, db_dir)
        .join(stats, "channel_id")
        .select(
            "channel_id",
            "name",
            "first_ts",
            F.when(
                F.col("max_ts") <= F.col("first_ts"), F.col("first_ts") + 1
            ).otherwise(F.col("max_ts")).alias("last_ts"),
        )
    )


def _pii_injected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with deterministic synthetic PII appended (the
    fixture corpus has none): emails on doc_id%7, phones on %11, IPs on
    %13 — the oracle injects the identical text, so the scrub is tested
    against real matches, not vacuous zero counts."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" mail me at user"), did, F.lit("@example.com ok")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit(" call 555-867-5309 now")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 up"),
            ),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", injected.alias("text"))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural PII detect + redact (C4/Dolma-style pre-training scrub):
    per-kind match counts and the redacted text, all JVM-side regex
    projections — runs at scan speed at 100 TB."""
    from datayours_spark.functions.text import pii_scrub

    return pii_scrub(_pii_injected_docs(spark, sf_dir))


VOCAB_V = 20  # induced-vocabulary size for the OOV coverage check
CHUNK_WINDOW, CHUNK_STRIDE = 32, 16  # retrieval chunking: 50% overlap
DUP_NGRAM_N = 2  # duplicate-ngram quality gate: bigram variant


def q_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-bigram fraction — the published
    boilerplate gate that catches repeated-template docs no single-token
    repetition filter sees.  Generator projection + two map-side-combined
    aggregations sharing the doc_id key prefix."""
    from datayours_spark.functions.text import dup_ngram_stats

    docs = load_table(spark, sf_dir, "documents")
    return dup_ngram_stats(docs, n=DUP_NGRAM_N)


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for retrieval/embedding pipelines:
    overlapping CHUNK_WINDOW-token chunks every CHUNK_STRIDE tokens, with
    integer-arithmetic chunk identity (any engine re-derives the same
    chunk table).  One generator projection, zero shuffles."""
    from datayours_spark.functions.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, window=CHUNK_WINDOW, stride=CHUNK_STRIDE)


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage screen: induce the exact top-VOCAB_V unigram
    vocabulary (count DESC, token ASC — unique on any engine), then score
    every document's out-of-vocabulary token ratio.  High-OOV docs
    shatter into byte-fallback at training time; this is the signal that
    routes them out.  One explode+count for the vocab, one broadcast left
    join + per-doc aggregation for the scores."""
    from datayours_spark.functions.text import oov_rate, vocab_topv

    docs = load_table(spark, sf_dir, "documents")
    vocab = vocab_topv(docs, VOCAB_V)
    return oov_rate(docs, vocab)


def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Id-ization against the induced vocabulary — the step between
    vocabulary induction and sequence packing: every token becomes its
    frequency-rank id (1..V) or 0 for OOV, as (doc_id, pos, tid).  One
    posexplode + one broadcast vocab join, zero corpus shuffle."""
    from datayours_spark.functions.text import tokenize_ids, vocab_topv

    docs = load_table(spark, sf_dir, "documents")
    vocab = vocab_topv(docs, VOCAB_V)
    return tokenize_ids(docs, vocab)


BPE_MERGE_BUDGET = 12


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table induction (Sennrich et al. 2016) over the corpus:
    the BPE_MERGE_BUDGET most frequent adjacent symbol pairs, learned
    from characters + the </w> marker with each round's winner merged
    everywhere before the recount — the real-tokenizer companion to the
    whitespace `vocab_topv` feeding `tokenize_ids`.  Output:
    (merge_rank, lhs, rhs, pair_freq), the ordered merge table.

    Scale shape: the corpus collapses to the word-frequency table once;
    every round is one vocab-sized pair aggregate + a bounded top-1 +
    one literal replace rewrite (the winning pair is model state).  The
    DuckDB oracle replays all rounds CTE-for-CTE."""
    from datayours_spark.functions.text import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_merges(docs, n_merges=BPE_MERGE_BUDGET)
    return small_df(
        spark,
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "merge_rank bigint, lhs string, rhs string, pair_freq bigint",
    )


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table to the corpus: every token
    becomes its subword symbol sequence — (doc_id, pos, word, sym_pos,
    sym), the id-ization input that replaces whitespace tokens with
    real subwords.  The merge table is model state (BPE_MERGE_BUDGET
    literal replaces chained into one projection over the token
    generator), so segmentation is a zero-shuffle codegen pass; the
    oracle replays induction AND application round-for-round."""
    from datayours_spark.functions.text import bpe_merges, bpe_segment

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_merges(docs, n_merges=BPE_MERGE_BUDGET)
    return bpe_segment(docs, merges)


def q_bpe_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete real-tokenizer id pipeline: BPE induction →
    segmentation → symbol vocabulary (frequency-rank ids 1..V) →
    id-ization, as (doc_id, pos, sym_pos, tid) — what `tokenize_ids`
    does with whitespace tokens, done with learned subwords.  No OOV:
    the vocabulary is every post-merge symbol of the same corpus.

    Scale shape: segmentation is the zero-shuffle literal-replace
    projection; the vocabulary is one map-side-combinable aggregate
    whose OUTPUT is model-state sized (distinct chars + merge budget),
    so its global rank window is bounded; ids come from a broadcast
    join of that vocabulary back onto the segment stream."""
    from datayours_spark.functions.text import (
        bpe_merges,
        bpe_segment,
        bpe_sym_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_merges(docs, n_merges=BPE_MERGE_BUDGET)
    seg = bpe_segment(docs, merges)
    # r15: symbol counts come from the word-frequency table (segmentation
    # is word-determined, so Σ freq × per-word multiplicity is integer-
    # exact equal to counting the corpus segment stream) — the merge-
    # chain projection now runs ONCE over the token occurrences (the id
    # join below) instead of twice; hash-verified against the oracle
    counts = bpe_sym_counts(docs, merges)
    # the counts relation is vocab-sized (≤ distinct chars + merges):
    # a global rank window over it is bounded model state, not a
    # corpus sort
    vocab = counts.select(
        "sym",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), "sym"))
        .cast("long")
        .alias("tid"),
    )
    return seg.join(F.broadcast(vocab), "sym").select(
        "doc_id", "pos", "sym_pos", "tid"
    )


def q_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL frequency over the corpus — the domain-blocklist /
    overrepresentation screen of a pre-training pipeline.  URLs are
    injected deterministically (the fixture corpus has none) identically
    on both sides; extraction is a generator projection, the per-domain
    rollup map-side combines."""
    from datayours_spark.functions.text import url_domains

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" see https://example.com/page"), did, F.lit(" ok")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 15 == 0, F.lit(" and http://blocked.bad/x")
        ).otherwise(F.lit("")),
    )
    return (
        url_domains(docs.select("doc_id", injected.alias("text")))
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


NEARDUP_PLANES = 6
NEARDUP_THRESHOLD = 0.25


def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: LSH-blocked candidate pairs verified by
    exact cosine (the scale path for semantic dedup)."""
    from datayours_spark.functions.similarity import cosine_neardup

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup(
        emb, n_planes=NEARDUP_PLANES, threshold=NEARDUP_THRESHOLD,
        dim=_emb_dim(sf_dir),
    )


#: banded (OR-amplified) variant: 3 independent 4-plane signatures —
#: higher recall than the single 6-plane signature at 3× blocking cost
NEARDUP_BANDS = 3
NEARDUP_BAND_PLANES = 4


def q_dedup_embed_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified banded-LSH cosine near-dup: a pair is a candidate if
    it collides in ANY of the independent hyperplane signatures, then
    exact-cosine verified — the recall knob on the q_dedup_embed scale
    path (MinHash-LSH-style banding for embeddings)."""
    from datayours_spark.functions.similarity import cosine_neardup_banded

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_banded(
        emb, n_planes=NEARDUP_BAND_PLANES, n_bands=NEARDUP_BANDS,
        threshold=NEARDUP_THRESHOLD, dim=_emb_dim(sf_dir),
    )


#: incremental embedding near-dup fixture: the "new batch" is every
#: (vec_id % MOD == 0) corpus vector re-identified past OFFSET — each
#: batch vector is bit-identical to its source, exercising the
#: cross-boundary identical-collapse path plus genuine near-dup joins
NEARDUP_INC_MOD = 17
NEARDUP_INC_OFFSET = 1_000_000


def q_dedup_embed_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs introduced by a new batch against the
    standing collapsed cosine index — the embedding member of the
    incremental-maintenance family (MinHash `q_dedup_incremental`, spans
    `q_span_incremental`).  Per-batch cost scales with the batch and its
    matched buckets, never the corpus."""
    from datayours_spark.functions.similarity import (
        cosine_collapse_index,
        cosine_neardup_incremental,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(sf_dir)
    batch = emb.where(F.col("vec_id") % NEARDUP_INC_MOD == 0).select(
        (F.col("vec_id") + NEARDUP_INC_OFFSET).alias("vec_id"), "embedding"
    )
    members, reps = cosine_collapse_index(emb, NEARDUP_PLANES, dim=dim)
    return cosine_neardup_incremental(
        batch, members, reps, NEARDUP_PLANES, NEARDUP_THRESHOLD, dim=dim
    )


TFIDF_TOP_K = 5


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed tf-idf: one token explode → per-(source, term) term
    frequency, source-level document frequency, idf = ln(n_sources/df),
    top-k terms per source.  The classic corpus-characterization pass a
    training-data pipeline runs per shard: explode + two hash aggregations
    + one bounded window — no driver-side vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    nsrc = docs.agg(F.countDistinct("source").alias("n_src"))
    scored = tf.join(df_, "term").crossJoin(F.broadcast(nsrc)).select(
        "source", "term", "tf",
        F.round(
            F.col("tf") * F.log(F.col("n_src") * 1.0 / F.col("df")), 6
        ).alias("score"),
    )
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TFIDF_TOP_K)
    )


CORPUS_QUALITY_MIN = 0.5


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pipeline: quality-score filter +
    MinHash-LSH near-dup removal (keep the lowest doc_id of each dup pair).
    One anti-join against the dup-loser set — the shape a 100 TB corpus
    clean runs at."""
    from datayours_spark.functions.dedup import minhash_dedup
    from datayours_spark.functions.text import text_profile

    docs = load_table(spark, sf_dir, "documents")
    prof = text_profile(docs, fingerprint=False).select(
        "doc_id", "n_tokens", "quality", "pred_lang"
    )
    dup_losers = (
        minhash_dedup(
            docs, bands=MINHASH_BANDS, rows=MINHASH_ROWS,
            threshold=MINHASH_THRESHOLD,
        )
        .select(F.col("id2").alias("doc_id"))
        .distinct()
    )
    return (
        prof.where(F.col("quality") >= CORPUS_QUALITY_MIN)
        .join(dup_losers, "doc_id", "left_anti")
    )


def q_dash_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard's enriched series listing (`L_DataDash.lua:180-209`):
    per-series activity stats (A7: first/last/points) + latest value joined
    with the storage metadata a whisper header would carry (S11/J5:
    retentions, xff, method from series_meta) — one aggregation plus one
    broadcast join."""
    from datayours_spark.operators.catalog import series_catalog
    from datayours_spark.operators.meta import assign_series_meta

    dp = datapoints_from_events(spark, sf_dir)
    meta = assign_series_meta(series_catalog(dp), _meta_engine())
    stats = dp.groupBy("path").agg(
        F.count("*").alias("n_points"),
        F.min("ts_sec").alias("first_ts"),
        F.max("ts_sec").alias("last_ts"),
        F.max_by("value", "ts_us").alias("latest"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )
    return stats.join(F.broadcast(meta), "path").select(
        "path", "n_points", "first_ts", "last_ts", "latest", "avg_value",
        "retentions", "xff", "method",
    )


LOCF_CHUNK_SPAN = 2 * 86_400  # deliberately not slot-aligned with the grid


def q_locf_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe chunked LOCF over a multi-series dense grid — must equal
    the plain hold policy (SURVEY §7.2(c) hot-partition fix)."""
    from datayours_spark.operators.align import locf_chunked
    from datayours_spark.operators.fetch import time_grid

    dp = datapoints_from_events(spark, sf_dir, per_user=False)
    slots = lww_slots(dp, 21_600)
    paths = slots.select("path").distinct()
    grid = paths.crossJoin(time_grid(spark, T0, MONTH_END, 21_600))
    dense = grid.join(slots, ["path", "slot"], "left")
    out = locf_chunked(dense, chunk_span=LOCF_CHUNK_SPAN)
    return out.select("path", "slot", F.round("value", 4).alias("value"))


RESIZE_MAX_SIDE = 256


def q_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plan: aspect-preserving target dimensions as pure
    column arithmetic (the pixel transform is decoder work, stubbed)."""
    from datayours_spark.functions.multimodal import resize_metadata

    assets = _documents_as_assets(spark, sf_dir)
    out = resize_metadata(assets, RESIZE_MAX_SIDE)
    return out.select("asset_id", "width", "height", "new_width", "new_height")


SESSION_GAP = "30 minutes"
SESSION_GAP_SEC = 1_800


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 (beyond reference): session windows — per-user event sessions
    split on 30min inactivity, via Spark's session_window (the streaming-
    capable form of the gaps-and-islands computation)."""
    events = load_table(spark, sf_dir, "events")
    rows = events.select(
        "user_id", F.timestamp_seconds("ts_sec").alias("ts"), "value"
    )
    out = rows.groupBy("user_id", F.session_window("ts", SESSION_GAP)).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return out.select(
        "user_id",
        F.unix_timestamp("session_window.start").alias("session_start"),
        "n_events",
        "sum_value",
    )


ANN_IVF_K = 8
ANN_IVF_ITERS = 3
ANN_IVF_SEED = 42

# The ANN INDEX (quantizer/codebooks/codes/assignments) of an embedding
# store lives in the session cache — in production it is trained once at
# ingest and persisted; retraining it per search would be wrong by
# design (the reference applies the same lifecycle split to its header
# cache, S12 `L_DataWhisper.lua:624-641`, which it credits with doubling
# write speed).  Every part is either plain driver-side model state
# (centroid/codebook lists, KBs) or a localCheckpoint-ed codes table
# pinned in the session the key names; all of it is a pure
# deterministic function of (table, constants), so a cache hit is
# bit-identical to a retrain — the DuckDB oracles replay training from
# scratch either way.


def _ann_centroid_rows(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, list[float], float]]:
    """Coarse-quantizer model state (k×d doubles), trained once per
    session via kmeans_centroids' deterministic contract."""
    from datayours_spark.functions.similarity import kmeans_centroid_rows

    def build() -> list[tuple[int, list[float], float]]:
        return kmeans_centroid_rows(
            load_table(spark, sf_dir, "embeddings"),
            k=ANN_IVF_K, iters=ANN_IVF_ITERS, seed=ANN_IVF_SEED,
        )

    return session_cached(spark, sf_dir, "embeddings", "coarse", build)


def _ann_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datayours_spark.functions.similarity import CENTROID_SCHEMA

    return small_df(spark, _ann_centroid_rows(spark, sf_dir), CENTROID_SCHEMA)


def _ann_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster) inverted-list membership — index state, built
    once and localCheckpoint-ed (it is stored next to the codes in a real
    deployment)."""
    from datayours_spark.functions.similarity import ivf_assign

    return session_cached(
        spark, sf_dir, "embeddings", "assign",
        lambda _: ivf_assign(
            load_table(spark, sf_dir, "embeddings"),
            _ann_centroids(spark, sf_dir),
        ),
        checkpoint=True,
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN with a LEARNED coarse quantizer: deterministic
    DataFrame k-means (md5-derived init, fixed Lloyd iterations, rounded
    arithmetic — the DuckDB oracle replays the identical iterations) →
    probe only the query's nearest cluster → exact cosine re-rank."""
    from datayours_spark.functions.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cent = _ann_centroids(spark, sf_dir)
    return ivf_topk(
        emb, list(range(N_ANN_QUERIES)), ANN_TOP_K, centroids=cent,
        assignments=_ann_assignments(spark, sf_dir),
    )


def _sq_index_dir(spark: SparkSession, sf_dir: str) -> tuple[str, list]:
    """Build-and-persist the IVF-SQ index bundle ONCE per session
    (annindex.save_sq_index layout: codes PARTITIONED BY cluster), and
    return (index_dir, bounds).  The r8 production path: searches load
    this store and prune to probed cluster partitions instead of
    decoding + tag-joining the whole corpus in-query (the r7 verdict's
    `weak` finding)."""
    import shutil

    from datayours_spark.functions.annindex import save_sq_index
    from datayours_spark.functions.similarity import sq_encode, sq_train

    def build() -> tuple[str, list]:
        app_id = spark.sparkContext.applicationId
        base = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
        )
        os.makedirs(base, exist_ok=True)
        # reap index dirs left by dead sessions (the session cache drops
        # their in-memory entries the same way).  A foreign app_id alone
        # doesn't prove the owner is dead — a concurrent LIVE session
        # can share this checkout — so only dirs untouched for an hour
        # are reclaimed (a live owner's dir is always newer: it was
        # written this session) (ADVICE r8).
        now = time.time()
        for d in os.listdir(base):
            if d.startswith("sq_index_") and app_id not in d:
                p = os.path.join(base, d)
                try:
                    if now - os.path.getmtime(p) > 3600:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass  # raced with the owner or another reaper
        out = os.path.join(
            base, f"sq_index_{app_id}_{os.path.basename(sf_dir.rstrip('/'))}"
        )
        emb = load_table(spark, sf_dir, "embeddings")
        bounds = sq_train(emb)
        save_sq_index(
            out,
            _ann_centroids(spark, sf_dir),
            bounds,
            sq_encode(emb, bounds),
            _ann_assignments(spark, sf_dir),
            {"dim": ANN_DIM, "k": ANN_IVF_K, "seed": ANN_IVF_SEED},
        )
        return out, bounds

    return session_cached(spark, sf_dir, "embeddings", "sq_index_dir", build)


def q_ann_ivfsq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ — inverted lists over the SQ8-quantized corpus (the FAISS
    IVF,SQ8 composition): the learned coarse quantizer prunes candidates
    to the probed cluster, which are then scored against their 8-bit
    reconstruction; queries stay exact.  Same probe arithmetic as
    q_ann_ivf with the 8× smaller candidate read.

    Runs the FULL index lifecycle: build + persist cluster-partitioned
    (annindex.save_sq_index, once per session), then load and search
    with literal probe clusters (ivfsq_topk_pruned) — the executed plan
    carries PartitionFilters on the codes scan (plancheck pins it), so
    the decode projection and candidate read touch only the probed
    inverted lists.  Results are byte-identical to the in-query
    ivfsq_topk derivation; the DuckDB oracle replays that."""
    from datayours_spark.functions.annindex import load_sq_index
    from datayours_spark.functions.similarity import ivfsq_topk_pruned

    emb = load_table(spark, sf_dir, "embeddings")
    idx_dir, _bounds = _sq_index_dir(spark, sf_dir)
    idx = load_sq_index(spark, idx_dir)
    return ivfsq_topk_pruned(
        emb, idx["codes"], idx["bounds"], idx["centroids"],
        list(range(N_ANN_QUERIES)), ANN_TOP_K,
    )


ANN_IVF_NPROBE = 2


def q_ann_ivf_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN: same learned quantizer, but each query scans
    its 2 nearest centroids' inverted lists — the recall/cost dial between
    single-probe IVF and brute force (nprobe=n_clusters degrades gracefully
    to the exact search).  The oracle replays the identical probe ranking
    (9-dp-rounded cosine against the broadcast centroid table)."""
    from datayours_spark.functions.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cent = _ann_centroids(spark, sf_dir)
    return ivf_topk(
        emb, list(range(N_ANN_QUERIES)), ANN_TOP_K,
        centroids=cent, nprobe=ANN_IVF_NPROBE,
        assignments=_ann_assignments(spark, sf_dir),
    )


ANN_PQ_M = 4      # PQ subspaces (64-dim -> 16-dim sub-vectors)
ANN_PQ_KS = 16    # codewords per subspace (codes fit 4 bits here; <=256 -> 1 byte)
ANN_PQ_ITERS = 2  # Lloyd iterations per subspace codebook
ANN_DIM = 64      # embeddings table vector width


def _ann_books(
    spark: SparkSession, sf_dir: str, residual: bool
) -> list[list[tuple[int, list[float]]]]:
    """PQ codebook model state (m×ks×dsub doubles); ``residual=True``
    trains on the coarse residual v - c(v)."""
    from datayours_spark.functions.similarity import (
        pq_codebooks,
        residual_vectors,
    )

    def build() -> list[list[tuple[int, list[float]]]]:
        emb = load_table(spark, sf_dir, "embeddings")
        # stored assignments injected: the session's checkpointed
        # inverted-list membership IS ivf_assign's output, so the
        # residual projection skips re-deriving the assignment
        # shuffle (r15)
        train = (
            residual_vectors(
                emb, _ann_centroids(spark, sf_dir),
                assignments=_ann_assignments(spark, sf_dir),
            )
            if residual
            else emb
        )
        return pq_codebooks(
            train, m=ANN_PQ_M, ks=ANN_PQ_KS, iters=ANN_PQ_ITERS,
            seed=ANN_IVF_SEED, dim=ANN_DIM,
        )

    return session_cached(
        spark, sf_dir, "embeddings", f"books_res{residual}", build
    )


def _ann_codes(spark: SparkSession, sf_dir: str, residual: bool) -> DataFrame:
    """(vec_id, codes, nrm) — the stored m-byte payload per vector plus
    its ORIGINAL full-vector norm; localCheckpoint-ed once per session
    (this TABLE is the PQ index a real store persists)."""
    from datayours_spark.functions.similarity import (
        pq_encode,
        residual_vectors,
    )

    def build(_materialize: bool) -> DataFrame:
        # the encode projection is per-row argmax work over every vector
        # — spread the single-split fixture scan across cores (no-op for
        # multi-split stores); codes are row-local, so values are
        # partitioning-independent
        emb = spread_scan(load_table(spark, sf_dir, "embeddings"))
        books = _ann_books(spark, sf_dir, residual)
        if residual:
            # residual codes store the ORIGINAL vector's norm (the
            # scoring contract): carry it through the residual
            # projection instead of re-scanning emb for a norms join
            # (same sqrt(dot(v, v)) expression on the same source
            # column — bit-identical), and reuse the stored
            # assignments (r15)
            base = residual_vectors(
                emb, _ann_centroids(spark, sf_dir),
                assignments=_ann_assignments(spark, sf_dir),
                carry_nrm=True,
            )
            return pq_encode(
                base, books, ANN_DIM, id_col="vec_id",
                vec_col="embedding", nrm_col="orig_nrm",
            )
        return pq_encode(
            emb, books, ANN_DIM, id_col="vec_id", vec_col="embedding"
        )

    return session_cached(
        spark, sf_dir, "embeddings", f"codes_res{residual}", build,
        checkpoint=True,
    )


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: the learned coarse quantizer routes candidates, and
    scoring reads each candidate's m-byte PQ code + stored norm instead of
    its full vector — asymmetric distance (per-query lookup table of
    query-subvector x codeword inner products, broadcast) approximates
    cosine.  The memory-side answer for 100 TB embedding stores.  Codebook
    training, encoding, and ADC all follow the kmeans_centroids
    determinism contract (md5 init, fixed iterations, 9-dp assignment,
    6-dp means), so the DuckDB oracle replays every step bit-for-bit."""
    from datayours_spark.functions.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, list(range(N_ANN_QUERIES)), ANN_TOP_K,
        _ann_centroids(spark, sf_dir), _ann_books(spark, sf_dir, False),
        ANN_DIM,
        codes=_ann_codes(spark, sf_dir, False),
        assignments=_ann_assignments(spark, sf_dir),
    )


def q_ann_ivfpq_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF-PQ: the nprobe recall dial composed with PQ's
    memory compression — each query ADC-scores the codes in its 2 nearest
    inverted lists.  Oracle replays the identical probe ranking."""
    from datayours_spark.functions.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, list(range(N_ANN_QUERIES)), ANN_TOP_K,
        _ann_centroids(spark, sf_dir), _ann_books(spark, sf_dir, False),
        ANN_DIM, nprobe=ANN_IVF_NPROBE,
        codes=_ann_codes(spark, sf_dir, False),
        assignments=_ann_assignments(spark, sf_dir),
    )


def q_ann_ivfpq_res(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (the FAISS-style composition): codebooks quantize
    the coarse residual v - c(v) — residuals pool near the origin, so the
    same code budget fits them tighter — and scoring reconstructs
    dot(q, x) as dot(q, c) + the ADC table sum.  Queries stay
    un-residualized (asymmetric).  Full replay oracle."""
    from datayours_spark.functions.similarity import ivfpq_residual_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_residual_topk(
        emb, list(range(N_ANN_QUERIES)), ANN_TOP_K,
        _ann_centroids(spark, sf_dir),
        m=ANN_PQ_M, ks=ANN_PQ_KS, iters=ANN_PQ_ITERS,
        seed=ANN_IVF_SEED, dim=ANN_DIM,
        books=_ann_books(spark, sf_dir, True),
        codes=_ann_codes(spark, sf_dir, True),
        assignments=_ann_assignments(spark, sf_dir),
    )


ANN_RERANK_SHORTLIST = 15


def q_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: IVF-PQ ADC shortlist (15 candidates/query
    from the compressed codes) → exact cosine re-rank of only those
    candidates' full vectors — the standard production ANN composition.
    Full replay oracle (shortlist + re-rank both replayed)."""
    from datayours_spark.functions.similarity import ivfpq_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_rerank_topk(
        emb, list(range(N_ANN_QUERIES)), ANN_TOP_K,
        _ann_centroids(spark, sf_dir), _ann_books(spark, sf_dir, False),
        ANN_DIM, shortlist=ANN_RERANK_SHORTLIST,
        codes=_ann_codes(spark, sf_dir, False),
        assignments=_ann_assignments(spark, sf_dir),
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@k of IVF-PQ against exact cosine,
    per query — the metric an ANN deployment actually tracks when tuning
    nprobe/m/ks.  Both sides reuse the session index; the tiny top-k sets
    join on (query_id, vec_id).  Output: (query_id, recall).

    Expectation note: the gate fixture's embeddings are uniform random,
    so the corpus has NO cluster structure — single-probe candidate
    generation sees ~1/k_clusters of the corpus and recall is
    correspondingly low (~0-0.2 at sf0.01).  That is the measurement
    working, not failing: on real embeddings neighbors concentrate in the
    probed cluster, and this query is how you verify that before trusting
    an nprobe setting (raising nprobe toward k_clusters drives recall to
    1 by construction — q_ann_ivf_probe2 is the first step of that
    dial)."""
    from datayours_spark.functions.similarity import cosine_topk, ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    approx = ivfpq_topk(
        emb, list(range(N_ANN_QUERIES)), ANN_TOP_K,
        _ann_centroids(spark, sf_dir), _ann_books(spark, sf_dir, False),
        ANN_DIM,
        codes=_ann_codes(spark, sf_dir, False),
        assignments=_ann_assignments(spark, sf_dir),
    ).select("query_id", "vec_id")
    exact = cosine_topk(emb, list(range(N_ANN_QUERIES)), ANN_TOP_K).select(
        "query_id", "vec_id"
    )
    hits = approx.join(exact, ["query_id", "vec_id"]).groupBy("query_id").count()
    base = exact.groupBy("query_id").count().withColumnRenamed("count", "k")
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.round(F.coalesce(F.col("count"), F.lit(0)) / F.col("k"), 4).alias(
            "recall"
        ),
    )


CLUSTER_TOPIC_K = 3


def q_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus exploration over the learned clustering: per k-means
    cluster, the doc count and the top-3 tokens by frequency (ties by
    token) — the 'what is in this cluster' readout that turns an opaque
    embedding clustering into something a corpus owner can inspect.
    Joins documents to the session's cached cluster assignments
    (doc_id == vec_id in the gate fixtures); top terms come from one
    token aggregation + a per-cluster bounded window."""
    docs = load_table(spark, sf_dir, "documents")
    assign = _ann_assignments(spark, sf_dir)
    toks = docs.join(
        assign, docs["doc_id"] == assign["vec_id"]
    ).select("cluster", "doc_id", F.explode(F.split("text", " ")).alias("tok"))
    counts = toks.groupBy("cluster", "tok").agg(F.count("*").alias("c"))
    w = Window.partitionBy("cluster").orderBy(F.col("c").desc(), F.col("tok"))
    top = (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= CLUSTER_TOPIC_K)
        .groupBy("cluster")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rank", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("top_terms")
        )
    )
    sizes = assign.groupBy("cluster").agg(
        F.count("*").alias("n_docs")
    )
    return sizes.join(top, "cluster", "left").select(
        "cluster", "n_docs", F.coalesce("top_terms", F.lit("")).alias("top_terms")
    )


SEMDEDUP_TAU = 0.3


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: the learned k-means quantizer blocks the
    corpus; within-cluster 9-dp cosine >= tau against a lower-id member
    marks a vector as a semantic duplicate.  Reuses the session's coarse
    index; the DuckDB oracle replays clustering + the within-cluster pair
    scan bit-for-bit."""
    from datayours_spark.functions.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(
        emb, _ann_centroids(spark, sf_dir), tau=SEMDEDUP_TAU,
        assignments=_ann_assignments(spark, sf_dir),
    )


def q_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup flags for a new batch against the standing corpus under a
    FROZEN corpus-trained quantizer — keep-lowest-id makes standing flags
    immutable, so the batch is assigned by the broadcast centroids and
    compared only within its touched clusters (cost ∝ batch, never
    corpus).  Same bit-identical-batch fixture as
    q_dedup_embed_incremental; the oracle is the full recompute over
    (corpus ∪ batch) restricted to batch rows."""
    from datayours_spark.functions.similarity import (
        semdedup_incremental,
        semdedup_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent = _ann_centroids(spark, sf_dir)
    idx = semdedup_index(
        emb, cent, assignments=_ann_assignments(spark, sf_dir)
    )
    batch = emb.where(F.col("vec_id") % NEARDUP_INC_MOD == 0).select(
        (F.col("vec_id") + NEARDUP_INC_OFFSET).alias("vec_id"), "embedding"
    )
    return semdedup_incremental(batch, cent, idx, tau=SEMDEDUP_TAU)


def q_metrics_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 /metrics/expand: flat path list, branches get a trailing dot
    (`graphite_cgi.lua:265-283`)."""
    from datayours_spark.operators.catalog import expand_query, series_catalog

    dp = datapoints_from_events(spark, sf_dir)
    return expand_query(series_catalog(dp), "events.*")


BRACE_FIND_PATTERN = "events.{click,error}.u*"


def q_brace_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: brace expansion `a{b,c}d` in a find query — expanded driver-side
    into a union of glob regexes (`L_DataGraph.lua:104-117`)."""
    from datayours_spark.operators.catalog import find_nodes, series_catalog

    dp = datapoints_from_events(spark, sf_dir)
    return find_nodes(series_catalog(dp), BRACE_FIND_PATTERN)


RENDER_NOW = MONTH_END  # fixed "now" so relative parses are deterministic
RENDER_FROM_EXPR = "-2w"  # F1: 0.998-shrunk relative time
RENDER_UNTIL_EXPR = "2024-031"  # F2: ordinal date, hour defaults to noon


def q_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2: the render API's time parsing driving a fetch range — relative
    `-2w` (deliberate ×0.998 shrink, `L_DataGraph.lua:96`) to ordinal-date
    `2024-031` (day-of-year, hour→12 default, `L_DataGraph.lua:66-87`)."""
    from datayours_spark.kernel.timeparse import parse_time

    frm = parse_time(RENDER_FROM_EXPR, now=RENDER_NOW)
    until = parse_time(RENDER_UNTIL_EXPR)
    dp = datapoints_from_events(spark, sf_dir, per_user=False)
    return (
        dp.where(F.col("ts_sec").between(frm, until))
        .groupBy("path")
        .agg(
            F.count("*").alias("n"),
            F.min("ts_sec").alias("first_ts"),
            F.max("ts_sec").alias("last_ts"),
        )
    )


def _render_value_text(col: F.Column) -> F.Column:
    """Numeric render text shared by CSV/JSON emitters: nulls → nil/null
    handled by callers; 2dp rounding, Lua-%.14g-style '2.0' → '2'."""
    return F.regexp_replace(F.round(col, 2).cast("string"), r"\.0$", "")


def q_render_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13+F4: Graphite CSV render rows `series,datetime,value` with missing
    values as the text 'nil' (`graphite_cgi.lua:318-338`), distributed."""
    from datayours_spark.render.formats import render_csv_df

    dp = datapoints_from_events(spark, sf_dir)
    grid = fetch_grid(spark, dp, FETCH_SERIES, FETCH_FROM, FETCH_UNTIL, 3_600)
    rounded = grid.select(
        F.lit(FETCH_SERIES).alias("path"), "slot", F.round("value", 2).alias("value")
    )
    return render_csv_df(rounded)


def q_render_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: Graphite JSON render doc — one row per target with the
    `[[v, t], ...]` datapoints text, nulls as `null`
    (`graphite_cgi.lua:340-371`)."""
    dp = datapoints_from_events(spark, sf_dir, per_user=False)
    slots = lww_slots(dp, 21_600).where(F.col("slot") < T0 + 7 * DAY)
    pts = slots.groupBy(F.col("path").alias("target")).agg(
        F.sort_array(F.collect_list(F.struct("slot", "value"))).alias("pts")
    )
    point_text = lambda p: F.concat(  # noqa: E731
        F.lit("["),
        F.coalesce(_render_value_text(p["value"]), F.lit("null")),
        F.lit(","),
        p["slot"].cast("string"),
        F.lit("]"),
    )
    return pts.select(
        "target",
        F.concat(
            F.lit("["), F.array_join(F.transform("pts", point_text), ","), F.lit("]")
        ).alias("datapoints"),
    )


def _documents_as_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multimodal asset table derived from `documents`: the
    text bytes stand in for an opaque media payload (no media libs in this
    container); kind/width/height/duration are derived metadata.

    The scan is spread (gated round-robin, io.spread_scan) because the
    consumers run per-row Arrow decode work (extract_features) that
    otherwise lands on ONE task over the single-row-group fixture file
    (measured r16: 0.65 s single-task MapInPandas in
    q_multimodal_neardup); features are row-local, so values are
    partitioning-independent."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("data"),
        (F.col("n_chars") % 640 + 16).cast("int").alias("width"),
        (F.col("n_chars") % 480 + 16).cast("int").alias("height"),
        (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        F.lit("raw").alias("codec"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode stub: binary payload → md5-derived feature vector
    via Arrow-batched mapInPandas (real decoder raises
    RealDecoderUnavailable); emits per-asset feature head + L2 norm."""
    from datayours_spark.functions.multimodal import extract_features

    assets = _documents_as_assets(spark, sf_dir)
    feats = extract_features(assets)
    fd = F.transform("feature", lambda x: x.cast("double"))
    dot = F.aggregate(fd, F.lit(0.0), lambda acc, x: acc + x * x)
    return feats.select(
        "asset_id",
        "kind",
        F.round(F.element_at(fd, 1), 6).alias("f0"),
        F.round(F.sqrt(dot), 6).alias("norm"),
    )


MM_NEARDUP_PLANES = 5
MM_NEARDUP_THRESHOLD = 0.9


def q_multimodal_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup composition: binary payloads → decode-stub
    feature vectors (Arrow mapInPandas) → LSH-blocked cosine near-dup —
    the image-dedup pipeline with the decoder stubbed (swap the real
    encoder in via ``extract_features(decoder=...)`` in production; the
    Spark-side plumbing, bucketing and verify join are the contract)."""
    from datayours_spark.functions.multimodal import (
        FEATURE_DIM,
        extract_features,
    )
    from datayours_spark.functions.similarity import cosine_neardup

    assets = _documents_as_assets(spark, sf_dir)
    feats = extract_features(assets).select(
        F.col("asset_id").alias("vec_id"),
        F.col("feature").alias("embedding"),
    )
    return cosine_neardup(
        feats, n_planes=MM_NEARDUP_PLANES, threshold=MM_NEARDUP_THRESHOLD,
        dim=FEATURE_DIM,
    )


FRAME_SAMPLE_EVERY_MS = 2_500


AUDIO_SEG_WINDOW_MS, AUDIO_SEG_STRIDE_MS = 1_000, 500  # 50% overlap


def q_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio segmentation plan: overlapping fixed-duration
    segments per audio asset (the audio analogue of frame sampling and
    text chunking) — integer-arithmetic segment identity for joining
    externally computed segment embeddings; one generator projection."""
    from datayours_spark.functions.multimodal import audio_segment_plan

    assets = _documents_as_assets(spark, sf_dir)
    return audio_segment_plan(
        assets, AUDIO_SEG_WINDOW_MS, AUDIO_SEG_STRIDE_MS
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plan: one row per sampled frame timestamp,
    generated with sequence+explode (never materialized driver-side)."""
    from datayours_spark.functions.multimodal import frame_sample_plan

    assets = _documents_as_assets(spark, sf_dir)
    frames = frame_sample_plan(assets, FRAME_SAMPLE_EVERY_MS)
    return frames.groupBy("asset_id").agg(
        F.count("*").alias("n_frames"),
        F.max("frame_ms").cast("bigint").alias("last_frame_ms"),
    )


# reference-shaped rule confs (storage-schemas / storage-aggregation) used by
# the series_meta queries; patterns are unanchored regex valid in Java rlike,
# Python re, and DuckDB regexp_matches alike
META_SCHEMAS_CONF = """
[clicks]
pattern = \\.click
retentions = 1m:1d,1h:30d

[errors]
pattern = error
retentions = 10s:6h,10m:7d
"""

META_AGGREGATION_CONF = """
[counters]
pattern = \\.(click|view)
xFilesFactor = 0.1
aggregationMethod = sum

[errors]
pattern = error
xFilesFactor = 0
aggregationMethod = max

[gauges]
pattern = purchase
xFilesFactor = 0.5
aggregationMethod = last
"""


def _meta_engine():
    from datayours_spark.kernel.rules import rule_engine_from_confs

    return rule_engine_from_confs(
        schemas_conf=META_SCHEMAS_CONF, aggregation_conf=META_AGGREGATION_CONF
    )


def q_series_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.7 creation-time schema assignment: ordered storage-schemas /
    storage-aggregation regex rules compiled to a when/otherwise cascade and
    applied DISTRIBUTED over the path catalog (`L_DataCache.lua:142-162`)."""
    from datayours_spark.operators.catalog import series_catalog
    from datayours_spark.operators.meta import assign_series_meta

    dp = datapoints_from_events(spark, sf_dir)
    return assign_series_meta(series_catalog(dp), _meta_engine())


def q_rollup_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A3 with per-series config: ONE aggregation pass computes all five
    methods; a broadcast-joined series_meta picks each series' method and
    xFilesFactor (SURVEY §4's 'genuinely custom piece (b)')."""
    from datayours_spark.operators.catalog import series_catalog
    from datayours_spark.operators.meta import assign_series_meta
    from datayours_spark.operators.rollup import rollup_all_methods

    dp = datapoints_from_events(spark, sf_dir)
    eng = _meta_engine()
    meta = assign_series_meta(series_catalog(dp), eng).select(
        "path", "xff", "method"
    )
    fine = lww_slots(dp, 60)
    out = rollup_all_methods(fine, 60, 3_600, meta, methods=eng.methods_used())
    return out.select(
        "path", "slot", F.round("value", 4).alias("value"), "known", "method"
    )


MIXED_PATHS = ("events.click.u1", "events.error.u1", "events.signup.u1")
MIXED_FROM_AGE = 20 * 3_600
MIXED_UNTIL_AGE = 3_600


MIXED_TARGET = "events.{click,error,signup}.u1"


def _corpus_stats(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """(path, min_ts, max_ts, n) rows per series: the per-dataset "now"
    anchor and catalog.  In production they come from the
    ingest-maintained series-stats table (`datayours_spark.stats`, wired
    into `IngestPipeline._write_batch`) — a KB-scale read, never a
    datapoints scan.  The gate datasets are static parquet with no ingest
    history, so the stand-in is one stats aggregation on first touch,
    session-cached like a standing stats table: routed queries after that
    plan ZERO jobs before their main action (asserted by plancheck)."""
    from datayours_spark.stats import series_stats

    return session_cached(
        spark, sf_dir, "events", "series_stats",
        lambda: [
            (r["path"], int(r["min_ts"]), int(r["max_ts"]), int(r["n"]))
            for r in series_stats(datapoints_from_events(spark, sf_dir)).collect()
        ],
    )


def _corpus_now(spark: SparkSession, sf_dir: str) -> int:
    return max(row[2] for row in _corpus_stats(spark, sf_dir))


def _corpus_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The series catalog as a LOCAL relation from the memoized stats —
    target resolution over it plans no scan and no shuffle."""
    return small_df(
        spark, [(row[0],) for row in _corpus_stats(spark, sf_dir)], "path string"
    )


def q_render_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-timebase multi-target render (J1+A5, `L_DataGraph.lua:205-254`)
    through the user-facing render surface: one brace-glob target whose
    three matched leaves have DIFFERENT storage-schemas archive sets, over
    the same 19-hour window — click routes to its 1m level, error's 10s
    archive has aged out so it routes to its 10m level (aggregated with its
    conf method max), signup serves from its default 1h archive.  One
    union, three slot cadences."""
    from datayours_spark import api

    dp = datapoints_from_events(spark, sf_dir)
    now = _corpus_now(spark, sf_dir)
    out = api.render_mixed(
        spark, dp, MIXED_TARGET, _meta_engine(),
        from_=now - MIXED_FROM_AGE, until_=now - MIXED_UNTIL_AGE, now=now,
        catalog=[row[0] for row in _corpus_stats(spark, sf_dir)],
    )
    return out.select(
        "path", "slot", F.round("value", 4).alias("value"), "step"
    )


#: archives for the routed per-series cascade: the 1m level ages out after a
#: day, so a 3-day-old window routes to the 1h level (A5)
ROUTED_RETENTIONS = "1m:1d,1h:7d,6h:35d"
ROUTED_PATHS = ("events.click.u1", "events.error.u1", "events.signup.u1")
ROUTED_FROM_AGE = 3 * 86_400
ROUTED_SPAN = 86_400


def q_rollup_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A5 through the MAINTAINED per-series cascade: RollupSet.build
    derives every level via rollup_all_methods (method/xff rule-assigned per
    series from storage-aggregation conf, `L_DataWhisper.lua:493-523`), the
    router picks the 1h level for a 3-day-old window (past the 1m archive's
    retention), and three series with different conf methods (sum / max /
    default-average) are fetched from that same maintained level."""
    from datayours_spark.kernel.archives import parse_retention_str
    from datayours_spark.operators.meta import assign_series_meta
    from datayours_spark.plans.router import RollupSet

    dp = datapoints_from_events(spark, sf_dir)
    eng = _meta_engine()
    meta = assign_series_meta(
        _corpus_catalog(spark, sf_dir), eng
    ).select("path", "method", "xff")
    rs = RollupSet.build(
        dp, parse_retention_str(ROUTED_RETENTIONS), series_meta=meta,
        methods=eng.methods_used(),
    )
    now = _corpus_now(spark, sf_dir)
    from_t = now - ROUTED_FROM_AGE
    until_t = from_t + ROUTED_SPAN
    step, grid = rs.fetch_many(
        spark, list(ROUTED_PATHS), from_t, until_t, now
    )
    if step != 3_600:  # the routing invariant this query demonstrates
        raise RuntimeError(f"expected the 1h level, routed to {step}s")
    return grid.select("path", "slot", F.round("value", 4).alias("value"))


STREAM_WINDOW = "1 hour"
STREAM_WATERMARK = "30 minutes"
STREAM_WATERMARK_SEC = 1_800


def q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2/T5: Structured Streaming windowed rollup — event-time tumbling
    1h windows with a 30min watermark over the events stream, run to
    completion with availableNow; append mode emits exactly the windows the
    watermark has closed (window_end <= max(ts) - delay).

    The streaming aggregation's state store keeps one file per shuffle
    partition per micro-batch; state here is tiny (5 keys × a few windows),
    so the stream runs with 8 state partitions (a ``conf_scope`` override,
    restored after termination — measured ~2× on the per-query wall
    clock).  On a real cluster, size state partitions to distinct-key
    volume, not to the batch default."""
    import uuid

    from datayours_spark.io import events_stream_source

    with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
        stream = events_stream_source(spark, sf_dir).withWatermark(
            "ts", STREAM_WATERMARK
        )
        agg = stream.groupBy(F.window("ts", STREAM_WINDOW), "event_type").agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        table = f"stream_rollup_{uuid.uuid4().hex[:8]}"
        (
            agg.writeStream.format("memory")
            .queryName(table)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(table).select(
        F.unix_timestamp("window.start").alias("slot"),
        "event_type",
        "n",
        "sum_value",
    )


# ---------------- training-pipeline sampling / mixing / repetition / slides

#: data-mixing keep-rates (percent) — downsample en, upsample low-resource
SAMPLE_RATES = {"de": 60, "en": 15, "es": 50, "fr": 50, "zh": 40}
QUOTA_K = 2
REP_THRESHOLD = 0.2
SLIDE_STEP = 900
SLIDE_WINDOW = 3_600


SPLIT_TRAIN_PCT = 90


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val split: near-dup CLUSTERS are the split unit —
    every member of a duplicate cluster lands on the same side, so eval can
    never contain a near-copy of a training doc.  Composes the MinHash-LSH
    pair graph → connected components → salted-md5 side decision."""
    from datayours_spark.functions.dedup import dup_clusters, minhash_dedup
    from datayours_spark.functions.sampling import leakage_free_split

    docs = load_table(spark, sf_dir, "documents")
    clusters = dup_clusters(
        minhash_dedup(
            docs, bands=MINHASH_BANDS, rows=MINHASH_ROWS,
            threshold=MINHASH_THRESHOLD,
            signatures=_minhash_sigs(spark, sf_dir),
        )
    )
    return leakage_free_split(docs, clusters, train_pct=SPLIT_TRAIN_PCT)


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing (stratified sample): md5-bucket sampling per language.

    Pure row-local projection + filter — no shuffle, no count pre-pass; the
    keep decision is a function of the row alone, so the sampled corpus
    re-derives identically on any cluster size or partitioning (unlike
    ``df.sample``).  See functions/sampling.py."""
    from datayours_spark.functions.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", "doc_id", SAMPLE_RATES).select(
        "doc_id", "lang", "source", "bucket"
    )


TEMP_ALPHA = 0.5
TEMP_TARGET = 300


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing (α-temperature sampling): sample toward p_l ∝ c_l^α over
    language counts — the multilingual-LM scheme up-weighting low-resource
    languages (α=0.5 here).  One tiny count agg → broadcast per-language
    integer thresholds → row-local md5-bucket filter; the corpus is scanned
    once and never shuffled.  The oracle re-derives the identical
    thresholds (round(r·1e6) swamps cross-engine pow noise)."""
    from datayours_spark.functions.sampling import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    return temperature_sample(
        docs, "lang", "doc_id", alpha=TEMP_ALPHA, target_rows=TEMP_TARGET
    ).select("doc_id", "lang", "source", "thr", "bucket")


def q_quota_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing (per-stratum quota): top-K docs per (lang, source) by
    n_chars, doc_id tiebreak — bounded selection toward a target corpus mix.
    One shuffle on the stratum key; the rank filter caps per-group state at
    O(K) via Spark's window top-k rewrite."""
    from datayours_spark.functions.sampling import quota_topk

    docs = load_table(spark, sf_dir, "documents")
    return quota_topk(docs, ["lang", "source"], "n_chars", "doc_id", QUOTA_K).select(
        "doc_id", "lang", "source", "n_chars", "rk"
    )


UNIFORM_K = 3
TOKEN_BUDGET = 4_000


def q_sample_uniform_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing (exact count): k docs per (lang, source), uniform via the
    salted-hash permutation — deterministic reservoir sampling."""
    from datayours_spark.functions.sampling import uniform_sample_k

    docs = load_table(spark, sf_dir, "documents")
    return uniform_sample_k(docs, ["lang", "source"], "doc_id", UNIFORM_K).select(
        "doc_id", "lang", "source", "rk"
    )


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing (token budget): per language, keep docs in salted-hash
    order until TOKEN_BUDGET tokens are consumed (every kept doc STARTS
    under the budget).  One running-sum window shuffle."""
    from datayours_spark.functions.sampling import token_budget_sample

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(F.split("text", " ")).cast("bigint")
    )
    return token_budget_sample(
        docs, ["lang"], "doc_id", "n_tokens", TOKEN_BUDGET
    ).select("doc_id", "lang", "n_tokens", "offset")


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality (repetition): flag docs whose most frequent token is
    >= REP_THRESHOLD of all tokens (the cheap boilerplate/spam pre-filter).

    Shape: one explode, one (doc_id, tok) count aggregate, then both window
    functions (total + rank) share the doc_id partitioning — a single
    window exchange; n_tokens is recovered as sum(n) over the partition so
    no token array is carried through the Generate."""
    ex = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    cnt = ex.groupBy("doc_id", "tok").agg(F.count("*").alias("n"))
    w = Window.partitionBy("doc_id")
    wo = w.orderBy(F.col("n").desc(), "tok")
    ratio = F.round(F.col("n") / F.col("n_tokens"), 4)
    return (
        cnt.select(
            "doc_id",
            "tok",
            "n",
            F.sum("n").over(w).alias("n_tokens"),
            F.row_number().over(wo).alias("rk"),
        )
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            "n_tokens",
            F.col("tok").alias("top_tok"),
            F.col("n").alias("top_n"),
            ratio.alias("rep_ratio"),
        )
        .where(F.col("rep_ratio") >= REP_THRESHOLD)
    )


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram per language (bucket = tokens div 10 * 10) —
    the distribution snapshot a mixing policy is tuned against.  Two-key
    hash aggregate, map-side combinable, no window."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr("CAST(size(split(text, ' ')) div 10 * 10 AS BIGINT)")
    return (
        docs.select("lang", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count("*").alias("n_docs"))
    )


def q_sliding_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 extension: sliding-window event rate — 1h windows sliding every
    15min, per event_type, via the native window() generator (4 epoch-aligned
    window rows per event, then a map-side-combinable aggregate)."""
    events = load_table(spark, sf_dir, "events")
    win = F.window(F.timestamp_seconds(F.col("ts_sec")), "1 hour", "15 minutes")
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
        .select(
            F.col("w.start").cast("long").alias("win_start"),
            "event_type",
            "n",
            "avg_value",
        )
    )


CONTAM_EVAL_MOD = 97  # docs with doc_id % 97 == 0 stand in for the eval set
CONTAM_SHINGLE_N = 5


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-doc fraction of distinct 5-token
    shingles that appear anywhere in the eval set (docs with
    doc_id % CONTAM_EVAL_MOD == 0 stand in for it).

    Scale shape: the eval shingle set is small by construction (eval
    benchmarks are thousands of docs, not billions) so it BROADCASTS; the
    corpus side streams through one explode + broadcast left-join + doc
    aggregate — no corpus-wide shuffle except the final per-doc combine."""
    from datayours_spark.functions.dedup import token_shingles

    docs = load_table(spark, sf_dir, "documents")
    _t = F.col("_toks")
    eval_sh = (
        docs.where(F.col("doc_id") % CONTAM_EVAL_MOD == 0)
        .select(F.split("text", " ").alias("_toks"))
        .select(
            F.explode(
                token_shingles("text", CONTAM_SHINGLE_N, tokens=_t)
            ).alias("shingle")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = (
        docs.where(F.col("doc_id") % CONTAM_EVAL_MOD != 0)
        .select("doc_id", F.split("text", " ").alias("_toks"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    token_shingles("text", CONTAM_SHINGLE_N, tokens=_t)
                )
            ).alias("shingle"),
        )
    )
    return (
        corpus.join(F.broadcast(eval_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_shingles"), 4).alias("contamination"),
        )
    )


ADAPTIVE_QUALITY_PCT = 0.10


def q_adaptive_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality gate: drop each language's worst decile by
    corpus-unigram LM score — thresholds ADAPT to the corpus instead of
    hardcoding a score cutoff (a fixed threshold tuned on English
    silently guts low-resource languages whose score distribution sits
    elsewhere).  Per-language p10 thresholds are a languages-sized
    aggregate, broadcast back onto the scored corpus."""
    from datayours_spark.functions.text import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    scored = unigram_logprob(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    thr = scored.groupBy("lang").agg(
        F.round(
            F.percentile("avg_logprob", ADAPTIVE_QUALITY_PCT), 6
        ).alias("lang_p10")
    )
    return scored.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "avg_logprob",
        "lang_p10",
        (F.col("avg_logprob") >= F.col("lang_p10")).alias("keep"),
    )


def q_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length distribution per language: exact median/p90 of n_chars
    plus doc and distinct-source counts.

    Exact percentile sorts each group's values (fine for per-language
    cardinalities); at 100 TB swap `F.percentile` for `approx_percentile`
    (t-digest sketch, map-side combinable) — same call shape.  The distinct
    count is Spark's two-phase partial-distinct aggregate; its sketch
    analogue is `approx_count_distinct`."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.round(F.percentile("n_chars", 0.5), 4).alias("p50_chars"),
        F.round(F.percentile("n_chars", 0.9), 4).alias("p90_chars"),
    )


def q_daily_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + event volume: day-bucketed distinct-user count.
    One two-phase aggregate; the 100 TB path replaces the exact distinct
    with approx_count_distinct (HLL) to keep the shuffle row-width flat."""
    events = load_table(spark, sf_dir, "events")
    day = (F.col("ts_sec") - F.col("ts_sec") % 86_400).alias("day_sec")
    return (
        events.groupBy(day)
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


def q_span_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental span maintenance: docs with doc_id % 10 == 0 arrive as
    a new batch against the standing posting index of the rest; emits the
    spans of every affected doc (batch docs + old docs sharing a
    now-repeated shingle) — batch-proportional, equal to the full
    recompute restricted to the affected set (the oracle)."""
    from datayours_spark.functions.dedup import (
        repeated_spans_incremental,
        shingle_postings,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % INCR_BATCH_MOD == 0)
    old = docs.where(F.col("doc_id") % INCR_BATCH_MOD != 0)
    # the standing index is MATERIALIZED here (localCheckpoint), matching
    # the persisted posting table the incremental contract documents —
    # handed lazily, the old-corpus explode re-ran inside each of the
    # function's four consumers of the posting union (the r15-open plan
    # carried 5 full documents scans / 72 operator nodes)
    return repeated_spans_incremental(
        new,
        shingle_postings(spread_scan(old), SPAN_K).localCheckpoint(eager=True),
        k=SPAN_K, min_span=SPAN_MIN_TOKENS, min_docs=2,
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: mean log10 p(token) per doc under the
    corpus's own unigram distribution — the cheapest perplexity proxy for
    pretraining-data quality filters."""
    from datayours_spark.functions.text import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs)


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram LM quality score: mean log10 p(w2|w1) per doc under
    the corpus's own bigram counts — catches shuffled-word salad that the
    unigram proxy (q_unigram_logprob) cannot."""
    from datayours_spark.functions.text import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs)


def q_span_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span REMOVAL: per-doc cleaned text with every qualifying repeated
    span cut out — the step a training pipeline actually applies after
    detection (q_span_dedup) and the mask decision (q_span_mask).  One
    equi-join of the small per-doc span arrays + an indexed filter
    projection; linear in corpus tokens."""
    from datayours_spark.functions.dedup import remove_spans

    docs = load_table(spark, sf_dir, "documents")
    return remove_spans(
        docs, k=SPAN_K, min_span=SPAN_MIN_TOKENS, min_docs=2,
        spans=_span_table(spark, sf_dir),
    )


def q_quantile_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB variant of q_quantile_profile — percentile_approx
    (GK-style sketch, map-side combinable, bounded state) and
    approx_count_distinct (HLL, fixed 2^p registers) in place of the
    exact sort-based percentile and two-phase distinct — composed with
    its own tolerance-band check so the sketch's advertised error bound
    IS the driver-checked output (r14 verdict #5).  Sketch internals
    are engine-specific, so no SQL oracle can hash-match the raw
    estimates; instead the query emits booleans asserting the bound
    each sketch advertises, and the oracle recomputes the exact
    columns plus literal TRUE flags — a sketch drifting out of band
    hash-mismatches loudly.  Bands: the HLL estimate within 3·rsd
    (= 0.15 at the default rsd 0.05, floored at 5 absolute for tiny
    cardinalities where HLL++ runs exact-sparse); each
    percentile_approx value RANK-checked — the set of sorted positions
    the returned value occupies (it is always an actual data value,
    bracketed by its lt/le counts) must intersect the target rank
    q·n ± max(1.5, 0.005·n), i.e. 50× the advertised 1/accuracy =
    1e-4 rank error plus a ±1.5 floor absorbing the q·n vs q·(n−1)+1
    rank-convention gap.  A value-space bracket would be WRONG here:
    exact percentiles interpolate between adjacent data values, so a
    rank-exact sketch answer (an actual datum) can sit outside an
    interpolated ±δ interval — rank space is where the guarantee
    lives.  The rank check joins the tiny per-lang sketch row back
    across the corpus (broadcast) for one extra counting pass; the
    production shape at 100 TB is the approx-only single-pass
    aggregate (MEASURED_LEDGER_2026-10-17.md records that form at
    30M rows: ~55× rows/s over exact)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source", "n_chars"
    )
    ap = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count("n_chars").alias("_n"),
        F.count_distinct("source").alias("n_sources"),
        F.approx_count_distinct("source").alias("_hll"),
        F.percentile_approx(
            "n_chars", F.array(F.lit(0.5), F.lit(0.9)), F.lit(10_000)
        ).alias("_ap"),
    )
    ranks = (
        docs.join(F.broadcast(ap.select("lang", "_ap")), "lang")
        .groupBy("lang")
        .agg(
            *[
                F.sum(
                    (op(F.col("n_chars"), F.col("_ap")[i])).cast("long")
                ).alias(name)
                for i, qlab in ((0, "50"), (1, "90"))
                for op, name in (
                    ((lambda c, v: c < v), f"_lt{qlab}"),
                    ((lambda c, v: c <= v), f"_le{qlab}"),
                )
            ]
        )
    )

    def rank_band(lt: str, le: str, q: float):
        target = F.col("_n") * F.lit(q)
        slack = F.greatest(F.lit(1.5), F.col("_n") * F.lit(0.005))
        return ((F.col(lt) + 1) <= (target + slack)) & (
            F.col(le) >= (target - slack)
        )

    hll_band = F.greatest(F.lit(5.0), F.lit(0.15) * F.col("n_sources"))
    return ap.join(ranks, "lang").select(
        "lang",
        "n_docs",
        "n_sources",
        (F.abs(F.col("_hll") - F.col("n_sources")) <= hll_band).alias(
            "sources_in_band"
        ),
        rank_band("_lt50", "_le50", 0.5).alias("p50_in_band"),
        rank_band("_lt90", "_le90", 0.9).alias("p90_in_band"),
    )


def q_daily_active_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB variant of q_daily_active — approx_count_distinct
    (HLL, fixed 2^p registers per group) keeps the shuffle row-width
    flat where exact distinct widens partial state with the user-id
    universe — composed with its own tolerance-band check so the HLL's
    advertised error bound IS the driver-checked output (r14 verdict
    #5): one groupBy computes the HLL estimate and the exact distinct
    side by side and emits a boolean asserting |hll − exact| ≤
    max(5, 3·rsd·exact) (rsd 0.05 default; absolute floor covers the
    exact-sparse small-cardinality regime).  The oracle recomputes the
    exact columns and a literal TRUE — an out-of-band estimate
    hash-mismatches loudly.  The production shape at 100 TB is the
    approx-only aggregate (MEASURED_LEDGER_2026-10-17.md records it
    at 30M rows / 10M-user cardinality: ~4× over exact)."""
    events = load_table(spark, sf_dir, "events")
    day = (F.col("ts_sec") - F.col("ts_sec") % 86_400).alias("day_sec")
    g = events.groupBy(day).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.approx_count_distinct("user_id").alias("_hll"),
        F.count("*").alias("n_events"),
    )
    band = F.greatest(F.lit(5.0), F.lit(0.15) * F.col("n_users"))
    return g.select(
        "day_sec",
        "n_users",
        "n_events",
        (F.abs(F.col("_hll") - F.col("n_users")) <= band).alias(
            "users_in_band"
        ),
    )


PACK_CAPACITY = 2_048  # tokens per training context window
PACK_SHARDS = 8  # independent packing streams per language
NGRAM_TOP_K = 20

SHARD_N = 8
SHARD_STRATUM_WIDTH = 16


def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment (stratified snake): integer token
    strata, per-stratum round-robin in (n_tokens DESC, doc_id) order,
    each stratum's round-robin continuing where the larger stratum
    stopped — balanced output shards with NO global ordering (the one
    corpus-wide window partitions by stratum)."""
    from datayours_spark.functions.sampling import shard_balance

    docs = load_table(spark, sf_dir, "documents")
    return shard_balance(
        docs, n_shards=SHARD_N, stratum_width=SHARD_STRATUM_WIDTH
    )


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifest: per-shard doc count, token total and size bounds —
    the balance report a training-data writer consults before committing
    an output layout (and the direct evidence that the stratified snake
    balances: totals land within one stratum-width x #strata of each
    other)."""
    from datayours_spark.functions.sampling import shard_balance

    docs = load_table(spark, sf_dir, "documents")
    assigned = shard_balance(
        docs, n_shards=SHARD_N, stratum_width=SHARD_STRATUM_WIDTH
    )
    return assigned.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing manifest: concat-and-chunk docs into fixed
    PACK_CAPACITY-token context windows, the standard LLM pretraining
    packing.  Docs are concatenated per (lang, shard) in doc_id order; each
    doc's byte range maps to chunk ids ``offset div C .. (offset+n-1) div C``.

    Scale shape: the running-sum window partitions by (lang, shard) where
    shard is an md5 bucket of doc_id — packing streams are independent, so
    partitions stay bounded (~1/Nth of a language) and the whole manifest is
    one shuffle; no driver-side loop, re-derivable on any cluster."""
    from datayours_spark.functions.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        "lang",
        hash_bucket(F.col("doc_id"), "pack", PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    packed = staged.select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("offset"),
    )
    return packed.select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        "offset",
        F.expr(f"offset div {PACK_CAPACITY}").alias("first_chunk"),
        F.expr(f"(offset + n_tokens - 1) div {PACK_CAPACITY}").alias("last_chunk"),
    ).select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        "offset",
        "first_chunk",
        (F.col("last_chunk") - F.col("first_chunk") + 1).alias("n_chunks"),
    )


SHUF_OUT_SHARDS = 8
SHUF_SEED = "epoch0"


# bloom bucket-prune geometry for q_index_summary — PINNED so the
# replay needs no data-dependent sizing pass (production sizes via
# winnowstream.summary_m_p; the formula is unit-tested there)
SUMQ_BUCKETS = 16
SUMQ_PLANES = 8
SUMQ_M_P = 2_079   # 33 × 63-bit words per plane


def q_index_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom bucket pruning of a compacted fingerprint index (new r11),
    replayed end-to-end: the 'standing' slice of the documents corpus
    (doc_id % 5 != 0) folds its winnow fingerprints into the per-bucket
    PARTITIONED BLOOM (8 md5-derived planes stored as 63-bit bitmap
    words — engine-native rows, no driver-side bloom object), and the
    'batch' slice (doc_id % 5 == 0) probes it.  Output per hb bucket:
    bitmap word count, total set bits, probe fingerprints, and how many
    of them the bloom says MIGHT be present — family twins
    (doc_id % 10 == 0 probes vs their % 10 == 1 standing siblings)
    guarantee genuine hits, the unique probes measure the false-positive
    tail.  A bucket none of whose probes hit all planes is provably
    h-match-free, which is what lets the streaming dedup maintainers
    skip its compacted dirs (winnowstream module header).

    Scale shape: build = one explode + (hb, word)-keyed bit_or over the
    standing fingerprints (corpus-linear, compaction-amortized in the
    streaming form); probe = the batch positions broadcast into ONE
    summary scan + a probe-keyed combine — never an all-pairs relation;
    the bitmap is rows, so it shuffles/partitions like any table."""
    from datayours_spark.streaming.winnowstream import (
        _with_hb,
        summary_probe,
        summary_words,
    )

    fp = _winnow_fp(spark, sf_dir).select("doc_id", "h")
    standing_h = fp.where("doc_id % 5 != 0").select("h").distinct()
    batch_h = fp.where("doc_id % 5 = 0").select("h").distinct()
    words = summary_words(standing_h, SUMQ_BUCKETS, SUMQ_M_P, SUMQ_PLANES)
    per_bucket = words.groupBy("hb").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(F.expr("bit_count(bits)")).cast("long").alias("set_bits"),
    )
    n_probe = (
        _with_hb(batch_h, SUMQ_BUCKETS)
        .groupBy("hb")
        .agg(F.count("*").cast("long").alias("n_probe"))
    )
    n_might = (
        summary_probe(words, batch_h, SUMQ_BUCKETS, SUMQ_M_P, SUMQ_PLANES)
        .where(F.col("k") == SUMQ_PLANES)
        .groupBy("hb")
        .agg(F.count("*").cast("long").alias("n_might"))
    )
    out = (
        per_bucket.join(n_probe, "hb", "left")
        .join(n_might, "hb", "left")
        .select(
            "hb",
            "n_words",
            "set_bits",
            F.coalesce("n_probe", F.lit(0)).cast("long").alias("n_probe"),
            F.coalesce("n_might", F.lit(0)).cast("long").alias("n_might"),
        )
        .orderBy("hb")
    )
    return out


def q_chunk_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic OFFLINE SHUFFLE of the packed chunk grid (new
    r10): every (lang, shard, chunk) context window gets a
    pseudo-random (out_shard, pos) — the last pass before a sharded
    dataloader consumes the corpus, breaking the source adjacency that
    packing preserves.  Pure function of (keys, seed): re-derivable
    from the seed alone, like the stratified-sampling rates.

    Scale shape: the chunk grid derives from ONE (lang, shard) token
    sum (never an expansion of the manifest), the shuffle key and
    out_shard are row-local md5 arithmetic, and position assignment is
    one hash shuffle on out_shard + a per-shard window — no global
    sort, no empty-partition window."""
    from datayours_spark.functions.sampling import (
        hash_bucket,
        shuffle_chunks,
    )

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "lang",
        hash_bucket(F.col("doc_id"), "pack", PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    totals = staged.groupBy("lang", "shard").agg(
        F.sum("n_tokens").alias("tot")
    )
    grid = totals.select(
        "lang",
        "shard",
        F.explode(
            F.expr(
                f"sequence(CAST(0 AS BIGINT), "
                f"(tot + {PACK_CAPACITY - 1}) div {PACK_CAPACITY} - 1)"
            )
        ).alias("chunk"),
    )
    return shuffle_chunks(
        grid, ["lang", "shard", "chunk"], SHUF_OUT_SHARDS, seed=SHUF_SEED
    )


PIPE_MIN_WORDS = 20
PIPE_GATE_COLS = (
    "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio",
    "ok_alpha_words",
)


def _pipeline_run(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(packed, payload) of ONE ``ingest_pipeline_batch`` run over
    ``documents``, session-cached, so the eager gate → decontaminate →
    near-dup guard prefix runs once for both ``pipeline_compose``
    queries.  The pair is lazy and the cache does not checkpoint it:
    the run's own lazy checkpoints (the manifest among them) fill on
    the first action that reads them, and later readers scan their
    blocks.  The run's other outputs are not kept: the pairs and
    contamination relations would pin the fingerprint table's
    checkpoint blocks for the whole session.

    Eval split: the q_fuzzy_contamination one (every MOD-th doc is the
    held-out eval set).  The fixture corpus is synthetic non-English
    text, which the stopword rule (correctly) rejects wholesale, so the
    gate names the rules that apply to it.  The tokenizer vocabulary is
    MODEL STATE induced once from the training split (a streaming build
    fixes it before ingest)."""
    from datayours_spark.functions.text import vocab_topv
    from datayours_spark.streaming.pipeline import ingest_pipeline_batch

    def build() -> tuple[DataFrame, DataFrame]:
        all_docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "source"
        )
        is_eval = F.col("doc_id") % FUZZY_EVAL_MOD == 0
        docs = all_docs.where(~is_eval)
        *_, packed, payload = ingest_pipeline_batch(
            docs, min_words=PIPE_MIN_WORDS, k=WINNOW_K, w=WINNOW_W,
            threshold=WINNOW_T, shards=PACK_SHARDS, capacity=PACK_CAPACITY,
            gate_cols=PIPE_GATE_COLS,
            eval_docs=all_docs.where(is_eval).select("doc_id", "text"),
            decon_threshold=WINNOW_T,
            vocab=vocab_topv(docs.select("doc_id", "text"), VOCAB_V),
        )
        return packed, payload

    return session_cached(spark, sf_dir, "documents", "pipeline", build)


def q_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-build DAG in one shot: Gopher gate → eval
    decontamination → winnow near-dup drop (keep-lowest-id) →
    sequence-packing manifest — the batch form of
    `streaming.pipeline.IngestPipeline`, whose stream is
    integration-tested equal to this composition.  Returns the packing
    manifest of the gated, decontaminated, deduplicated corpus
    (doc_id, shard, n_tokens, offset, first_chunk, n_chunks), read from
    the session's one pipeline run (`_pipeline_run`, shared with
    q_pipeline_payload): the manifest is that run's lazily checkpointed
    decision table, so after the payload query it is a scan of blocks
    already computed.

    Scale shape: gate is a zero-shuffle projection; decontamination
    broadcasts the (MB-scale) eval fingerprints into the batch posting
    join; the near-dup stage is the winnow posting equi-join (never
    all-pairs); packing is one running-sum window per md5 shard — four
    pipelined stages, no corpus-sized broadcast or collect anywhere."""
    return _pipeline_run(spark, sf_dir)[0]


def q_pipeline_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline's FIFTH stage (new r10): gate →
    decontaminate → dedup → pack → materialize the survivors' token-id
    chunk payload against a fixed vocabulary — the terminal
    training-data artifact (shard, chunk, n_ids, ids).  Batch form of
    `IngestPipeline(vocab=…)`, whose streaming segments are
    integration-tested to merge to exactly this output.  Reads the
    session's one pipeline run (`_pipeline_run`, shared with
    q_ingest_pipeline), so the four stages before it run once for both.

    Scale shape: the four pipeline stages as in q_ingest_pipeline,
    then one broadcast vocab join over the kept docs' token stream and
    one capacity-bounded (shard, chunk) aggregate — ids ride as a
    comma-joined string (canonicalizable artifact, the q_pack_ids
    payload discipline)."""
    return _pipeline_run(spark, sf_dir)[1].select(
        F.col("shard").cast("int").alias("shard"),
        F.col("chunk").cast("long").alias("chunk"),
        "n_ids",
        "ids",
    )


def q_pack_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED training sequences: every PACK_CAPACITY-token
    context window as its ordered token-id array — the final artifact
    of the id-ization → packing pipeline ((lang, shard, chunk, n_ids,
    ids)); `q_pack_sequences` is the manifest, this is the payload.

    Scale shape: the id stream joins the per-doc packing manifest on
    doc_id (both sides hash-partition, no broadcast of anything
    corpus-sized), then ONE (lang, shard, chunk)-keyed aggregate whose
    group state is bounded by the chunk capacity; in-chunk order is
    restored engine-portably by sorting the (global-offset, id) structs
    inside each bounded group.  The payload is emitted as a
    comma-joined string (not array<bigint>) so the result is
    canonicalizable by row-sorting consumers — semantics unchanged."""
    from datayours_spark.functions.sampling import hash_bucket
    from datayours_spark.functions.text import tokenize_ids, vocab_topv

    docs = load_table(spark, sf_dir, "documents")
    ids = tokenize_ids(docs, vocab_topv(docs, VOCAB_V))
    staged = docs.select(
        "doc_id",
        "lang",
        hash_bucket(F.col("doc_id"), "pack", PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    manifest = staged.select(
        "doc_id",
        "lang",
        "shard",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("offset"),
    )
    tok = ids.join(manifest, "doc_id").select(
        "lang",
        "shard",
        F.expr(f"(offset + pos) div {PACK_CAPACITY}").alias("chunk"),
        (F.col("offset") + F.col("pos")).alias("goff"),
        "tid",
    )
    return tok.groupBy("lang", "shard", "chunk").agg(
        F.count("*").cast("long").alias("n_ids"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("goff", "tid"))),
                lambda s: s.getField("tid"),
            ),
            ",",
        ).alias("ids"),
    )


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram frequency: top-K token trigrams per language — the
    contamination/boilerplate screening primitive.  One explode + two-key
    hash aggregate (map-side combinable), then a per-language window top-k
    (rank rewrite keeps per-partition state at O(K))."""
    from datayours_spark.functions.dedup import token_shingles

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "lang", F.split("text", " ").alias("_toks")
    ).select(
        "lang",
        F.explode(token_shingles("text", 3, tokens=F.col("_toks"))).alias(
            "ngram"
        ),
    )
    cnt = grams.groupBy("lang", "ngram").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "ngram")
    return (
        cnt.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= NGRAM_TOP_K)
        .select("lang", "ngram", "n", "rk")
    )


# ---------------------------------------------------------------- registry

#: The driver oracle-checks the first DRIVER_WINDOW dict entries of
#: `queries()` each round (dict-order prefix).
DRIVER_WINDOW = 50

#: SURVEY §2 operator families -> the oracle-backed queries exercising
#: them.  `_window_order()` guarantees each family a slot in every
#: round's driver window; tests/test_entry_contract.py imports this
#: mapping and enforces the staleness bound on the CORRECTNESS history.
FAMILIES: dict[str, list[str]] = {
    "ingest_parse": ["q_ingest_parse", "q_ingest_reject"],
    "fetch_grid": ["q_fetch_grid", "q_resolution_route"],
    "rollup": [
        "q_rollup_avg", "q_rollup_sum", "q_rollup_max", "q_rollup_min",
        "q_rollup_last", "q_rollup_xff", "q_rollup_routed",
        "q_streaming_rollup", "q_carbon_aggregator",
    ],
    "meta_catalog": [
        "q_series_meta", "q_rollup_meta", "q_catalog_find",
        "q_metrics_find", "q_metrics_index", "q_metrics_expand",
        "q_brace_find",
    ],
    "align_join": [
        "q_align_pivot", "q_asof_resample", "q_store_federation",
        "q_multireader", "q_join_enrich", "q_interval_algebra",
    ],
    "null_policy_window": [
        "q_null_policy_zero", "q_null_policy_hold",
        "q_null_policy_connected", "q_staircase", "q_locf_chunked",
        "q_sessionize",
    ],
    "per_record": [
        "q_user_hook", "q_translation", "q_rewrite_rules",
        "q_clamp_filter",
    ],
    "render": [
        "q_render_csv", "q_render_json", "q_render_api",
        "q_render_mixed", "q_maxpoints", "q_time_range",
    ],
    "datamine": [
        "q_datamine_asof", "q_dash_report", "q_dm_timeline",
        "q_treemap_rollup", "q_tally_minmax",
    ],
    "tpch": ["q_tpch_q1", "q_tpch_q2", "q_tpch_q3", "q_tpch_q4",
             "q_tpch_q5", "q_tpch_q6", "q_tpch_q7", "q_tpch_q8",
             "q_tpch_q9", "q_tpch_q10", "q_tpch_q11", "q_tpch_q12",
             "q_tpch_q13", "q_tpch_q14", "q_tpch_q15", "q_tpch_q16",
             "q_tpch_q17", "q_tpch_q18", "q_tpch_q19", "q_tpch_q20",
             "q_tpch_q21", "q_tpch_q22"],
    "dedup_exact_lsh": [
        "q_dedup_exact", "q_dedup_tokenset", "q_dedup_minhash",
        "q_dedup_simhash", "q_dup_clusters", "q_dedup_incremental",
        "q_minhash_guarded", "q_simhash_guarded", "q_simhash_neardup",
        "q_ngram_jaccard", "q_dedup_report", "q_neardup_verified",
        "q_winnow_fingerprints", "q_winnow_neardup", "q_source_overlap",
        "q_winnow_matches", "q_winnow_incremental", "q_winnow_spans",
        "q_winnow_dedup", "q_novelty", "q_index_summary",
    ],
    "span_dedup": [
        "q_span_mask", "q_span_removed", "q_span_incremental",
        "q_span_dedup",
    ],
    "embedding_similarity": [
        "q_dedup_embed", "q_dedup_embed_incremental", "q_semdedup",
        "q_cluster_topics", "q_ann_cosine", "q_ann_lsh",
        "q_embed_centroid", "q_multimodal_neardup", "q_hybrid_rrf",
        "q_knn_label", "q_knn_label_routed", "q_embed_project",
        "q_rp_recall", "q_prototype_prune",
    ],
    "ann_index": [
        "q_ann_ivf", "q_ann_ivf_probe2", "q_ann_ivfpq",
        "q_ann_ivfpq_probe2", "q_ann_ivfpq_res", "q_ann_ivfpq_rerank",
        "q_ann_recall", "q_ann_sq", "q_ann_ivfsq",
    ],
    "contamination": ["q_contamination", "q_fuzzy_contamination",
                      "q_leakage_split"],
    "sampling_shards": [
        "q_sample_stratified", "q_sample_temperature",
        "q_sample_uniform_k", "q_token_budget", "q_quota_topk",
        "q_shard_balance", "q_shard_manifest", "q_pack_sequences",
        "q_pack_ids", "q_mix_weights", "q_chunk_shuffle",
    ],
    "text_analysis": [
        "q_text_stats", "q_lang_quality", "q_text_profile",
        "q_tfidf_terms", "q_top_ngrams", "q_repetition_filter",
        "q_token_histogram", "q_unigram_logprob", "q_bigram_logprob",
        "q_corpus_clean", "q_adaptive_quality", "q_quantile_profile",
        "q_daily_active", "q_sliding_rate", "q_oov_rate", "q_chunk_docs",
        "q_dup_ngrams", "q_gopher_rules", "q_bm25", "q_bm25_chunks",
        "q_ppl_buckets", "q_source_quality", "q_tokenize_ids",
        "q_drop_reasons", "q_lang_confusion", "q_bpe_merges",
        "q_bpe_segment", "q_bpe_ids", "q_quality_classifier",
    ],
    "pii_url": ["q_pii_scrub", "q_url_stats"],
    "pipeline_compose": ["q_ingest_pipeline", "q_pipeline_payload"],
    "multimodal": ["q_multimodal_features", "q_frame_sample",
                   "q_resize_plan", "q_audio_segments"],
}


#: Registry entries with no ANSI-SQL oracle (checked rows-only by the
#: driver) — they must never occupy a driver-window slot.  EMPTY since
#: r15: the two approx-sketch entries became driver-checkable by
#: emitting their tolerance-band verdicts as boolean columns the oracle
#: asserts TRUE (r14 verdict #5), so every registry entry now carries a
#: full value-hash oracle.
NO_ORACLE_QUERIES: tuple[str, ...] = ()


def _green_history() -> tuple[dict[str, int], int]:
    """name -> newest round with a hash-green driver CORRECTNESS row, plus
    the newest round number seen — read from the repo-root
    ``CORRECTNESS_r*.json`` files the driver drops at each round close."""
    import glob as _glob
    import json as _json

    repo = os.path.dirname(os.path.abspath(__file__))
    greens: dict[str, int] = {}
    latest = 0
    for path in sorted(_glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path).rsplit("_r", 1)[1].split(".")[0])
            with open(path) as fh:
                rows = _json.load(fh)
        except (OSError, ValueError):
            continue
        latest = max(latest, rnd)
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match"):
                greens[name] = max(greens.get(name, 0), rnd)
    return greens, latest


def _window_order(names: list[str]) -> list[str]:
    """Deterministic, family-aware driver-window rotation.

    The driver oracle-checks only the FIRST ``DRIVER_WINDOW`` dict
    entries of :func:`queries` each round, so dict order decides which
    queries can earn a fresh driver-green CORRECTNESS row.  Through
    round 12 the window was rotated BY HAND (oldest-green-first,
    alphabetical within vintage), and the r12 rotation silently left the
    whole ``per_record`` family past the staleness bound — the only red
    pytest gate that round.  This function makes family coverage an
    explicit constraint instead of an alphabetical accident:

    1. every SURVEY §2 family contributes its oldest-green oracled
       member to the window (never-green sorts first), so each family
       re-earns a green row EVERY round;
    2. the remaining slots fill with the globally oldest-green
       candidates;
    3. the tail past the window is vintage-sorted too, with the
       ``NO_ORACLE_QUERIES`` pinned last so no window slot is ever
       structurally un-greenable.

    Pure function of the committed CORRECTNESS files: when the driver
    drops a new round file, the next :func:`queries` call rotates the
    window automatically — no hand-edit, no stale-family recurrence.
    """
    greens, _ = _green_history()
    oracled = [n for n in names if n not in NO_ORACLE_QUERIES]

    def vintage(n: str) -> tuple[int, str]:
        return (greens.get(n, 0), n)

    window: list[str] = []
    chosen: set[str] = set()
    for fam in sorted(FAMILIES):
        members = [n for n in FAMILIES[fam] if n in oracled and n not in chosen]
        if members:
            pick = min(members, key=vintage)
            window.append(pick)
            chosen.add(pick)
    for n in sorted(oracled, key=vintage):
        if len(window) >= DRIVER_WINDOW:
            break
        if n not in chosen:
            window.append(n)
            chosen.add(n)
    window.sort(key=vintage)
    tail = sorted((n for n in oracled if n not in chosen), key=vintage)
    tail += [n for n in names if n in NO_ORACLE_QUERIES]
    return window + tail


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    registry: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "q_adaptive_quality": q_adaptive_quality,
        "q_align_pivot": q_align_pivot,
        "q_ann_cosine": q_ann_cosine,
        "q_ann_ivf": q_ann_ivf,
        "q_ann_ivf_probe2": q_ann_ivf_probe2,
        "q_ann_ivfpq": q_ann_ivfpq,
        "q_ann_ivfpq_probe2": q_ann_ivfpq_probe2,
        "q_ann_ivfpq_rerank": q_ann_ivfpq_rerank,
        "q_ann_ivfpq_res": q_ann_ivfpq_res,
        "q_ann_ivfsq": q_ann_ivfsq,
        "q_ann_lsh": q_ann_lsh,
        "q_ann_recall": q_ann_recall,
        "q_ann_sq": q_ann_sq,
        "q_asof_resample": q_asof_resample,
        "q_audio_segments": q_audio_segments,
        "q_bigram_logprob": q_bigram_logprob,
        "q_bm25": q_bm25,
        "q_bm25_chunks": q_bm25_chunks,
        "q_bpe_ids": q_bpe_ids,
        "q_bpe_merges": q_bpe_merges,
        "q_bpe_segment": q_bpe_segment,
        "q_brace_find": q_brace_find,
        "q_carbon_aggregator": q_carbon_aggregator,
        "q_catalog_find": q_catalog_find,
        "q_chunk_docs": q_chunk_docs,
        "q_chunk_shuffle": q_chunk_shuffle,
        "q_clamp_filter": q_clamp_filter,
        "q_cluster_topics": q_cluster_topics,
        "q_contamination": q_contamination,
        "q_corpus_clean": q_corpus_clean,
        "q_daily_active": q_daily_active,
        "q_dash_report": q_dash_report,
        "q_datamine_asof": q_datamine_asof,
        "q_dedup_embed": q_dedup_embed,
        "q_dedup_embed_banded": q_dedup_embed_banded,
        "q_dedup_embed_incremental": q_dedup_embed_incremental,
        "q_dedup_exact": q_dedup_exact,
        "q_dedup_incremental": q_dedup_incremental,
        "q_dedup_minhash": q_dedup_minhash,
        "q_dedup_report": q_dedup_report,
        "q_dedup_simhash": q_dedup_simhash,
        "q_dedup_tokenset": q_dedup_tokenset,
        "q_dm_timeline": q_dm_timeline,
        "q_drop_reasons": q_drop_reasons,
        "q_dup_clusters": q_dup_clusters,
        "q_dup_ngrams": q_dup_ngrams,
        "q_embed_centroid": q_embed_centroid,
        "q_embed_project": q_embed_project,
        "q_fetch_grid": q_fetch_grid,
        "q_frame_sample": q_frame_sample,
        "q_fuzzy_contamination": q_fuzzy_contamination,
        "q_gopher_rules": q_gopher_rules,
        "q_hybrid_rrf": q_hybrid_rrf,
        "q_index_summary": q_index_summary,
        "q_ingest_parse": q_ingest_parse,
        "q_ingest_pipeline": q_ingest_pipeline,
        "q_ingest_reject": q_ingest_reject,
        "q_interval_algebra": q_interval_algebra,
        "q_join_enrich": q_join_enrich,
        "q_knn_label": q_knn_label,
        "q_knn_label_routed": q_knn_label_routed,
        "q_lang_confusion": q_lang_confusion,
        "q_lang_quality": q_lang_quality,
        "q_leakage_split": q_leakage_split,
        "q_locf_chunked": q_locf_chunked,
        "q_maxpoints": q_maxpoints,
        "q_metrics_expand": q_metrics_expand,
        "q_metrics_find": q_metrics_find,
        "q_metrics_index": q_metrics_index,
        "q_minhash_guarded": q_minhash_guarded,
        "q_mix_weights": q_mix_weights,
        "q_multimodal_features": q_multimodal_features,
        "q_multimodal_neardup": q_multimodal_neardup,
        "q_multireader": q_multireader,
        "q_neardup_verified": q_neardup_verified,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_novelty": q_novelty,
        "q_null_policy_connected": q_null_policy_connected,
        "q_null_policy_hold": q_null_policy_hold,
        "q_null_policy_zero": q_null_policy_zero,
        "q_oov_rate": q_oov_rate,
        "q_pack_ids": q_pack_ids,
        "q_pack_sequences": q_pack_sequences,
        "q_pii_scrub": q_pii_scrub,
        "q_pipeline_payload": q_pipeline_payload,
        "q_ppl_buckets": q_ppl_buckets,
        "q_prototype_prune": q_prototype_prune,
        "q_quality_classifier": q_quality_classifier,
        "q_quantile_profile": q_quantile_profile,
        "q_quota_topk": q_quota_topk,
        "q_render_api": q_render_api,
        "q_render_csv": q_render_csv,
        "q_render_json": q_render_json,
        "q_render_mixed": q_render_mixed,
        "q_repetition_filter": q_repetition_filter,
        "q_resize_plan": q_resize_plan,
        "q_resolution_route": q_resolution_route,
        "q_rewrite_rules": q_rewrite_rules,
        "q_rollup_avg": _q_rollup("average"),
        "q_rollup_last": _q_rollup("last"),
        "q_rollup_max": _q_rollup("max"),
        "q_rollup_meta": q_rollup_meta,
        "q_rollup_min": _q_rollup("min"),
        "q_rollup_routed": q_rollup_routed,
        "q_rollup_sum": _q_rollup("sum"),
        "q_rollup_xff": q_rollup_xff,
        "q_rp_recall": q_rp_recall,
        "q_sample_stratified": q_sample_stratified,
        "q_sample_temperature": q_sample_temperature,
        "q_sample_uniform_k": q_sample_uniform_k,
        "q_semdedup": q_semdedup,
        "q_semdedup_incremental": q_semdedup_incremental,
        "q_series_meta": q_series_meta,
        "q_sessionize": q_sessionize,
        "q_shard_balance": q_shard_balance,
        "q_shard_manifest": q_shard_manifest,
        "q_simhash_guarded": q_simhash_guarded,
        "q_simhash_neardup": q_simhash_neardup,
        "q_sliding_rate": q_sliding_rate,
        "q_source_overlap": q_source_overlap,
        "q_source_quality": q_source_quality,
        "q_span_dedup": q_span_dedup,
        "q_span_incremental": q_span_incremental,
        "q_span_mask": q_span_mask,
        "q_span_removed": q_span_removed,
        "q_staircase": q_staircase,
        "q_store_federation": q_store_federation,
        "q_streaming_rollup": q_streaming_rollup,
        "q_tally_minmax": q_tally_minmax,
        "q_text_profile": q_text_profile,
        "q_text_stats": q_text_stats,
        "q_tfidf_terms": q_tfidf_terms,
        "q_time_range": q_time_range,
        "q_token_budget": q_token_budget,
        "q_token_histogram": q_token_histogram,
        "q_tokenize_ids": q_tokenize_ids,
        "q_top_ngrams": q_top_ngrams,
        "q_tpch_q1": q_tpch_q1,
        "q_tpch_q10": q_tpch_q10,
        "q_tpch_q11": q_tpch_q11,
        "q_tpch_q12": q_tpch_q12,
        "q_tpch_q13": q_tpch_q13,
        "q_tpch_q14": q_tpch_q14,
        "q_tpch_q15": q_tpch_q15,
        "q_tpch_q16": q_tpch_q16,
        "q_tpch_q17": q_tpch_q17,
        "q_tpch_q18": q_tpch_q18,
        "q_tpch_q19": q_tpch_q19,
        "q_tpch_q2": q_tpch_q2,
        "q_tpch_q20": q_tpch_q20,
        "q_tpch_q21": q_tpch_q21,
        "q_tpch_q22": q_tpch_q22,
        "q_tpch_q3": q_tpch_q3,
        "q_tpch_q4": q_tpch_q4,
        "q_tpch_q5": q_tpch_q5,
        "q_tpch_q6": q_tpch_q6,
        "q_tpch_q7": q_tpch_q7,
        "q_tpch_q8": q_tpch_q8,
        "q_tpch_q9": q_tpch_q9,
        "q_translation": q_translation,
        "q_treemap_rollup": q_treemap_rollup,
        "q_unigram_logprob": q_unigram_logprob,
        "q_url_stats": q_url_stats,
        "q_user_hook": q_user_hook,
        "q_winnow_dedup": q_winnow_dedup,
        "q_winnow_fingerprints": q_winnow_fingerprints,
        "q_winnow_incremental": q_winnow_incremental,
        "q_winnow_matches": q_winnow_matches,
        "q_winnow_neardup": q_winnow_neardup,
        "q_winnow_spans": q_winnow_spans,
        "q_daily_active_approx": q_daily_active_approx,
        "q_quantile_profile_approx": q_quantile_profile_approx,
    }
    return {name: registry[name] for name in _window_order(list(registry))}


# ---------------------------------------------------------------- oracles

def oracle_sql() -> dict[str, str]:
    fetch_lo = FETCH_FROM - FETCH_FROM % 3_600
    fetch_hi = FETCH_UNTIL - FETCH_UNTIL % 3_600
    fetch_grid_sql = f"""
        WITH s AS (
          SELECT ts_sec - ts_sec % 3600 AS slot, arg_max(value, ts_us) AS value
          FROM ({DP_USER}) dp
          WHERE path = '{FETCH_SERIES}'
            AND ts_sec BETWEEN {fetch_lo} AND {fetch_hi + 3599}
          GROUP BY 1)
        SELECT g.slot AS slot, s.value AS value
        FROM (SELECT unnest(generate_series({fetch_lo}, {fetch_hi}, 3600)) AS slot) g
        LEFT JOIN s USING (slot)
    """

    def rollup_sql(method_expr: str, rounded: bool) -> str:
        v = f"round({method_expr}, 4)" if rounded else method_expr
        return f"""
            WITH fine AS ({_slots_sql(DP_USER, 60)})
            SELECT path, slot - slot % 3600 AS slot, {v} AS value, count(value) AS known
            FROM fine GROUP BY path, slot - slot % 3600
        """

    pivot_cols = ",\n ".join(
        f"max(CASE WHEN path = 'events.{t}' THEN value END) AS \"{t}\""
        for t in EVENT_TYPES
    )

    channel_values = ", ".join(
        f"('{p}', {off}, {en}, {lo}, {hi})" for p, off, en, lo, hi in CHANNEL_CONFIG
    )

    p1, _, d1 = REWRITE_RULES[0]
    p2, _, d2 = REWRITE_RULES[1]

    translation_case = " ".join(
        f"WHEN event_type = '{k}' THEN {v}" for k, v in TRANSLATION.items()
    )

    from datayours_spark.kernel.globs import glob_path_to_regex

    find_regexes = glob_path_to_regex("events.{click,view}.u*")
    find_cond = " OR ".join(f"regexp_matches(path, '{r}')" for r in find_regexes)

    mfind_regexes = glob_path_to_regex("events.*")
    mfind_cond = " OR ".join(f"regexp_matches(prefix, '{r}')" for r in mfind_regexes)

    now = MONTH_END
    route_cases_sql = []
    route_steps = {1: 60, 2: 600, 3: 3_600}
    route_level = {60: "fine", 600: "mid", 3_600: "coarse"}
    for case_id, offset in ROUTE_CASES:
        step = route_steps[case_id]
        frm = now - offset
        lo, hi = frm - frm % step, now - now % step
        n_grid = (hi - lo) // step + 1
        route_cases_sql.append(
            f"""(SELECT {case_id} AS case_id, {step} AS step, CAST({n_grid} AS BIGINT) AS n_grid,
                 count(f.value) AS n_known, round(avg(f.value), 4) AS avg_v
                 FROM (SELECT unnest(generate_series({lo}, {hi}, {step})) AS slot) g
                 LEFT JOIN {route_level[step]} f USING (slot))"""
        )
    route_sql = f"""
        WITH fine AS (
          SELECT slot, value FROM ({_slots_sql(DP_TYPE, 60)}) s
          WHERE path = '{ROUTE_PATH}'),
        mid AS (
          SELECT slot - slot % 600 AS slot, avg(value) AS value
          FROM fine GROUP BY 1),
        coarse AS (
          SELECT slot - slot % 3600 AS slot, avg(value) AS value
          FROM mid GROUP BY 1)
        {" UNION ALL ".join(route_cases_sql)}
    """

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)

    dm_channel_case = " ".join(
        f"WHEN '{t}' THEN {i}" for t, i in DM_CHANNELS.items()
    )

    render_api_regexes = glob_path_to_regex(RENDER_API_TARGET)
    render_api_cond = " OR ".join(
        f"regexp_matches(path, '{r}')" for r in render_api_regexes
    )
    ra_lo = FETCH_FROM - FETCH_FROM % RENDER_API_STEP
    ra_hi = (T0 + 3 * DAY) - (T0 + 3 * DAY) % RENDER_API_STEP

    brace_regexes = glob_path_to_regex(BRACE_FIND_PATTERN)
    brace_cond = " OR ".join(f"regexp_matches(prefix, '{r}')" for r in brace_regexes)

    # DuckDB render-value text: 2dp round, cast, Lua-%.14g-style '.0' trim —
    # the mirror of _render_value_text
    vtext = "regexp_replace(CAST(round(value, 2) AS VARCHAR), '\\.0$', '')"

    sample_rate_case = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items())
    )
    n_slides = SLIDE_WINDOW // SLIDE_STEP - 1

    # q_pii_scrub: assembled with %-formatting (the regex literals contain
    # braces, which f-strings would mangle); patterns are RE2-compatible so
    # Spark's Java engine and DuckDB agree
    from datayours_spark.functions.text import PII_PATTERNS as _pii

    pii_inject = (
        "SELECT doc_id, text"
        " || CASE WHEN doc_id %% 7 = 0 THEN ' mail me at user'"
        " || doc_id::VARCHAR || '@example.com ok' ELSE '' END"
        " || CASE WHEN doc_id %% 11 = 0 THEN ' call 555-867-5309 now'"
        " ELSE '' END"
        " || CASE WHEN doc_id %% 13 = 0 THEN ' host 10.0.'"
        " || (doc_id %% 256)::VARCHAR || '.7 up' ELSE '' END"
        " AS text FROM documents"
    ) % ()
    # sequential overlap semantics (ADVICE r5): each kind counts on the
    # text AFTER the prior kinds' redaction — mirrors pii_scrub exactly
    pii_counts_l = []
    pii_clean = "text"
    for k, p in _pii.items():
        pii_counts_l.append(
            "CAST(len(regexp_extract_all(%s, '%s')) AS BIGINT) AS n_%s"
            % (pii_clean, p, k)
        )
        pii_clean = "regexp_replace(%s, '%s', '<PII>', 'g')" % (pii_clean, p)
    pii_counts = ", ".join(pii_counts_l)
    pii_sql = "WITH inj AS (%s)\nSELECT doc_id, %s, %s AS clean_text FROM inj" % (
        pii_inject, pii_counts, pii_clean,
    )

    from datayours_spark.functions.text import URL_PATTERN as _url_re

    url_sql = (
        "WITH inj AS (SELECT doc_id, text"
        " || CASE WHEN doc_id %% 5 = 0 THEN ' see https://example.com/page'"
        " || doc_id::VARCHAR || ' ok' ELSE '' END"
        " || CASE WHEN doc_id %% 15 = 0 THEN ' and http://blocked.bad/x'"
        " ELSE '' END AS text FROM documents),\n"
        "u AS (SELECT doc_id, unnest(regexp_extract_all(text, '%s')) AS url"
        " FROM inj),\n"
        "d AS (SELECT doc_id, regexp_extract(url, '^https?://([^/]+)', 1)"
        " AS domain FROM u)\n"
        "SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs"
        " FROM d GROUP BY domain"
    ) % (_url_re,)

    return {
        "q_pii_scrub": pii_sql,
        "q_url_stats": url_sql,
        "q_oov_rate": f"""
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            v AS (
              SELECT tok FROM (
                SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rk
                FROM tok GROUP BY tok)
              WHERE rk <= {VOCAB_V}),
            j AS (
              SELECT t.doc_id, v.tok IS NOT NULL AS known
              FROM tok t LEFT JOIN v ON t.tok = v.tok)
            SELECT doc_id, count(*)::BIGINT AS n_tokens,
                   sum(CASE WHEN known THEN 0 ELSE 1 END)::BIGINT AS n_oov,
                   round(sum(CASE WHEN known THEN 0 ELSE 1 END) * 1.0
                         / count(*), 4) AS oov_ratio
            FROM j GROUP BY doc_id
        """,
        "q_tokenize_ids": f"""
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            v AS (
              SELECT tok, rk FROM (
                SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rk
                FROM tok GROUP BY tok)
              WHERE rk <= {VOCAB_V}),
            p AS (
              SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos,
                     unnest(t) AS tok
              FROM (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents))
            SELECT p.doc_id, CAST(p.pos AS BIGINT) AS pos,
                   CAST(coalesce(v.rk, 0) AS BIGINT) AS tid
            FROM p LEFT JOIN v ON p.tok = v.tok
        """,
        "q_chunk_docs": f"""
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS t,
                     len(string_split(text, ' ')) AS n
              FROM documents),
            s AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, n, {CHUNK_STRIDE})) AS s1
              FROM t)
            SELECT doc_id,
                   ((s1 - 1) // {CHUNK_STRIDE})::BIGINT AS chunk_no,
                   (s1 - 1)::BIGINT AS chunk_start,
                   len(t[s1 : s1 + {CHUNK_WINDOW - 1}])::BIGINT AS n_chunk_tokens,
                   array_to_string(t[s1 : s1 + {CHUNK_WINDOW - 1}], ' ') AS chunk_text
            FROM s
        """,
        "q_dup_ngrams": f"""
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS t,
                     len(string_split(text, ' ')) AS n
              FROM documents),
            bg AS (
              SELECT doc_id, n,
                     unnest([array_to_string(t[i : i + {DUP_NGRAM_N - 1}], ' ')
                             FOR i IN generate_series(1, n - {DUP_NGRAM_N - 1})]) AS ng
              FROM t WHERE n >= {DUP_NGRAM_N}),
            c AS (
              SELECT doc_id, n, ng, count(*) AS cnt
              FROM bg GROUP BY 1, 2, 3)
            SELECT doc_id,
                   (max(n) - {DUP_NGRAM_N - 1})::BIGINT AS n_ngrams,
                   sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END)::BIGINT AS dup_ngrams,
                   round(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) * 1.0
                         / (max(n) - {DUP_NGRAM_N - 1}), 4) AS dup_fraction
            FROM c GROUP BY doc_id
        """,
        "q_ingest_parse": f"""
            WITH dp AS ({DP_USER}),
            lines AS (
              SELECT path || ' ' || CAST(value AS VARCHAR) || ' ' || CAST(ts_sec AS VARCHAR) AS line
              FROM dp),
            parsed AS (
              SELECT regexp_extract(line, '^\\s*(\\S+)\\s+(\\S+)(?:\\s+(\\S+))?\\s*$', 1) AS path,
                     CAST(regexp_extract(line, '^\\s*(\\S+)\\s+(\\S+)(?:\\s+(\\S+))?\\s*$', 2) AS DOUBLE) AS value
              FROM lines)
            SELECT path, count(*) AS n, round(sum(value), 2) AS sum_value
            FROM parsed WHERE value IS NOT NULL AND path <> '' GROUP BY path
        """,
        "q_fetch_grid": fetch_grid_sql,
        "q_rollup_avg": rollup_sql("avg(value)", True),
        "q_rollup_sum": rollup_sql("sum(value)", True),
        "q_rollup_max": rollup_sql("max(value)", False),
        "q_rollup_min": rollup_sql("min(value)", False),
        "q_rollup_last": rollup_sql("arg_max(value, slot)", False),
        "q_rollup_xff": f"""
            WITH fine AS ({_slots_sql(DP_TYPE, 60)})
            SELECT path, slot - slot % 600 AS slot, round(avg(value), 4) AS value,
                   count(value) AS known
            FROM fine GROUP BY path, slot - slot % 600
            HAVING count(value) / 10.0 >= 0.2
        """,
        "q_align_pivot": f"""
            WITH s AS ({_slots_sql(DP_TYPE, 21600)})
            SELECT slot, {pivot_cols}
            FROM s GROUP BY slot
        """,
        "q_asof_resample": f"""
            WITH samples AS (
              SELECT path, ts_sec, arg_max(value, ts_us) AS value
              FROM ({DP_TYPE}) dp GROUP BY 1, 2),
            grid AS (
              SELECT p.path, g.slot
              FROM (SELECT DISTINCT path FROM samples) p
              CROSS JOIN (SELECT unnest(generate_series({T0}, {MONTH_END}, 21600)) AS slot) g)
            SELECT grid.path AS path, grid.slot AS slot, s.value AS value
            FROM grid ASOF LEFT JOIN samples s
              ON grid.path = s.path AND grid.slot >= s.ts_sec
        """,
        "q_null_policy_zero": f"""
            SELECT slot, coalesce(value, 0) AS value FROM ({fetch_grid_sql})
        """,
        "q_null_policy_hold": f"""
            SELECT slot, last_value(value IGNORE NULLS) OVER (
              ORDER BY slot ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
            FROM ({fetch_grid_sql})
        """,
        "q_null_policy_connected": f"""
            WITH g AS ({fetch_grid_sql}),
            ends AS (
              SELECT slot, value,
                last_value(value IGNORE NULLS) OVER (
                  ORDER BY slot ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS pv,
                last_value(CASE WHEN value IS NOT NULL THEN slot END IGNORE NULLS)
                  OVER (ORDER BY slot
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
                first_value(value IGNORE NULLS) OVER (
                  ORDER BY slot ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                ) AS nv,
                first_value(CASE WHEN value IS NOT NULL THEN slot END IGNORE NULLS)
                  OVER (ORDER BY slot
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
              FROM g)
            SELECT slot,
                   round(CASE WHEN value IS NOT NULL THEN value
                              ELSE pv + (nv - pv) * (slot - pt) / (nt - pt)
                         END, 6) AS value
            FROM ends
        """,
        "q_tally_minmax": f"""
            SELECT path, count(*) AS n, min(ts_sec) AS min_ts, max(ts_sec) AS max_ts
            FROM ({DP_USER}) dp GROUP BY path
        """,
        "q_treemap_rollup": f"""
            SELECT string_split(path, '.')[2] AS l2, string_split(path, '.')[3] AS l3,
                   count(*) AS n
            FROM ({DP_USER}) dp GROUP BY ROLLUP (l2, l3)
        """,
        "q_catalog_find": f"""
            SELECT DISTINCT path FROM ({DP_USER}) dp WHERE {find_cond} ORDER BY path
        """,
        "q_maxpoints": f"""
            SELECT path, ts_sec, value, rn FROM (
              SELECT path, ts_sec, value,
                     row_number() OVER (PARTITION BY path ORDER BY ts_us) AS rn
              FROM ({DP_USER}) dp WHERE ts_sec >= {T0 + 4 * DAY})
            WHERE rn <= 20
        """,
        "q_clamp_filter": f"""
            WITH cfg(path, "offset", enable, lo, hi) AS (VALUES {channel_values}),
            clamped AS (
              SELECT dp.path,
                     CASE WHEN enable = 1
                          THEN least(greatest(value + "offset", lo), hi)
                          ELSE value + "offset" END AS v
              FROM ({DP_TYPE}) dp JOIN cfg ON dp.path = cfg.path)
            SELECT path, count(*) AS n, round(sum(v), 2) AS sum_v, round(avg(v), 4) AS avg_v
            FROM clamped GROUP BY path
        """,
        "q_rewrite_rules": f"""
            WITH renamed AS (
              SELECT CASE
                WHEN regexp_matches(path, '{p1}') THEN regexp_replace(path, '{p1}', '{d1}')
                WHEN regexp_matches(path, '{p2}') THEN regexp_replace(path, '{p2}', '{d2}')
                ELSE path END AS path
              FROM ({DP_USER}) dp)
            SELECT path, count(*) AS n FROM renamed GROUP BY path
        """,
        "q_translation": f"""
            SELECT 'events.' || event_type AS path, count(*) AS n,
                   round(sum(code), 2) AS sum_code
            FROM (SELECT event_type, CASE {translation_case} END AS code FROM events)
            WHERE code IS NOT NULL GROUP BY 1
        """,
        "q_interval_algebra": f"""
            WITH iv AS (
              SELECT path, min(ts_sec) AS s, max(ts_sec) AS e
              FROM ({DP_USER}) dp GROUP BY path)
            SELECT path, greatest(s, {T0 + 9 * DAY}) AS ostart,
                   least(e, {T0 + 19 * DAY}) AS oend,
                   least(e, {T0 + 19 * DAY}) - greatest(s, {T0 + 9 * DAY}) AS olen
            FROM iv WHERE greatest(s, {T0 + 9 * DAY}) <= least(e, {T0 + 19 * DAY})
        """,
        "q_tpch_q1": f"""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE epoch_us(l_shipdate) // 1000000 <= {TPCH_Q1_CUTOFF}
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q_tpch_q3": f"""
            SELECT l_orderkey, epoch_us(o_orderdate) // 1000000 AS o_orderdate_sec,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING'
              AND c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND epoch_us(o_orderdate) // 1000000 < {TPCH_Q3_DATE}
              AND epoch_us(l_shipdate) // 1000000 > {TPCH_Q3_DATE}
            GROUP BY l_orderkey, o_orderdate_sec
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "q_join_enrich": """
            SELECT r_name, count(*) AS n_customers, round(avg(c_acctbal), 4) AS avg_acctbal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name
        """,
        "q_tpch_q5": f"""
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = '{TPCH_Q5_REGION}'
              AND epoch_us(o_orderdate) // 1000000 >= {TPCH_Q5_START}
              AND epoch_us(o_orderdate) // 1000000 < {TPCH_Q5_END}
            GROUP BY n_name
        """,
        "q_lang_confusion": f"""
            WITH base AS (
              SELECT lang, string_split(text, ' ') AS t FROM documents)
            SELECT lang, {_pred_lang_expr_sql()} AS pred_lang,
                   count(*)::BIGINT AS n_docs
            FROM base GROUP BY 1, 2
        """,
        "q_novelty": f"""
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(
                       [array_to_string(t[i:i+{NOVELTY_N - 1}], ' ')
                        FOR i IN generate_series(1, len(t) - {NOVELTY_N - 1})]))
                       AS shingle
              FROM toks WHERE len(t) >= {NOVELTY_N}),
            first AS (
              SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
            SELECT sh.doc_id, count(*)::BIGINT AS n_shingles,
                   sum(CASE WHEN first.first_doc = sh.doc_id
                            THEN 1 ELSE 0 END)::BIGINT AS n_novel,
                   round(sum(CASE WHEN first.first_doc = sh.doc_id
                                  THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
                     AS novelty
            FROM sh JOIN first USING (shingle)
            GROUP BY sh.doc_id
        """,
        "q_drop_reasons": """
            WITH m AS (
              SELECT doc_id, text, string_split(text, ' ') AS t,
                     string_split(text, chr(10)) AS lines
              FROM documents),
            gm AS (
              SELECT doc_id,
                CASE WHEN text IS NOT NULL AND length(text) > 0
                     THEN len(t) ELSE 0 END AS n_words,
                list_sum(list_transform(t, x -> length(x))) AS total_chars,
                length(text) - length(replace(text, '#', '')) AS n_hash,
                (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
                len(lines) AS n_lines,
                len(list_filter(lines,
                    l -> regexp_matches(l, '^\\s*[-*]'))) AS n_bullet,
                len(list_filter(lines,
                    l -> regexp_matches(l, '\\.\\.\\.\\s*$'))) AS n_ellend,
                len(list_filter(t,
                    x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
                (coalesce(list_contains(t, 'the'), false)::INT
                 + coalesce(list_contains(t, 'be'), false)::INT
                 + coalesce(list_contains(t, 'to'), false)::INT
                 + coalesce(list_contains(t, 'of'), false)::INT
                 + coalesce(list_contains(t, 'and'), false)::INT
                 + coalesce(list_contains(t, 'that'), false)::INT
                 + coalesce(list_contains(t, 'have'), false)::INT
                 + coalesce(list_contains(t, 'with'), false)::INT)
                  AS stop_hits
              FROM m),
            gp AS (
              SELECT doc_id,
                ((n_words >= 50 AND n_words <= 100000)
                 AND coalesce(total_chars * 1.0 / nullif(n_words, 0) >= 3
                      AND total_chars * 1.0 / nullif(n_words, 0) <= 10, false)
                 AND coalesce(n_hash * 1.0 / nullif(n_words, 0) <= 0.1
                      AND n_ell * 1.0 / nullif(n_words, 0) <= 0.1, false)
                 AND coalesce(n_bullet * 1.0 / nullif(n_lines, 0) <= 0.9,
                      false)
                 AND coalesce(n_ellend * 1.0 / nullif(n_lines, 0) <= 0.3,
                      false)
                 AND coalesce(n_alpha * 1.0 / nullif(n_words, 0) >= 0.8,
                      false)
                 AND stop_hits >= 2) AS pass_all
              FROM gm),
            toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            total AS (SELECT count(*) AS n FROM toks),
            lp AS (
              SELECT tok, log10(count(*) * 1.0 / (SELECT n FROM total)) AS logp
              FROM toks GROUP BY tok),
            scored AS (
              SELECT t.doc_id, round(avg(lp.logp), 6) AS avg_logprob
              FROM toks t JOIN lp USING (tok) GROUP BY t.doc_id),
            sl AS (
              SELECT s.doc_id, d.lang, s.avg_logprob
              FROM scored s JOIN documents d USING (doc_id)),
            thr AS (
              SELECT lang,
                     round(quantile_cont(avg_logprob, 1.0 / 3.0), 6) AS p_low
              FROM sl GROUP BY lang),
            pb AS (
              SELECT sl.doc_id, sl.avg_logprob < thr.p_low AS ppl_tail
              FROM sl JOIN thr USING (lang)),
            canon AS (
              SELECT md5(text) AS h, min(doc_id) AS canonical_id
              FROM documents GROUP BY 1),
            dup AS (
              SELECT doc_id, doc_id <> canonical_id AS exact_dup
              FROM documents JOIN canon ON md5(text) = h)
            SELECT gp.doc_id, NOT gp.pass_all AS fails_gopher,
                   pb.ppl_tail, dup.exact_dup,
                   gp.pass_all AND NOT pb.ppl_tail AND NOT dup.exact_dup
                     AS keep
            FROM gp JOIN pb USING (doc_id) JOIN dup USING (doc_id)
        """,
        "q_prototype_prune": ",".join(
            _kmeans_coarse_cte_sqls()
            + [f"""
        sc AS (
          SELECT t.vec_id, t.cluster,
                 round({DUCK_DOT.format(a="t.v", b="cn.cv")}
                       / (t.nrm * cn.cnorm), 6) AS proto_sim
          FROM t JOIN cn ON t.cluster = cn.centroid_id),
        thr AS (
          SELECT cluster,
                 round(quantile_cont(proto_sim, {1.0 - PROTO_DROP_FRAC}), 6)
                   AS thr
          FROM sc GROUP BY cluster)
        SELECT sc.vec_id, CAST(sc.cluster AS BIGINT) AS cluster,
               sc.proto_sim, thr.thr, sc.proto_sim <= thr.thr AS keep
        FROM sc JOIN thr USING (cluster)"""]
        ),
        "q_rp_recall": f"""
            WITH pe AS ({_embed_project_oracle_sql()}),
            pl AS (
              SELECT vec_id,
                     [{", ".join(f"p{j:02d}" for j in range(1, RP_OUT_DIM + 1))}]
                       AS v
              FROM pe),
            pn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm
                   FROM pl),
            pq AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm
                   FROM pn WHERE vec_id < {N_ANN_QUERIES}),
            ppairs AS (
              SELECT pq.query_id, pn.vec_id,
                     round(list_dot_product(pn.v, pq.qv)
                           / (pn.norm * pq.qnorm), 4) AS sim
              FROM pn CROSS JOIN pq WHERE pn.vec_id <> pq.query_id),
            pr AS (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, vec_id) AS rank
              FROM ppairs),
            approx AS (SELECT query_id, vec_id FROM pr
                       WHERE rank <= {ANN_TOP_K}),
            fe AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            fn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm
                   FROM fe),
            fq AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm
                   FROM fn WHERE vec_id < {N_ANN_QUERIES}),
            fpairs AS (
              SELECT fq.query_id, fn.vec_id,
                     round(list_dot_product(fn.v, fq.qv)
                           / (fn.norm * fq.qnorm), 4) AS sim
              FROM fn CROSS JOIN fq WHERE fn.vec_id <> fq.query_id),
            fr AS (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, vec_id) AS rank
              FROM fpairs),
            ex AS (SELECT query_id, vec_id FROM fr WHERE rank <= {ANN_TOP_K})
            SELECT ex.query_id,
                   CAST(count(approx.vec_id) AS BIGINT) AS n_overlap,
                   round(count(approx.vec_id) * 1.0 / {ANN_TOP_K}, 4)
                     AS recall
            FROM ex LEFT JOIN approx
              ON ex.query_id = approx.query_id
             AND ex.vec_id = approx.vec_id
            GROUP BY ex.query_id
        """,
        "q_tpch_q14": f"""
            SELECT round(
              100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(18,6)) END) AS DOUBLE)
              / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,6))) AS DOUBLE), 4)
              AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE epoch_us(l_shipdate) // 1000000 >= {TPCH_Q14_START}
              AND epoch_us(l_shipdate) // 1000000 < {TPCH_Q14_END}
        """,
        "q_tpch_q18": f"""
            WITH big AS (
              SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING round(sum(l_quantity), 2) > {TPCH_Q18_QTY})
            SELECT c_custkey, c_name, o_orderkey,
                   epoch_us(o_orderdate) // 1000000 AS o_orderdate_sec,
                   o_totalprice, sum_qty
            FROM big
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderdate_sec, o_orderkey
            LIMIT {TPCH_Q18_TOP}
        """,
        "q_embed_project": _embed_project_oracle_sql(),
        "q_tpch_q6": f"""
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE epoch_us(l_shipdate) // 1000000 >= {TPCH_Q5_START}
              AND epoch_us(l_shipdate) // 1000000 < {TPCH_Q5_END}
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q_tpch_q10": f"""
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   round(sum(CAST(l_extendedprice * (1 - l_discount)
                                  AS DECIMAL(18,6))), 2)::DOUBLE
                     AS revenue
            FROM customer, orders, lineitem, nation
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND epoch_us(o_orderdate) // 1000000 >= {TPCH_Q10_START}
              AND epoch_us(o_orderdate) // 1000000 < {TPCH_Q10_END}
              AND l_returnflag = 'R' AND c_nationkey = n_nationkey
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT {TPCH_Q10_TOP}
        """,
        "q_dedup_exact": """
            SELECT md5(text) AS h, min(doc_id) AS canonical_id, count(*) AS n
            FROM documents GROUP BY 1
        """,
        "q_dedup_tokenset": """
            SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
                   min(doc_id) AS canonical_id, count(*) AS n
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "q_text_stats": """
            SELECT doc_id, n_chars,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct,
                   round(len(list_distinct(string_split(text, ' '))) * 1.0
                         / len(string_split(text, ' ')), 4) AS ttr
            FROM documents
        """,
        "q_lang_quality": f"""
            WITH per_doc AS (
              SELECT lang, len(string_split(text, ' ')) AS n_tokens,
                     len(list_filter(string_split(text, ' '), w -> w IN ({stop_list}))) * 1.0
                       / len(string_split(text, ' ')) AS stop_ratio
              FROM documents)
            SELECT lang, count(*) AS n_docs, round(avg(n_tokens), 4) AS avg_tokens,
                   round(avg(stop_ratio), 4) AS avg_stop_ratio
            FROM per_doc GROUP BY lang ORDER BY lang
        """,
        "q_ann_cosine": f"""
            WITH e AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
            q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM n
                  WHERE vec_id < {N_ANN_QUERIES}),
            pairs AS (
              SELECT q.query_id, n.vec_id,
                     round(list_dot_product(n.v, q.qv) / (n.norm * q.qnorm), 4) AS sim
              FROM n CROSS JOIN q WHERE n.vec_id <> q.query_id),
            ranked AS (
              SELECT query_id, vec_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, vec_id) AS rank
              FROM pairs)
            SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= {ANN_TOP_K}
        """,
        "q_metrics_find": f"""
            WITH cat AS (SELECT DISTINCT path FROM ({DP_USER}) dp),
            pre AS (
              SELECT array_to_string(string_split(path, '.')[1:2], '.') AS prefix,
                     len(string_split(path, '.')) = 2 AS exact
              FROM cat WHERE len(string_split(path, '.')) >= 2),
            m AS (
              SELECT prefix, bool_or(exact) AS has_leaf, bool_or(NOT exact) AS has_branch
              FROM pre WHERE {mfind_cond} GROUP BY prefix)
            SELECT prefix AS path, string_split(prefix, '.')[-1] AS name, is_leaf FROM (
              SELECT prefix, false AS is_leaf FROM m WHERE has_branch
              UNION ALL
              SELECT prefix, true AS is_leaf FROM m WHERE has_leaf)
            ORDER BY path, is_leaf
        """,
        "q_metrics_index": f"""
            SELECT DISTINCT path FROM ({DP_USER}) dp ORDER BY path
        """,
        "q_resolution_route": route_sql,
        "q_staircase": f"""
            WITH s AS (
              SELECT slot, value FROM ({_slots_sql(DP_TYPE, 21600)}) t
              WHERE path = '{ROUTE_PATH}' AND slot < {T0 + 7 * DAY}),
            b AS (
              SELECT slot, value, lag(slot) OVER (ORDER BY slot) AS pt,
                     lag(value) OVER (ORDER BY slot) AS pv
              FROM s)
            SELECT slot, value FROM b
            UNION ALL
            SELECT slot, pv AS value FROM b WHERE pt IS NOT NULL
        """,
        "q_user_hook": f"""
            WITH dp AS ({DP_TYPE}),
            hooked AS (
              SELECT path, value FROM dp
              UNION ALL
              SELECT path || '.high' AS path, value - 150.0 AS value
              FROM dp WHERE value > 150.0)
            SELECT path, count(*) AS n, round(sum(value), 2) AS sum_value
            FROM hooked GROUP BY path
        """,
        "q_carbon_aggregator": f"""
            SELECT 'agg.' || regexp_extract(path, '^events\\.([^.]+)\\.', 1) AS path,
                   ts_sec - ts_sec % {AGGREGATOR_FREQ} AS slot,
                   round(sum(value), 2) AS value, count(*) AS n
            FROM ({DP_USER}) dp GROUP BY 1, 2
        """,
        "q_store_federation": f"""
            SELECT DISTINCT path FROM (
              SELECT path FROM ({DP_USER}) dp
              UNION ALL
              SELECT * FROM (VALUES {", ".join(f"('{p}')" for (p,) in DATAMINE_CHANNELS)}) v(path))
            ORDER BY path
        """,
        "q_ingest_reject": f"""
            SELECT CASE WHEN {INGEST_NOW} - ts_sec < 0 THEN 'future'
                        WHEN {INGEST_NOW} - ts_sec >= {INGEST_MAX_RETENTION} THEN 'stale'
                        ELSE 'ok' END AS status,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM ({DP_USER}) dp GROUP BY 1
        """,
        "q_embed_centroid": """
            WITH ex AS (
              SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS x
              FROM embeddings),
            c AS (SELECT label, pos, avg(x) AS m FROM ex GROUP BY 1, 2)
            SELECT label, count(*) AS dim, round(sqrt(sum(m * m)), 4) AS centroid_norm
            FROM c GROUP BY label ORDER BY label
        """,
        "q_dedup_minhash": _minhash_oracle_sql(),
        "q_winnow_incremental": f"""
            WITH tt AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ), hh AS (
              SELECT doc_id,
                [('0x' || substr(md5(array_to_string(t[i:i+{WINNOW_K - 1}], ' ')), 1, 15))::BIGINT
                 for i in generate_series(1, greatest(len(t) - {WINNOW_K - 1}, 0))] AS h
              FROM tt
            ), subs AS (
              SELECT doc_id, j, h[j:least(j+{WINNOW_W - 1}, len(h))] AS sub
              FROM hh CROSS JOIN
                unnest(generate_series(1, CASE WHEN len(h) >= 1
                       THEN greatest(len(h) - {WINNOW_W - 1}, 1) ELSE 0 END)) AS u(j)
            ), fps AS (
              SELECT DISTINCT doc_id, list_min(sub) AS h FROM subs
            ), cnt AS (
              SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id
            ), prs AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
              FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), sc AS (
              SELECT id1, id2, shared,
                     round(shared * 1.0 / least(n1.n_fp, n2.n_fp), 4) AS containment
              FROM prs
              JOIN cnt n1 ON prs.id1 = n1.doc_id
              JOIN cnt n2 ON prs.id2 = n2.doc_id
            )
            SELECT id1, id2, CAST(shared AS BIGINT) AS shared, containment
            FROM sc
            WHERE containment >= {WINNOW_T}
              AND (id1 % {INCR_BATCH_MOD} = 0 OR id2 % {INCR_BATCH_MOD} = 0)
        """,
        "q_winnow_matches": _winnow_matches_oracle_sql(),
        "q_winnow_spans": _winnow_spans_oracle_sql(),
        "q_winnow_dedup": f"""
            WITH sp AS ({_winnow_spans_oracle_sql()}),
            ds AS (
              SELECT DISTINCT id2 AS doc_id, start2 - 1 AS start_tok,
                     end2 - 1 AS end_tok
              FROM sp),
            tt AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            toks AS (
              SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos,
                     unnest(t) AS tok
              FROM tt),
            kept AS (
              SELECT tk.doc_id, tk.pos, tk.tok
              FROM toks tk
              WHERE NOT EXISTS (
                SELECT 1 FROM ds
                WHERE ds.doc_id = tk.doc_id
                  AND tk.pos BETWEEN ds.start_tok AND ds.end_tok)),
            agg AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                     count(*)::BIGINT AS kept_tokens
              FROM kept GROUP BY doc_id),
            base AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              FROM documents)
            SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text,
                   CAST(coalesce(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
                   CAST(b.n - coalesce(a.kept_tokens, 0) AS BIGINT)
                     AS removed_tokens
            FROM base b LEFT JOIN agg a USING (doc_id)
        """,
        "q_gopher_rules": _gopher_oracle_sql(),
        "q_quality_classifier": f"""
            WITH tt AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            feats AS (
              SELECT doc_id, unnest(t) AS feat FROM tt
              UNION ALL
              SELECT doc_id, t[i] || ' ' || t[i + 1] AS feat
              FROM tt CROSS JOIN
                unnest(generate_series(1, len(t) - 1)) AS u(i)),
            h AS (
              SELECT doc_id,
                     ('0x' || substr(md5(feat), 1, 8))::BIGINT
                       % {QC_BUCKETS} AS bucket
              FROM feats),
            w AS (
              SELECT i::BIGINT AS bucket,
                     ((('0x' || substr(md5('qc:' || i::VARCHAR), 1, 8))
                        ::BIGINT % {2 * QC_SCALE + 1})
                      - {QC_SCALE})::DOUBLE AS w
              FROM generate_series(0, {QC_BUCKETS - 1}) AS g(i)),
            agg AS (
              SELECT doc_id, count(*)::BIGINT AS n_feats,
                     sum(coalesce(w.w, 0)) AS s
              FROM h LEFT JOIN w USING (bucket) GROUP BY 1)
            -- every input doc gets a row (featureless null-text docs
            -- score n_feats=0 / null / keep=false — the engine's
            -- explode_outer contract); the fixture has no null texts,
            -- so this is semantic-parity insurance, not a value change
            SELECT d.doc_id,
                   coalesce(n_feats, 0)::BIGINT AS n_feats,
                   CASE WHEN n_feats > 0 THEN
                     round(1.0 / (1.0 + exp(-(s / ({QC_SCALE}.0 * n_feats)))),
                           6) END AS score,
                   coalesce(
                     CASE WHEN n_feats > 0 THEN
                       round(1.0 / (1.0 + exp(-(s / ({QC_SCALE}.0 * n_feats)))),
                             6) >= {QC_THRESHOLD} END,
                     false) AS keep
            FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        """,
        "q_source_overlap": f"""
            WITH pairs AS ({_minhash_oracle_sql()}),
            lab AS (
              SELECT least(d1.source, d2.source) AS source1,
                     greatest(d1.source, d2.source) AS source2
              FROM pairs JOIN documents d1 ON pairs.id1 = d1.doc_id
                         JOIN documents d2 ON pairs.id2 = d2.doc_id)
            SELECT source1, source2, count(*)::BIGINT AS n_pairs
            FROM lab GROUP BY 1, 2
        """,
        "q_neardup_verified": _edit_verify_oracle_sql(),
        # connected components as a recursive transitive-closure CTE: node v
        # belongs to cluster min(reachable ids).  Closure size is bounded by
        # sum of component sizes squared — fine for an oracle at sf0.01.
        "q_dup_clusters": f"""
            WITH RECURSIVE
            dups AS ({_minhash_oracle_sql()}),
            edges AS (SELECT id1 AS src, id2 AS dst FROM dups
                      UNION SELECT id2, id1 FROM dups),
            reach(node, r) AS (
              SELECT DISTINCT src, src FROM edges
              UNION
              SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst)
            SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
        """,
        "q_leakage_split": f"""
            WITH RECURSIVE
            dups AS ({_minhash_oracle_sql()}),
            edges AS (SELECT id1 AS src, id2 AS dst FROM dups
                      UNION SELECT id2, id1 FROM dups),
            reach(node, r) AS (
              SELECT DISTINCT src, src FROM edges
              UNION
              SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst),
            comp AS (SELECT node AS doc_id, min(r) AS cluster_id
                     FROM reach GROUP BY node),
            lab AS (
              SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN comp c USING (doc_id))
            SELECT doc_id, cluster_id,
                   CASE WHEN ('0x' || substr(md5('split42_' ||
                              cluster_id::VARCHAR), 1, 8))::BIGINT % 100
                             < {SPLIT_TRAIN_PCT}
                        THEN 'train' ELSE 'val' END AS split
            FROM lab
        """,
        "q_text_profile": _text_profile_oracle_sql(),
        "q_dedup_simhash": _simhash_oracle_sql(),
        "q_dedup_incremental": f"""
            WITH dups AS ({_minhash_oracle_sql()})
            SELECT id1, id2, jaccard FROM dups
            WHERE id1 % {INCR_BATCH_MOD} = 0 OR id2 % {INCR_BATCH_MOD} = 0
        """,
        "q_simhash_neardup": _simhash_neardup_oracle_sql(),
        # the guarded variants MUST reproduce the unguarded pipelines'
        # pair sets exactly — same oracle, so a green row is the
        # pair-set-equivalence proof for the hot-bucket guard
        "q_simhash_guarded": _simhash_neardup_oracle_sql(),
        "q_minhash_guarded": _minhash_oracle_sql(),
        "q_span_dedup": f"""
            WITH {_span_cte_sql()}
            SELECT doc_id, start_tok, end_tok, span_tokens FROM spans
        """,
        "q_span_incremental": f"""
            WITH {_span_cte_sql()},
            batch_h AS (SELECT DISTINCT h FROM posts
                        WHERE doc_id % {INCR_BATCH_MOD} = 0),
            aff AS (
              SELECT DISTINCT p.doc_id
              FROM posts p
              WHERE p.h IN (SELECT h FROM batch_h)
                AND p.h IN (SELECT h FROM rep))
            SELECT s.doc_id, s.start_tok, s.end_tok, s.span_tokens
            FROM spans s JOIN aff USING (doc_id)
        """,
        "q_bigram_logprob": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pairs AS (
              SELECT doc_id,
                     unnest([{'w1': t[i], 'w2': t[i + 1]}
                             FOR i IN generate_series(1, len(t) - 1)]) AS bg
              FROM toks WHERE len(t) >= 2),
            p2 AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM pairs),
            bi AS (SELECT w1, w2, count(*) AS c2 FROM p2 GROUP BY 1, 2),
            ctx AS (SELECT w1, count(*) AS c1 FROM p2 GROUP BY 1),
            lp AS (SELECT w1, w2, log10(c2 * 1.0 / c1) AS logp
                   FROM bi JOIN ctx USING (w1))
            SELECT doc_id, count(*) AS n_bigrams,
                   round(avg(logp), 6) AS avg_logprob
            FROM p2 JOIN lp USING (w1, w2)
            GROUP BY doc_id
        """,
        "q_unigram_logprob": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            total AS (SELECT count(*) AS n FROM toks),
            lp AS (
              SELECT tok, log10(count(*) * 1.0 / (SELECT n FROM total)) AS logp
              FROM toks GROUP BY tok)
            SELECT t.doc_id, count(*) AS n_tokens,
                   round(avg(lp.logp), 6) AS avg_logprob
            FROM toks t JOIN lp USING (tok)
            GROUP BY t.doc_id
        """,
        "q_span_removed": f"""
            WITH {_span_cte_sql()},
            toks2 AS (SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos,
                             unnest(t) AS tok
                      FROM toks),
            kept AS (
              SELECT tk.doc_id, tk.pos, tk.tok
              FROM toks2 tk
              WHERE NOT EXISTS (
                SELECT 1 FROM spans sp
                WHERE sp.doc_id = tk.doc_id
                  AND tk.pos BETWEEN sp.start_tok AND sp.end_tok)),
            agg AS (SELECT doc_id,
                           string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                           count(*) AS kept_tokens
                    FROM kept GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(a.clean_text, '') AS clean_text,
                   coalesce(a.kept_tokens, 0) AS kept_tokens,
                   len(string_split(d.text, ' '))
                     - coalesce(a.kept_tokens, 0) AS removed_tokens
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "q_span_mask": f"""
            WITH {_span_cte_sql()},
            per_doc AS (SELECT doc_id, count(*) AS n_spans,
                               CAST(sum(span_tokens) AS BIGINT)
                                 AS covered_tokens
                        FROM spans GROUP BY doc_id)
            SELECT d.doc_id,
                   len(string_split(d.text, ' ')) AS n_tokens,
                   coalesce(p.n_spans, 0) AS n_spans,
                   coalesce(p.covered_tokens, 0) AS covered_tokens,
                   round(coalesce(p.covered_tokens, 0) * 1.0
                         / len(string_split(d.text, ' ')), 4) AS covered_frac
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "q_ngram_jaccard": f"""
            WITH toks AS (SELECT doc_id, lang, source, string_split(text, ' ') AS t
                          FROM documents),
            sets AS (
              SELECT doc_id, lang, source,
                     list_distinct([array_to_string(t[i:i+2], ' ')
                                    FOR i IN generate_series(1, len(t) - 2)]) AS sh
              FROM toks WHERE len(t) >= 3)
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   round(len(list_intersect(a.sh, b.sh)) * 1.0
                         / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
            FROM sets a JOIN sets b
              ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
            WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0
                        / len(list_distinct(a.sh || b.sh)), 4) >= {NGRAM_JACCARD_MIN}
        """,
        "q_winnow_fingerprints": f"""
            WITH tt AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ), hh AS (
              SELECT doc_id,
                [('0x' || substr(md5(array_to_string(t[i:i+{WINNOW_K - 1}], ' ')), 1, 15))::BIGINT
                 for i in generate_series(1, greatest(len(t) - {WINNOW_K - 1}, 0))] AS h
              FROM tt
            ), subs AS (
              SELECT doc_id, j, h[j:least(j+{WINNOW_W - 1}, len(h))] AS sub
              FROM hh CROSS JOIN
                unnest(generate_series(1, CASE WHEN len(h) >= 1
                       THEN greatest(len(h) - {WINNOW_W - 1}, 1) ELSE 0 END)) AS u(j)
            )
            SELECT DISTINCT doc_id,
              CAST(j + len(sub) - list_position(list_reverse(sub), list_min(sub))
                   AS BIGINT) AS pos,
              list_min(sub) AS h
            FROM subs
        """,
        "q_winnow_neardup": _winnow_neardup_oracle_sql(),
        "q_bm25": f"""
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS tf
                   FROM toks GROUP BY 1, 2),
            dlen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dlen),
            q(query_id, tok) AS (VALUES {_bm25_values()}),
            dft AS (
              SELECT tok, count(*) AS df FROM tf
              WHERE tok IN (SELECT tok FROM q) GROUP BY tok),
            sc AS (
              SELECT q.query_id, tf.doc_id,
                round(sum(
                  ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                  * (tf * (1.2 + 1))
                  / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                ), 4) AS score
              FROM tf JOIN q ON tf.tok = q.tok
              JOIN dlen USING (doc_id)
              CROSS JOIN stats
              JOIN dft ON tf.tok = dft.tok
              GROUP BY 1, 2),
            rk AS (
              SELECT query_id, doc_id, score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, doc_id) AS rank
              FROM sc)
            SELECT query_id, doc_id, score, CAST(rank AS BIGINT) AS rank
            FROM rk WHERE rank <= {BM25_TOP_K}
        """,
        "q_bm25_chunks": f"""
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS t,
                     len(string_split(text, ' ')) AS n
              FROM documents),
            s AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, n, {CHUNK_STRIDE})) AS s1
              FROM t),
            ch AS (
              SELECT doc_id * {CHUNK_ID_BASE}
                       + ((s1 - 1) // {CHUNK_STRIDE}) AS chunk_id,
                     array_to_string(t[s1 : s1 + {CHUNK_WINDOW - 1}], ' ')
                       AS chunk_text
              FROM s),
            toks AS (
              SELECT chunk_id, unnest(string_split(chunk_text, ' ')) AS tok
              FROM ch),
            tf AS (SELECT chunk_id, tok, count(*) AS tf
                   FROM toks GROUP BY 1, 2),
            dlen AS (SELECT chunk_id, count(*) AS dl FROM toks GROUP BY 1),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dlen),
            q(query_id, tok) AS (VALUES {_bm25_values()}),
            dft AS (
              SELECT tok, count(*) AS df FROM tf
              WHERE tok IN (SELECT tok FROM q) GROUP BY tok),
            sc AS (
              SELECT q.query_id, tf.chunk_id,
                round(sum(
                  ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                  * (tf * (1.2 + 1))
                  / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                ), 4) AS score
              FROM tf JOIN q ON tf.tok = q.tok
              JOIN dlen USING (chunk_id)
              CROSS JOIN stats
              JOIN dft ON tf.tok = dft.tok
              GROUP BY 1, 2),
            rk AS (
              SELECT query_id, chunk_id, score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, chunk_id) AS rank
              FROM sc)
            SELECT query_id,
                   (chunk_id // {CHUNK_ID_BASE})::BIGINT AS doc_id,
                   (chunk_id % {CHUNK_ID_BASE})::BIGINT AS chunk_no,
                   score, CAST(rank AS BIGINT) AS rank
            FROM rk WHERE rank <= {BM25_TOP_K}
        """,
        "q_hybrid_rrf": f"""
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS tf
                   FROM toks GROUP BY 1, 2),
            dlen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dlen),
            q AS (
              SELECT doc_id AS query_id,
                     unnest(list_distinct(string_split(text, ' '))) AS tok
              FROM documents
              WHERE doc_id IN ({", ".join(str(i) for i in HYBRID_QUERY_IDS)})),
            dft AS (
              SELECT tok, count(*) AS df FROM tf
              WHERE tok IN (SELECT tok FROM q) GROUP BY tok),
            sc AS (
              SELECT q.query_id, tf.doc_id,
                round(sum(
                  ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                  * (tf * (1.2 + 1))
                  / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                ), 4) AS score
              FROM tf JOIN q ON tf.tok = q.tok
              JOIN dlen USING (doc_id)
              CROSS JOIN stats
              JOIN dft ON tf.tok = dft.tok
              GROUP BY 1, 2),
            lex AS (
              SELECT query_id, doc_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, doc_id) AS rank
              FROM sc),
            lexf AS (
              SELECT * FROM lex
              WHERE rank <= {HYBRID_TOP_K + 1} AND doc_id <> query_id),
            e AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
            qv AS (SELECT vec_id AS query_id, v AS qvec, norm AS qnorm FROM nn
                   WHERE vec_id IN ({", ".join(str(i) for i in HYBRID_QUERY_IDS)})),
            vpairs AS (
              SELECT qv.query_id, nn.vec_id,
                     round(list_dot_product(nn.v, qv.qvec)
                           / (nn.norm * qv.qnorm), 4) AS sim
              FROM nn CROSS JOIN qv WHERE nn.vec_id <> qv.query_id),
            vrank AS (
              SELECT query_id, vec_id AS doc_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, vec_id) AS rank
              FROM vpairs),
            vecf AS (SELECT * FROM vrank WHERE rank <= {HYBRID_TOP_K}),
            f AS (
              SELECT coalesce(l.query_id, v.query_id) AS query_id,
                     coalesce(l.doc_id, v.doc_id) AS doc_id,
                     round(coalesce(1.0::DOUBLE / (60 + l.rank), 0)
                           + coalesce(1.0::DOUBLE / (60 + v.rank), 0), 6) AS rrf
              FROM lexf l FULL OUTER JOIN vecf v
                ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
            fr AS (
              SELECT query_id, doc_id, rrf,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY rrf DESC, doc_id) AS rank
              FROM f)
            SELECT query_id, doc_id, rrf, CAST(rank AS BIGINT) AS rank
            FROM fr WHERE rank <= {HYBRID_TOP_K}
        """,
        "q_mix_weights": f"""
            WITH per AS (
              SELECT source AS stratum, count(*)::BIGINT AS n_docs,
                     CAST(sum(CASE WHEN text IS NOT NULL AND len(text) > 0
                                   THEN len(string_split(text, ' '))
                                   ELSE 0 END) AS BIGINT)
                       AS n_tokens
              FROM documents GROUP BY 1),
            tot AS (SELECT sum(n_tokens) AS tot FROM per),
            sh AS (
              SELECT per.*, round(n_tokens * 1.0 / tot, 6) AS share,
                     pow(round(n_tokens * 1.0 / tot, 6), {MIX_ALPHA}) AS sa
              FROM per CROSS JOIN tot),
            den AS (SELECT sum(sa) AS sden FROM sh),
            w AS (
              SELECT stratum, n_docs, n_tokens, share,
                     round(sa / sden, 6) AS weight
              FROM sh CROSS JOIN den)
            SELECT stratum, n_docs, n_tokens, share, weight,
                   CAST(floor({MIX_BUDGET} * weight) AS BIGINT)
                     AS alloc_tokens,
                   round(CAST(floor({MIX_BUDGET} * weight) AS BIGINT)
                         * 1.0 / n_tokens, 4) AS epochs
            FROM w
        """,
        "q_ppl_buckets": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            total AS (SELECT count(*) AS n FROM toks),
            lp AS (
              SELECT tok, log10(count(*) * 1.0 / (SELECT n FROM total)) AS logp
              FROM toks GROUP BY tok),
            scored AS (
              SELECT t.doc_id, round(avg(lp.logp), 6) AS avg_logprob
              FROM toks t JOIN lp USING (tok)
              GROUP BY t.doc_id),
            sl AS (
              SELECT s.doc_id, d.lang, s.avg_logprob
              FROM scored s JOIN documents d USING (doc_id)),
            thr AS (
              SELECT lang,
                     round(quantile_cont(avg_logprob, 1.0 / 3.0), 6) AS p_low,
                     round(quantile_cont(avg_logprob, 2.0 / 3.0), 6) AS p_high
              FROM sl GROUP BY lang)
            SELECT sl.doc_id, sl.lang, sl.avg_logprob, thr.p_low, thr.p_high,
                   CASE WHEN sl.avg_logprob >= thr.p_high THEN 'head'
                        WHEN sl.avg_logprob >= thr.p_low THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sl JOIN thr USING (lang)
        """,
        "q_knn_label": f"""
            WITH e AS (
              SELECT vec_id, CAST(label AS BIGINT) AS label,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            n AS (SELECT vec_id, label, v,
                         sqrt(list_dot_product(v, v)) AS nrm FROM e),
            q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
                  WHERE vec_id < {KNN_N_QUERIES}),
            pairs AS (
              SELECT q.query_id, n.vec_id, n.label,
                     round(list_dot_product(n.v, q.qv) / (n.nrm * q.qn), 4)
                       AS sim
              FROM n CROSS JOIN q WHERE n.vec_id >= {KNN_N_QUERIES}),
            ranked AS (
              SELECT query_id, vec_id, label, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, vec_id) AS rank
              FROM pairs),
            votes AS (
              SELECT query_id, label, count(*)::BIGINT AS votes,
                     max(sim) AS top_sim
              FROM ranked WHERE rank <= {KNN_K} GROUP BY 1, 2),
            win AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY votes DESC, label) AS rk
              FROM votes)
            SELECT query_id, label AS pred_label, votes, top_sim
            FROM win WHERE rk = 1
        """,
        "q_knn_label_routed": _knn_routed_oracle_sql(),
        "q_ingest_pipeline": _pipeline_oracle_sql(),
        "q_pipeline_payload": _pipeline_payload_oracle_sql(),
        "q_bpe_merges": _bpe_oracle_sql(),
        "q_bpe_segment": _bpe_segment_oracle_sql(),
        "q_bpe_ids": _bpe_ids_oracle_sql(),
        "q_source_quality": """
            WITH m AS (
              SELECT source, text,
                CASE WHEN text IS NOT NULL AND length(text) > 0
                     THEN len(string_split(text, ' ')) ELSE 0 END AS n_words,
                list_sum(list_transform(string_split(text, ' '),
                                        x -> length(x))) AS total_chars,
                length(text) - length(replace(text, '#', '')) AS n_hash,
                (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
                len(string_split(text, chr(10))) AS n_lines,
                len(list_filter(string_split(text, chr(10)),
                    l -> regexp_matches(l, '^\\s*[-*]'))) AS n_bullet,
                len(list_filter(string_split(text, chr(10)),
                    l -> regexp_matches(l, '\\.\\.\\.\\s*$'))) AS n_ellend,
                len(list_filter(string_split(text, ' '),
                    x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
                (coalesce(list_contains(string_split(text, ' '), 'the'), false)::INT
                 + coalesce(list_contains(string_split(text, ' '), 'be'), false)::INT
                 + coalesce(list_contains(string_split(text, ' '), 'to'), false)::INT
                 + coalesce(list_contains(string_split(text, ' '), 'of'), false)::INT
                 + coalesce(list_contains(string_split(text, ' '), 'and'), false)::INT
                 + coalesce(list_contains(string_split(text, ' '), 'that'), false)::INT
                 + coalesce(list_contains(string_split(text, ' '), 'have'), false)::INT
                 + coalesce(list_contains(string_split(text, ' '), 'with'), false)::INT)
                  AS stop_hits
              FROM documents),
            p AS (
              SELECT source, text, CAST(n_words AS BIGINT) AS n_words,
                ((n_words >= 50 AND n_words <= 100000)
                 AND coalesce(total_chars * 1.0 / nullif(n_words, 0) >= 3
                      AND total_chars * 1.0 / nullif(n_words, 0) <= 10, false)
                 AND coalesce(n_hash * 1.0 / nullif(n_words, 0) <= 0.1
                      AND n_ell * 1.0 / nullif(n_words, 0) <= 0.1, false)
                 AND coalesce(n_bullet * 1.0 / nullif(n_lines, 0) <= 0.9,
                      false)
                 AND coalesce(n_ellend * 1.0 / nullif(n_lines, 0) <= 0.3,
                      false)
                 AND coalesce(n_alpha * 1.0 / nullif(n_words, 0) >= 0.8,
                      false)
                 AND stop_hits >= 2) AS pass_all
              FROM m)
            SELECT source, count(*)::BIGINT AS n_docs,
                   CAST(sum(n_words) AS BIGINT) AS n_tokens,
                   count(DISTINCT md5(text))::BIGINT AS distinct_texts,
                   round(1 - count(DISTINCT md5(text)) * 1.0 / count(*), 4)
                     AS exact_dup_rate,
                   round(avg(pass_all::INT), 4) AS gopher_pass_rate
            FROM p GROUP BY source
        """,
        "q_audio_segments": f"""
            WITH a AS (
              SELECT doc_id AS asset_id, n_chars * 10 AS duration_ms
              FROM documents WHERE doc_id % 3 = 1),
            seg AS (
              SELECT asset_id, duration_ms,
                unnest(generate_series(0,
                  CASE WHEN duration_ms >= 1 THEN duration_ms - 1 ELSE -1 END,
                  {AUDIO_SEG_STRIDE_MS})) AS start_ms
              FROM a)
            SELECT asset_id,
              CAST(start_ms // {AUDIO_SEG_STRIDE_MS} AS BIGINT) AS segment_no,
              CAST(start_ms AS BIGINT) AS start_ms,
              CAST(least(start_ms + {AUDIO_SEG_WINDOW_MS}, duration_ms)
                   AS BIGINT) AS end_ms,
              CAST(least(start_ms + {AUDIO_SEG_WINDOW_MS}, duration_ms)
                   - start_ms AS BIGINT) AS segment_ms
            FROM seg
        """,
        "q_ann_sq": f"""
            WITH ex AS (
              SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                     CAST(unnest(embedding) AS DOUBLE) AS x
              FROM embeddings),
            b AS (SELECT dim, min(x) AS vmin, max(x) AS vmax
                  FROM ex GROUP BY dim),
            c AS (
              SELECT vec_id, ex.dim, vmin, vmax,
                CASE WHEN vmax - vmin > 0
                     THEN greatest(0, least(255,
                          CAST(floor((x - vmin) / (vmax - vmin) * 255 + 0.5)
                               AS INT)))
                     ELSE 0 END AS code
              FROM ex JOIN b ON ex.dim = b.dim),
            r AS (SELECT vec_id, dim,
                         vmin + code / 255.0 * (vmax - vmin) AS xh
                  FROM c),
            nr AS (SELECT vec_id, sqrt(sum(xh * xh)) AS nrm
                   FROM r GROUP BY vec_id),
            q AS (SELECT vec_id AS query_id, dim, x AS qx
                  FROM ex WHERE vec_id < {N_ANN_QUERIES}),
            qn AS (SELECT query_id, sqrt(sum(qx * qx)) AS qnorm
                   FROM q GROUP BY query_id),
            d AS (
              SELECT q.query_id, r.vec_id, sum(r.xh * q.qx) AS dp
              FROM r JOIN q ON r.dim = q.dim
              WHERE r.vec_id != q.query_id GROUP BY 1, 2),
            s AS (
              SELECT query_id, vec_id,
                     round(dp / (nrm * qnorm), 4) AS sim
              FROM d JOIN nr USING (vec_id) JOIN qn USING (query_id)),
            rk AS (
              SELECT query_id, vec_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, vec_id) AS rank
              FROM s)
            SELECT query_id, vec_id, sim, CAST(rank AS BIGINT) AS rank
            FROM rk WHERE rank <= {ANN_TOP_K}
        """,
        "q_ann_lsh": f"""
            WITH ex AS (
              SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                     CAST(unnest(embedding) AS DOUBLE) AS x
              FROM embeddings),
            pl AS (SELECT unnest(generate_series(0, {ANN_LSH_PLANES - 1})) AS plane),
            w AS (
              SELECT vec_id, plane, dim, x,
                     ((('0x' || substr(md5(plane::VARCHAR || '_' || dim::VARCHAR), 1, 8))::BIGINT
                       % 2001) - 1000) / 1000.0 AS w
              FROM ex CROSS JOIN pl),
            d AS (SELECT vec_id, plane, round(sum(x * w), 9) AS d FROM w GROUP BY 1, 2),
            b AS (
              SELECT vec_id,
                     CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << plane) ELSE 0 END) AS BIGINT)
                       AS bucket
              FROM d GROUP BY vec_id)
            SELECT bucket, count(*) AS n, min(vec_id) AS min_vec_id
            FROM b GROUP BY bucket
        """,
        "q_metrics_expand": f"""
            WITH cat AS (SELECT DISTINCT path FROM ({DP_USER}) dp),
            pre AS (
              SELECT array_to_string(string_split(path, '.')[1:2], '.') AS prefix,
                     len(string_split(path, '.')) = 2 AS exact
              FROM cat WHERE len(string_split(path, '.')) >= 2),
            m AS (
              SELECT prefix, bool_or(exact) AS has_leaf, bool_or(NOT exact) AS has_branch
              FROM pre WHERE {mfind_cond} GROUP BY prefix)
            SELECT path FROM (
              SELECT prefix || '.' AS path FROM m WHERE has_branch
              UNION ALL
              SELECT prefix AS path FROM m WHERE has_leaf)
            ORDER BY path
        """,
        "q_brace_find": f"""
            WITH cat AS (SELECT DISTINCT path FROM ({DP_USER}) dp),
            pre AS (
              SELECT array_to_string(string_split(path, '.')[1:3], '.') AS prefix,
                     len(string_split(path, '.')) = 3 AS exact
              FROM cat WHERE len(string_split(path, '.')) >= 3),
            m AS (
              SELECT prefix, bool_or(exact) AS has_leaf, bool_or(NOT exact) AS has_branch
              FROM pre WHERE {brace_cond} GROUP BY prefix)
            SELECT prefix AS path, string_split(prefix, '.')[-1] AS name, is_leaf FROM (
              SELECT prefix, false AS is_leaf FROM m WHERE has_branch
              UNION ALL
              SELECT prefix, true AS is_leaf FROM m WHERE has_leaf)
            ORDER BY path, is_leaf
        """,
        "q_time_range": f"""
            -- from = now - 2*week*0.998 (the reference's deliberate shrink);
            -- until = ordinal date 2024-031 = Jan 31, hour defaulting to noon
            SELECT path, count(*) AS n,
                   min(ts_sec) AS first_ts, max(ts_sec) AS last_ts
            FROM ({DP_TYPE}) dp
            WHERE ts_sec BETWEEN
                    CAST(floor({RENDER_NOW} - 2 * 604800 * 0.998) AS BIGINT)
                AND CAST(epoch(TIMESTAMP '2024-01-31 12:00:00') AS BIGINT)
            GROUP BY path
        """,
        "q_render_csv": f"""
            WITH g AS ({fetch_grid_sql})
            SELECT '{FETCH_SERIES}' || ','
                   || strftime(make_timestamp(slot * 1000000), '%Y-%m-%d %H:%M:%S')
                   || ',' || coalesce({vtext}, 'nil') AS line
            FROM g
        """,
        "q_render_json": f"""
            WITH s AS ({_slots_sql(DP_TYPE, 21_600)}),
            f AS (SELECT path, slot, value FROM s WHERE slot < {T0 + 7 * DAY})
            SELECT path AS target,
                   '[' || string_agg(
                     '[' || coalesce({vtext}, 'null') || ',' || CAST(slot AS VARCHAR) || ']',
                     ',' ORDER BY slot) || ']' AS datapoints
            FROM f GROUP BY path
        """,
        "q_multimodal_features": """
            WITH b AS (
              SELECT doc_id,
                     [(('0x' || substr(md5(text), 2 * i + 1, 2))::BIGINT - 128) / 128.0
                      FOR i IN generate_series(0, 7)] AS f
              FROM documents)
            SELECT doc_id AS asset_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   round(f[1], 6) AS f0,
                   round(sqrt(list_reduce(list_transform(f, x -> x * x),
                                          (a, b) -> a + b)), 6) AS norm
            FROM b
        """,
        "q_multimodal_neardup": f"""
            WITH b AS (
              SELECT doc_id AS vec_id,
                     [(('0x' || substr(md5(text), 2 * i + 1, 2))::BIGINT - 128) / 128.0
                      FOR i IN generate_series(0, 7)] AS embedding
              FROM documents),
            ex AS (
              SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                     CAST(unnest(embedding) AS DOUBLE) AS x
              FROM b),
            pl AS (SELECT unnest(generate_series(0, {MM_NEARDUP_PLANES - 1})) AS plane),
            w AS (
              SELECT vec_id, plane, dim, x,
                     ((('0x' || substr(md5(plane::VARCHAR || '_' || dim::VARCHAR), 1, 8))::BIGINT
                       % 2001) - 1000) / 1000.0 AS w
              FROM ex CROSS JOIN pl),
            d AS (SELECT vec_id, plane, round(sum(x * w), 9) AS d FROM w GROUP BY 1, 2),
            bk AS (
              SELECT vec_id,
                     CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << plane) ELSE 0 END) AS BIGINT)
                       AS bucket
              FROM d GROUP BY vec_id),
            n AS (
              SELECT vec_id, embedding AS v,
                     sqrt(list_reduce(list_transform(embedding, x -> x * x),
                                      (a, c) -> a + c)) AS nrm
              FROM b),
            t AS (SELECT n.vec_id, v, nrm, bucket FROM n JOIN bk USING (vec_id)),
            pairs AS (
              SELECT a.vec_id AS id1, b.vec_id AS id2,
                     round(list_reduce(list_transform(list_zip(a.v, b.v),
                                                      p -> p[1] * p[2]),
                                       (x, y) -> x + y) / (a.nrm * b.nrm), 4) AS sim
              FROM t a JOIN t b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
            SELECT id1, id2, sim FROM pairs WHERE sim >= {MM_NEARDUP_THRESHOLD}
        """,
        "q_frame_sample": f"""
            SELECT doc_id AS asset_id,
                   ((n_chars * 10 - 1) // {FRAME_SAMPLE_EVERY_MS}) + 1 AS n_frames,
                   ((n_chars * 10 - 1) // {FRAME_SAMPLE_EVERY_MS})
                     * {FRAME_SAMPLE_EVERY_MS} AS last_frame_ms
            FROM documents WHERE doc_id % 3 = 2 AND n_chars * 10 >= 1
        """,
        "q_streaming_rollup": f"""
            -- batch mirror of the streaming job: append mode emits windows
            -- the final watermark (max event time - delay) has passed
            WITH e AS (SELECT epoch_us(ts) // 1000000 AS ts_sec, event_type, value
                       FROM events),
            mx AS (SELECT max(ts_sec) AS m FROM e)
            SELECT ts_sec - ts_sec % 3600 AS slot, event_type,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM e GROUP BY 1, 2
            HAVING slot + 3600 <= (SELECT m FROM mx) - {STREAM_WATERMARK_SEC}
        """,
        "q_series_meta": f"""
            WITH cat AS (SELECT DISTINCT path FROM ({DP_USER}) dp)
            SELECT path,
                   CASE WHEN regexp_matches(path, '\\.click') THEN '1m:1d,1h:30d'
                        WHEN regexp_matches(path, 'error') THEN '10s:6h,10m:7d'
                        ELSE '1h:7d' END AS retentions,
                   CASE WHEN regexp_matches(path, '\\.(click|view)') THEN 0.1
                        WHEN regexp_matches(path, 'error') THEN 0.0
                        ELSE 0.5 END AS xff,
                   CASE WHEN regexp_matches(path, '\\.(click|view)') THEN 'sum'
                        WHEN regexp_matches(path, 'error') THEN 'max'
                        WHEN regexp_matches(path, 'purchase') THEN 'last'
                        ELSE 'average' END AS method
            FROM cat
        """,
        "q_rollup_meta": f"""
            WITH fine AS ({_slots_sql(DP_USER, 60)}),
            agg AS (
              SELECT path, slot - slot % 3600 AS slot,
                     avg(value) AS v_average, sum(value) AS v_sum,
                     arg_max(value, slot) AS v_last,
                     max(value) AS v_max, min(value) AS v_min,
                     count(value) AS known
              FROM fine GROUP BY 1, 2),
            m AS (
              SELECT *,
                CASE WHEN regexp_matches(path, '\\.(click|view)') THEN 'sum'
                     WHEN regexp_matches(path, 'error') THEN 'max'
                     WHEN regexp_matches(path, 'purchase') THEN 'last'
                     ELSE 'average' END AS method,
                CASE WHEN regexp_matches(path, '\\.(click|view)') THEN 0.1
                     WHEN regexp_matches(path, 'error') THEN 0.0
                     ELSE 0.5 END AS xff
              FROM agg)
            SELECT path, slot,
                   round(CASE method WHEN 'sum' THEN v_sum WHEN 'last' THEN v_last
                              WHEN 'max' THEN v_max WHEN 'min' THEN v_min
                              ELSE v_average END, 4) AS value,
                   known, method
            FROM m WHERE known * 1.0 / 60 >= xff
        """,
        "q_multireader": f"""
            WITH s AS (
              SELECT path, ts_sec - ts_sec % {MR_STEP} AS slot,
                     arg_max(value, ts_us) AS value
              FROM ({DP_USER}) dp
              WHERE path IN ({", ".join(f"'{p}'" for p in MR_PATHS)})
              GROUP BY 1, 2)
            -- store 1 (holes at slot % {MR_HOLE} = 0) wins where present;
            -- the +1000 fallback fills the holes
            SELECT path, slot,
                   round(CASE WHEN slot % {MR_HOLE} != 0 THEN value
                              ELSE value + 1000 END, 4) AS value
            FROM s
        """,
        "q_tfidf_terms": f"""
            WITH toks AS (
              SELECT source, unnest(string_split(text, ' ')) AS term
              FROM documents),
            t AS (SELECT source, term, count(*) AS tf
                  FROM toks WHERE term != '' GROUP BY 1, 2),
            d AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
            n AS (SELECT count(DISTINCT source) AS n_src FROM documents),
            s AS (
              SELECT t.source, t.term, t.tf,
                     round(t.tf * ln(n_src * 1.0 / d.df), 6) AS score
              FROM t JOIN d USING (term) CROSS JOIN n)
            SELECT source, term, tf, score, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY score DESC, term) AS rank
              FROM s)
            WHERE rank <= {TFIDF_TOP_K}
        """,
        "q_render_mixed": f"""
            WITH dpu AS ({DP_USER}),
            b AS (SELECT max(ts_sec) AS now FROM dpu),
            -- click: finest archive of '1m:1d,1h:30d' still covers -20h
            c_s AS (
              SELECT ts_sec - ts_sec % 60 AS slot, arg_max(value, ts_us) AS value
              FROM dpu WHERE path = 'events.click.u1' GROUP BY 1),
            c_g AS (
              SELECT 'events.click.u1' AS path, g.slot, c_s.value, 60 AS step
              FROM (SELECT unnest(generate_series(
                      (SELECT (now - {MIXED_FROM_AGE})
                              - (now - {MIXED_FROM_AGE}) % 60 FROM b),
                      (SELECT (now - {MIXED_UNTIL_AGE})
                              - (now - {MIXED_UNTIL_AGE}) % 60 FROM b),
                      60)) AS slot) g
              LEFT JOIN c_s USING (slot)),
            -- error: 10s:6h aged out at -20h → routed to the 10m level,
            -- aggregated with its conf method max (xff 0 gates nothing)
            e_f AS (
              SELECT ts_sec - ts_sec % 10 AS slot, arg_max(value, ts_us) AS value
              FROM dpu WHERE path = 'events.error.u1' GROUP BY 1),
            e_a AS (
              SELECT slot - slot % 600 AS slot, max(value) AS value
              FROM e_f GROUP BY 1),
            e_g AS (
              SELECT 'events.error.u1' AS path, g.slot, e_a.value, 600 AS step
              FROM (SELECT unnest(generate_series(
                      (SELECT (now - {MIXED_FROM_AGE})
                              - (now - {MIXED_FROM_AGE}) % 600 FROM b),
                      (SELECT (now - {MIXED_UNTIL_AGE})
                              - (now - {MIXED_UNTIL_AGE}) % 600 FROM b),
                      600)) AS slot) g
              LEFT JOIN e_a USING (slot)),
            -- signup: default '1h:7d' single archive
            s_s AS (
              SELECT ts_sec - ts_sec % 3600 AS slot, arg_max(value, ts_us) AS value
              FROM dpu WHERE path = 'events.signup.u1' GROUP BY 1),
            s_g AS (
              SELECT 'events.signup.u1' AS path, g.slot, s_s.value, 3600 AS step
              FROM (SELECT unnest(generate_series(
                      (SELECT (now - {MIXED_FROM_AGE})
                              - (now - {MIXED_FROM_AGE}) % 3600 FROM b),
                      (SELECT (now - {MIXED_UNTIL_AGE})
                              - (now - {MIXED_UNTIL_AGE}) % 3600 FROM b),
                      3600)) AS slot) g
              LEFT JOIN s_s USING (slot))
            SELECT path, slot, round(value, 4) AS value, step FROM c_g
            UNION ALL
            SELECT path, slot, round(value, 4) AS value, step FROM e_g
            UNION ALL
            SELECT path, slot, round(value, 4) AS value, step FROM s_g
        """,
        "q_rollup_routed": f"""
            WITH dpu AS ({DP_USER}),
            fine AS (
              SELECT path, ts_sec - ts_sec % 60 AS slot,
                     arg_max(value, ts_us) AS value
              FROM dpu GROUP BY 1, 2),
            agg AS (
              SELECT path, slot - slot % 3600 AS slot,
                     avg(value) AS v_average, sum(value) AS v_sum,
                     arg_max(value, slot) AS v_last,
                     max(value) AS v_max, min(value) AS v_min,
                     count(value) AS known
              FROM fine GROUP BY 1, 2),
            lvl AS (
              SELECT path, slot,
                CASE WHEN regexp_matches(path, '\\.(click|view)') THEN v_sum
                     WHEN regexp_matches(path, 'error') THEN v_max
                     WHEN regexp_matches(path, 'purchase') THEN v_last
                     ELSE v_average END AS value
              FROM agg
              WHERE known * 1.0 / 60 >=
                CASE WHEN regexp_matches(path, '\\.(click|view)') THEN 0.1
                     WHEN regexp_matches(path, 'error') THEN 0.0
                     ELSE 0.5 END),
            b AS (
              SELECT (max(ts_sec) - {ROUTED_FROM_AGE})
                       - (max(ts_sec) - {ROUTED_FROM_AGE}) % 3600 AS lo,
                     (max(ts_sec) - {ROUTED_FROM_AGE} + {ROUTED_SPAN})
                       - (max(ts_sec) - {ROUTED_FROM_AGE} + {ROUTED_SPAN}) % 3600 AS hi
              FROM dpu),
            g AS (
              SELECT p.path, s.slot
              FROM (VALUES {", ".join(f"('{p}')" for p in ROUTED_PATHS)}) p(path)
              CROSS JOIN (
                SELECT unnest(generate_series((SELECT lo FROM b),
                                              (SELECT hi FROM b), 3600)) AS slot) s)
            SELECT g.path AS path, g.slot AS slot, round(lvl.value, 4) AS value
            FROM g LEFT JOIN lvl ON g.path = lvl.path AND g.slot = lvl.slot
        """,
        "q_dedup_embed": f"""
            WITH ex AS (
              SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                     CAST(unnest(embedding) AS DOUBLE) AS x
              FROM embeddings),
            pl AS (SELECT unnest(generate_series(0, {NEARDUP_PLANES - 1})) AS plane),
            w AS (
              SELECT vec_id, plane, dim, x,
                     ((('0x' || substr(md5(plane::VARCHAR || '_' || dim::VARCHAR), 1, 8))::BIGINT
                       % 2001) - 1000) / 1000.0 AS w
              FROM ex CROSS JOIN pl),
            d AS (SELECT vec_id, plane, round(sum(x * w), 9) AS d FROM w GROUP BY 1, 2),
            bk AS (
              SELECT vec_id,
                     CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << plane) ELSE 0 END) AS BIGINT)
                       AS bucket
              FROM d GROUP BY vec_id),
            n AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                     sqrt(list_reduce(list_transform(
                       list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x),
                       (a, c) -> a + c)) AS nrm
              FROM embeddings),
            t AS (SELECT n.vec_id, v, nrm, bucket FROM n JOIN bk USING (vec_id)),
            pairs AS (
              SELECT a.vec_id AS id1, b.vec_id AS id2,
                     round(list_reduce(list_transform(list_zip(a.v, b.v),
                                                      p -> p[1] * p[2]),
                                       (x, y) -> x + y) / (a.nrm * b.nrm), 4) AS sim
              FROM t a JOIN t b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
            SELECT id1, id2, sim FROM pairs WHERE sim >= {NEARDUP_THRESHOLD}
        """,
        # banded: band b = planes [b*P, (b+1)*P) of the same md5 family,
        # bit j of band b's bucket = plane b*P+j; candidate iff co-bucketed
        # in ANY band, then exact-cosine verified (DISTINCT dedups pairs
        # caught by several bands — sims are identical, same arithmetic)
        "q_dedup_embed_banded": f"""
            WITH ex AS (
              SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                     CAST(unnest(embedding) AS DOUBLE) AS x
              FROM embeddings),
            pl AS (SELECT unnest(generate_series(
                     0, {NEARDUP_BANDS * NEARDUP_BAND_PLANES - 1})) AS plane),
            w AS (
              SELECT vec_id, plane, dim, x,
                     ((('0x' || substr(md5(plane::VARCHAR || '_' || dim::VARCHAR), 1, 8))::BIGINT
                       % 2001) - 1000) / 1000.0 AS w
              FROM ex CROSS JOIN pl),
            d AS (SELECT vec_id, plane, round(sum(x * w), 9) AS d FROM w GROUP BY 1, 2),
            bk AS (
              SELECT vec_id, plane // {NEARDUP_BAND_PLANES} AS band,
                     CAST(sum(CASE WHEN d > 0
                              THEN (1::BIGINT << (plane % {NEARDUP_BAND_PLANES}))
                              ELSE 0 END) AS BIGINT) AS bucket
              FROM d GROUP BY 1, 2),
            n AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                     sqrt(list_reduce(list_transform(
                       list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x),
                       (a, c) -> a + c)) AS nrm
              FROM embeddings),
            t AS (SELECT n.vec_id, v, nrm, band, bucket FROM n JOIN bk USING (vec_id)),
            pairs AS (
              SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
                     round(list_reduce(list_transform(list_zip(a.v, b.v),
                                                      p -> p[1] * p[2]),
                                       (x, y) -> x + y) / (a.nrm * b.nrm), 4) AS sim
              FROM t a JOIN t b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id)
            SELECT id1, id2, sim FROM pairs WHERE sim >= {NEARDUP_THRESHOLD}
        """,
        # incremental == full recompute over (corpus ∪ batch) restricted
        # to pairs touching the batch — the strongest possible oracle for
        # an incremental operator (same contract as q_span_incremental)
        "q_dedup_embed_incremental": f"""
            WITH uni AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + {NEARDUP_INC_OFFSET} AS vec_id, embedding
              FROM embeddings WHERE vec_id % {NEARDUP_INC_MOD} = 0),
            ex AS (
              SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                     CAST(unnest(embedding) AS DOUBLE) AS x
              FROM uni),
            pl AS (SELECT unnest(generate_series(0, {NEARDUP_PLANES - 1})) AS plane),
            w AS (
              SELECT vec_id, plane, dim, x,
                     ((('0x' || substr(md5(plane::VARCHAR || '_' || dim::VARCHAR), 1, 8))::BIGINT
                       % 2001) - 1000) / 1000.0 AS w
              FROM ex CROSS JOIN pl),
            d AS (SELECT vec_id, plane, round(sum(x * w), 9) AS d FROM w GROUP BY 1, 2),
            bk AS (
              SELECT vec_id,
                     CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << plane) ELSE 0 END) AS BIGINT)
                       AS bucket
              FROM d GROUP BY vec_id),
            n AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                     sqrt(list_reduce(list_transform(
                       list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x),
                       (a, c) -> a + c)) AS nrm
              FROM uni),
            t AS (SELECT n.vec_id, v, nrm, bucket FROM n JOIN bk USING (vec_id)),
            pairs AS (
              SELECT a.vec_id AS id1, b.vec_id AS id2,
                     round(list_reduce(list_transform(list_zip(a.v, b.v),
                                                      p -> p[1] * p[2]),
                                       (x, y) -> x + y) / (a.nrm * b.nrm), 4) AS sim
              FROM t a JOIN t b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
            SELECT id1, id2, sim FROM pairs
            WHERE sim >= {NEARDUP_THRESHOLD}
              AND (id1 >= {NEARDUP_INC_OFFSET} OR id2 >= {NEARDUP_INC_OFFSET})
        """,
        "q_datamine_asof": f"""
            -- mirror of the weekly-CSV fixture derivation + channel filters
            -- + backward as-of resample (DuckDB's native ASOF JOIN)
            WITH dedup AS (
              SELECT event_type, epoch_us(ts) // 1000000 AS t,
                     arg_max(value, epoch_us(ts)) AS v
              FROM events GROUP BY 1, 2),
            s AS (
              SELECT 'dm.' || (CASE event_type {dm_channel_case} END)::VARCHAR AS path,
                     t AS ts_sec,
                     CASE WHEN event_type = '{DM_OFFSET_CHANNEL}'
                          THEN least(greatest(v + 5.0, 10.0), 100.0)
                          ELSE v END AS value
              FROM dedup),
            g AS (SELECT unnest(generate_series({T0}, {T0 + 7 * DAY}, {DM_GRID_STEP}))
                    AS slot),
            p AS (SELECT DISTINCT path FROM s),
            pg AS (SELECT path, slot FROM p CROSS JOIN g)
            SELECT pg.path, pg.slot, round(s.value, 4) AS value
            FROM pg ASOF LEFT JOIN s
              ON pg.path = s.path AND s.ts_sec <= pg.slot
        """,
        "q_dm_timeline": f"""
            WITH dedup AS (
              SELECT event_type, epoch_us(ts) // 1000000 AS t
              FROM events GROUP BY 1, 2),
            stats AS (
              SELECT CASE event_type {dm_channel_case} END AS channel_id,
                     event_type AS name,
                     min(t) AS first_ts, max(t) AS max_ts
              FROM dedup GROUP BY 1, 2)
            SELECT channel_id, name, first_ts,
                   CASE WHEN max_ts <= first_ts THEN first_ts + 1
                        ELSE max_ts END AS last_ts
            FROM stats
        """,
        "q_render_api": f"""
            WITH cat AS (SELECT DISTINCT path FROM ({DP_USER}) dp),
            leaves AS (SELECT path FROM cat WHERE {render_api_cond}),
            s AS (
              SELECT * FROM ({_slots_sql(DP_USER, RENDER_API_STEP)}) t
              WHERE slot BETWEEN {ra_lo} AND {ra_hi}),
            g AS (SELECT unnest(generate_series({ra_lo}, {ra_hi},
                                               {RENDER_API_STEP})) AS slot),
            grid AS (SELECT path, slot FROM leaves CROSS JOIN g)
            SELECT grid.path, grid.slot,
                   round(coalesce(s.value, 0), 4) AS value
            FROM grid LEFT JOIN s ON grid.path = s.path AND grid.slot = s.slot
        """,
        "q_ann_ivf": _kmeans_ivf_oracle_sql(),
        "q_ann_ivf_probe2": _kmeans_ivf_oracle_sql(nprobe=ANN_IVF_NPROBE),
        "q_ann_ivfsq": _ivfsq_oracle_sql(),
        "q_ann_ivfpq": _ivfpq_oracle_sql(),
        "q_ann_ivfpq_probe2": _ivfpq_oracle_sql(nprobe=ANN_IVF_NPROBE),
        "q_ann_ivfpq_res": _ivfpq_oracle_sql(residual=True),
        "q_ann_recall": f"""
            WITH approx AS ({_ivfpq_oracle_sql()}),
            exact AS (
              WITH e AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm
                    FROM e),
              qq AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM n
                     WHERE vec_id < {N_ANN_QUERIES}),
              pairs AS (
                SELECT qq.query_id, n.vec_id,
                       round(list_dot_product(n.v, qq.qv)
                             / (n.norm * qq.qnorm), 4) AS sim
                FROM n CROSS JOIN qq WHERE n.vec_id <> qq.query_id)
              SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, vec_id) AS rank
                FROM pairs) WHERE rank <= {ANN_TOP_K}),
            hits AS (
              SELECT e.query_id, count(*) AS n_hits
              FROM exact e JOIN approx a
                ON e.query_id = a.query_id AND e.vec_id = a.vec_id
              GROUP BY e.query_id),
            base AS (SELECT query_id, count(*) AS k FROM exact GROUP BY query_id)
            SELECT b.query_id,
                   round(coalesce(h.n_hits, 0) * 1.0 / b.k, 4) AS recall
            FROM base b LEFT JOIN hits h USING (query_id)
        """,
        "q_cluster_topics": f"""
            {",".join(_kmeans_coarse_cte_sqls())},
            toks AS (
              SELECT t.cluster, d.doc_id,
                     unnest(string_split(d.text, ' ')) AS tok
              FROM documents d JOIN t ON d.doc_id = t.vec_id),
            counts AS (
              SELECT cluster, tok, count(*) AS c
              FROM toks GROUP BY cluster, tok),
            top AS (
              SELECT cluster, string_agg(tok, ',' ORDER BY rank) AS top_terms
              FROM (
                SELECT cluster, tok,
                       row_number() OVER (PARTITION BY cluster
                                          ORDER BY c DESC, tok) AS rank
                FROM counts) WHERE rank <= {CLUSTER_TOPIC_K}
              GROUP BY cluster),
            sizes AS (SELECT cluster, count(*) AS n_docs FROM t GROUP BY cluster)
            SELECT s.cluster, s.n_docs, coalesce(tp.top_terms, '') AS top_terms
            FROM sizes s LEFT JOIN top tp USING (cluster)
        """,
        "q_semdedup": _semdedup_oracle_sql(),
        "q_semdedup_incremental": _semdedup_incremental_oracle_sql(),
        "q_ann_ivfpq_rerank": _ivfpq_oracle_sql(rerank_shortlist=ANN_RERANK_SHORTLIST),
        "q_resize_plan": f"""
            WITH a AS (
              SELECT doc_id AS asset_id,
                     (n_chars % 640 + 16)::INT AS width,
                     (n_chars % 480 + 16)::INT AS height
              FROM documents),
            s AS (
              SELECT *, least(1.0, {RESIZE_MAX_SIDE}
                                   / greatest(width, height)::DOUBLE) AS scale
              FROM a)
            SELECT asset_id, width, height,
                   CAST(ceil(width * scale) AS INT) AS new_width,
                   CAST(ceil(height * scale) AS INT) AS new_height
            FROM s
        """,
        "q_sessionize": f"""
            -- gaps-and-islands mirror of session_window: Spark merges an
            -- event into a session iff its gap is STRICTLY below the limit,
            -- so a new session starts when diff >= gap
            WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS t, value
                       FROM events),
            o AS (
              SELECT user_id, t, value,
                     CASE WHEN lag(t) OVER w IS NULL
                               OR t - lag(t) OVER w >= {SESSION_GAP_SEC}
                          THEN 1 ELSE 0 END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
            s AS (
              SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM o)
            SELECT user_id, min(t) AS session_start, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM s GROUP BY user_id, sid
        """,
        "q_locf_chunked": f"""
            -- plain hold-policy LOCF: the chunked implementation must be
            -- indistinguishable from the single window
            WITH s AS ({_slots_sql(DP_TYPE, 21_600)}),
            p AS (SELECT DISTINCT path FROM s),
            g AS (SELECT unnest(generate_series({T0}, {MONTH_END}, 21600)) AS slot),
            dense AS (
              SELECT p.path, g.slot, s.value
              FROM p CROSS JOIN g
              LEFT JOIN s ON s.path = p.path AND s.slot = g.slot)
            SELECT path, slot,
                   round(last_value(value IGNORE NULLS) OVER (
                     PARTITION BY path ORDER BY slot
                     ROWS UNBOUNDED PRECEDING), 4) AS value
            FROM dense
        """,
        "q_dash_report": f"""
            WITH dp AS ({DP_USER}),
            stats AS (
              SELECT path, count(*) AS n_points,
                     min(ts_sec) AS first_ts, max(ts_sec) AS last_ts,
                     arg_max(value, ts_us) AS latest,
                     round(avg(value), 4) AS avg_value
              FROM dp GROUP BY path)
            SELECT path, n_points, first_ts, last_ts, latest, avg_value,
                   CASE WHEN regexp_matches(path, '\\.click') THEN '1m:1d,1h:30d'
                        WHEN regexp_matches(path, 'error') THEN '10s:6h,10m:7d'
                        ELSE '1h:7d' END AS retentions,
                   CASE WHEN regexp_matches(path, '\\.(click|view)') THEN 0.1
                        WHEN regexp_matches(path, 'error') THEN 0.0
                        ELSE 0.5 END AS xff,
                   CASE WHEN regexp_matches(path, '\\.(click|view)') THEN 'sum'
                        WHEN regexp_matches(path, 'error') THEN 'max'
                        WHEN regexp_matches(path, 'purchase') THEN 'last'
                        ELSE 'average' END AS method
            FROM stats
        """,
        "q_corpus_clean": f"""
            WITH prof AS ({_text_profile_oracle_sql()}),
            dups AS ({_minhash_oracle_sql()})
            SELECT doc_id, n_tokens, quality, pred_lang
            FROM prof
            WHERE quality >= {CORPUS_QUALITY_MIN}
              AND doc_id NOT IN (SELECT DISTINCT id2 FROM dups)
        """,
        "q_sample_stratified": f"""
            WITH b AS (
              SELECT doc_id, lang, source,
                     ('0x' || substr(md5('strat' || doc_id::VARCHAR), 1, 8))::BIGINT
                       % 100 AS bucket
              FROM documents)
            SELECT doc_id, lang, source, bucket
            FROM b
            WHERE bucket < CASE lang {sample_rate_case} ELSE 0 END
        """,
        "q_sample_temperature": f"""
            WITH c AS MATERIALIZED (
              SELECT lang, count(*)::DOUBLE AS c FROM documents GROUP BY 1),
            z AS (SELECT sum(pow(c, {TEMP_ALPHA})) AS z FROM c),
            r AS MATERIALIZED (
              SELECT lang,
                     CAST(round(least(
                       1.0, {TEMP_TARGET} * pow(c.c, {TEMP_ALPHA}) / z.z / c.c
                     ) * 1000000) AS BIGINT) AS thr
              FROM c CROSS JOIN z)
            SELECT d.doc_id, d.lang, d.source, r.thr,
                   ('0x' || substr(md5('temp' || d.doc_id::VARCHAR), 1, 8))::BIGINT
                     % 1000000 AS bucket
            FROM documents d JOIN r USING (lang)
            WHERE ('0x' || substr(md5('temp' || d.doc_id::VARCHAR), 1, 8))::BIGINT
                    % 1000000 < r.thr
        """,
        "q_sample_uniform_k": f"""
            SELECT doc_id, lang, source, rk FROM (
              SELECT doc_id, lang, source,
                     row_number() OVER (
                       PARTITION BY lang, source
                       ORDER BY ('0x' || substr(md5('unif' || doc_id::VARCHAR), 1, 8))::BIGINT,
                                doc_id) AS rk
              FROM documents) r
            WHERE rk <= {UNIFORM_K}
        """,
        "q_token_budget": f"""
            WITH t AS (
              SELECT doc_id, lang,
                     len(string_split(text, ' '))::BIGINT AS n_tokens,
                     ('0x' || substr(md5('budget' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
              FROM documents),
            c AS (
              SELECT doc_id, lang, n_tokens,
                     (sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
                                          ROWS UNBOUNDED PRECEDING)
                      - n_tokens)::BIGINT AS "offset"
              FROM t)
            SELECT doc_id, lang, n_tokens, "offset"
            FROM c WHERE "offset" < {TOKEN_BUDGET}
        """,
        "q_quota_topk": f"""
            SELECT doc_id, lang, source, n_chars, rk FROM (
              SELECT doc_id, lang, source, n_chars,
                     row_number() OVER (PARTITION BY lang, source
                                        ORDER BY n_chars DESC, doc_id) AS rk
              FROM documents) r
            WHERE rk <= {QUOTA_K}
        """,
        "q_repetition_filter": f"""
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
            cnt AS (SELECT doc_id, tok, count(*) AS n FROM tok GROUP BY 1, 2),
            r AS (
              SELECT doc_id, tok, n,
                     (sum(n) OVER (PARTITION BY doc_id))::BIGINT AS n_tokens,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY n DESC, tok) AS rk
              FROM cnt)
            SELECT doc_id, n_tokens, tok AS top_tok, n AS top_n,
                   round(n * 1.0 / n_tokens, 4) AS rep_ratio
            FROM r
            WHERE rk = 1 AND round(n * 1.0 / n_tokens, 4) >= {REP_THRESHOLD}
        """,
        "q_token_histogram": """
            SELECT lang,
                   (len(string_split(text, ' ')) // 10 * 10)::BIGINT AS bucket,
                   count(*) AS n_docs
            FROM documents GROUP BY 1, 2
        """,
        "q_sliding_rate": f"""
            WITH e AS (
              SELECT epoch_us(ts) // 1000000 AS ts_sec, event_type, value
              FROM events),
            w AS (
              SELECT unnest([ts_sec - ts_sec % {SLIDE_STEP} - {SLIDE_STEP} * g
                             FOR g IN generate_series(0, {n_slides})]) AS win_start,
                     event_type, value
              FROM e)
            SELECT win_start, event_type, count(*) AS n,
                   round(avg(value), 4) AS avg_value
            FROM w GROUP BY 1, 2
        """,
        "q_shard_manifest": f"""
            WITH d AS (
              SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                     least(len(string_split(text, ' '))
                             // {SHARD_STRATUM_WIDTH}, 4096) AS stratum
              FROM documents),
            ranked AS (
              SELECT doc_id, n_tokens, stratum,
                     row_number() OVER (PARTITION BY stratum
                                        ORDER BY n_tokens DESC, doc_id) - 1
                       AS rn
              FROM d),
            offs AS (
              SELECT stratum,
                     coalesce(sum(cnt) OVER (ORDER BY stratum DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS off
              FROM (SELECT stratum, count(*) AS cnt FROM d GROUP BY stratum)),
            assigned AS (
              SELECT r.doc_id, r.n_tokens,
                     ((o.off + r.rn) % {SHARD_N})::INT AS shard
              FROM ranked r JOIN offs o USING (stratum))
            SELECT shard, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
            FROM assigned GROUP BY shard
        """,
        "q_shard_balance": f"""
            WITH d AS (
              SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                     least(len(string_split(text, ' '))
                             // {SHARD_STRATUM_WIDTH}, 4096) AS stratum
              FROM documents),
            ranked AS (
              SELECT doc_id, n_tokens, stratum,
                     row_number() OVER (PARTITION BY stratum
                                        ORDER BY n_tokens DESC, doc_id) - 1
                       AS rn
              FROM d),
            offs AS (
              SELECT stratum,
                     coalesce(sum(cnt) OVER (ORDER BY stratum DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS off
              FROM (SELECT stratum, count(*) AS cnt FROM d GROUP BY stratum))
            SELECT r.doc_id, r.n_tokens, r.stratum,
                   ((o.off + r.rn) % {SHARD_N})::INT AS shard
            FROM ranked r JOIN offs o USING (stratum)
        """,
        "q_tpch_q7": f"""
            WITH li AS (
              SELECT l_orderkey, l_suppkey,
                     CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(18,6)) AS volume,
                     year(l_shipdate)::BIGINT AS l_year
              FROM lineitem
              WHERE epoch_us(l_shipdate) // 1000000 >= {TPCH_Q7_START}
                AND epoch_us(l_shipdate) // 1000000 < {TPCH_Q7_END}),
            s AS (SELECT s_suppkey, n_name AS supp_nation
                  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                  WHERE n_name IN ('{TPCH_Q7_N1}', '{TPCH_Q7_N2}')),
            c AS (SELECT c_custkey, n_name AS cust_nation
                  FROM customer JOIN nation ON c_nationkey = n_nationkey
                  WHERE n_name IN ('{TPCH_Q7_N1}', '{TPCH_Q7_N2}')),
            j AS (
              SELECT supp_nation, cust_nation, l_year, volume
              FROM li JOIN s ON li.l_suppkey = s.s_suppkey
                      JOIN orders o ON li.l_orderkey = o.o_orderkey
                      JOIN c ON o.o_custkey = c.c_custkey
              WHERE supp_nation <> cust_nation)
            SELECT supp_nation, cust_nation, l_year,
                   round(CAST(sum(volume) AS DOUBLE), 2) AS revenue
            FROM j GROUP BY 1, 2, 3
        """,
        "q_tpch_q8": f"""
            WITH nr AS (
              SELECT n_nationkey FROM nation
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = '{TPCH_Q8_REGION}'),
            pt AS (SELECT p_partkey FROM part
                   WHERE p_type = '{TPCH_Q8_TYPE}'),
            s AS (SELECT s_suppkey, n_name AS supp_nation
                  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
            o AS (SELECT o_orderkey, o_custkey,
                         year(o_orderdate)::BIGINT AS o_year
                  FROM orders
                  WHERE epoch_us(o_orderdate) // 1000000 >= {TPCH_Q8_START}
                    AND epoch_us(o_orderdate) // 1000000 < {TPCH_Q8_END}),
            j AS (
              SELECT o.o_year,
                     CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(18,6)) AS volume,
                     s.supp_nation
              FROM lineitem l
              JOIN pt ON l.l_partkey = pt.p_partkey
              JOIN s ON l.l_suppkey = s.s_suppkey
              JOIN o ON l.l_orderkey = o.o_orderkey
              WHERE o.o_custkey IN (
                SELECT c_custkey FROM customer
                WHERE c_nationkey IN (SELECT n_nationkey FROM nr)))
            SELECT o_year,
                   round(CAST(sum(CASE WHEN supp_nation = '{TPCH_Q8_NATION}'
                                       THEN volume
                                       ELSE CAST(0 AS DECIMAL(18,6)) END)
                              AS DOUBLE)
                         / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
            FROM j GROUP BY 1
        """,
        "q_tpch_q15": f"""
            WITH rev AS (
              SELECT l_suppkey AS supplier_no,
                     sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,6))) AS total_rev
              FROM lineitem
              WHERE epoch_us(l_shipdate) // 1000000 >= {TPCH_Q15_START}
                AND epoch_us(l_shipdate) // 1000000 < {TPCH_Q15_END}
              GROUP BY 1),
            mx AS (SELECT max(total_rev) AS m FROM rev)
            SELECT CAST(supplier_no AS BIGINT) AS s_suppkey, s_name,
                   round(CAST(total_rev AS DOUBLE), 2) AS total_revenue
            FROM rev JOIN mx ON total_rev = m
            JOIN supplier ON supplier_no = s_suppkey
        """,
        "q_tpch_q13": """
            WITH pc AS (
              SELECT o_custkey, count(*) AS c_count
              FROM orders GROUP BY 1)
            SELECT CAST(coalesce(pc.c_count, 0) AS BIGINT) AS c_count,
                   count(*)::BIGINT AS custdist
            FROM customer c LEFT JOIN pc ON c.c_custkey = pc.o_custkey
            GROUP BY 1
        """,
        "q_tpch_q17": f"""
            WITH pt AS (
              SELECT p_partkey FROM part
              WHERE p_brand = '{TPCH_Q17_BRAND}'
                AND p_size <= {TPCH_Q17_MAX_SIZE}),
            li AS (SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
                   FROM lineitem l JOIN pt ON l.l_partkey = pt.p_partkey),
            a AS (SELECT l_partkey, avg(l_quantity) * 0.2 AS qty_cut
                  FROM li GROUP BY 1)
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                              AS DOUBLE) / 7.0, 4) AS avg_yearly
            FROM li JOIN a USING (l_partkey)
            WHERE l_quantity < qty_cut
        """,
        "q_tpch_q2": f"""
            WITH pt AS (
              SELECT p_partkey, p_brand FROM part
              WHERE p_type = '{TPCH_Q2_TYPE}'
                AND p_size <= {TPCH_Q2_MAX_SIZE}),
            rs AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = '{TPCH_Q2_REGION}'),
            ps AS (
              SELECT l_partkey, l_suppkey,
                     min(l_extendedprice / l_quantity) AS cost
              FROM lineitem
              JOIN pt ON l_partkey = pt.p_partkey
              JOIN rs ON l_suppkey = rs.s_suppkey
              GROUP BY 1, 2),
            mc AS (SELECT l_partkey, min(cost) AS min_cost
                   FROM ps GROUP BY 1)
            SELECT s_acctbal, s_name, n_name,
                   CAST(ps.l_partkey AS BIGINT) AS p_partkey, p_brand,
                   round(cost, 4) AS supplycost
            FROM ps
            JOIN mc ON ps.l_partkey = mc.l_partkey AND cost = min_cost
            JOIN rs ON ps.l_suppkey = rs.s_suppkey
            JOIN pt ON ps.l_partkey = pt.p_partkey
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
            LIMIT {TPCH_Q2_TOP}
        """,
        "q_tpch_q9": f"""
            WITH pt AS (
              SELECT p_partkey FROM part
              WHERE p_name LIKE '%{TPCH_Q9_NOUN}%'),
            li AS (
              SELECT l.* FROM lineitem l JOIN pt ON l_partkey = p_partkey),
            ps AS (
              SELECT l_partkey, l_suppkey,
                     min(l_extendedprice / l_quantity) AS cost
              FROM li GROUP BY 1, 2),
            sn AS (
              SELECT s_suppkey, n_name FROM supplier
              JOIN nation ON s_nationkey = n_nationkey)
            SELECT n_name,
                   CAST(year(l_shipdate) AS BIGINT) AS o_year,
                   round(CAST(sum(CAST(
                     l_extendedprice * (1 - l_discount) - cost * l_quantity
                     AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_profit
            FROM li
            JOIN ps USING (l_partkey, l_suppkey)
            JOIN sn ON li.l_suppkey = sn.s_suppkey
            GROUP BY 1, 2
            ORDER BY n_name, o_year DESC
        """,
        "q_tpch_q11": f"""
            WITH sn AS (
              SELECT s_suppkey FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name = '{TPCH_Q11_NATION}'),
            li AS (
              SELECT l_partkey, l_suppkey, l_extendedprice, l_quantity
              FROM lineitem JOIN sn ON l_suppkey = s_suppkey),
            ps AS (
              SELECT l_partkey, l_suppkey,
                     min(l_extendedprice / l_quantity) AS cost,
                     sum(l_quantity) AS qty
              FROM li GROUP BY 1, 2),
            pv AS (
              SELECT l_partkey,
                     sum(CAST(cost * qty AS DECIMAL(18,6))) AS value
              FROM ps GROUP BY 1),
            tot AS (SELECT sum(value) AS tot FROM pv)
            SELECT CAST(l_partkey AS BIGINT) AS p_partkey,
                   round(CAST(value AS DOUBLE), 4) AS value
            FROM pv, tot
            WHERE value > {TPCH_Q11_FRAC} * tot
            ORDER BY value DESC, p_partkey
        """,
        "q_tpch_q16": f"""
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> '{TPCH_Q16_EXCL_BRAND}'
              AND p_type <> '{TPCH_Q16_EXCL_TYPE}'
              AND p_size IN {TPCH_Q16_SIZES!r}
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
            LIMIT {TPCH_Q16_TOP}
        """,
        "q_tpch_q20": f"""
            WITH pt AS (
              SELECT p_partkey FROM part
              WHERE p_name LIKE '{TPCH_Q20_PREFIX}%'),
            a AS (
              SELECT l_partkey, l_suppkey, sum(l_quantity) AS avail
              FROM lineitem JOIN pt ON l_partkey = pt.p_partkey
              WHERE epoch_us(l_shipdate) // 1000000 < {TPCH_Q20_START}
              GROUP BY 1, 2),
            d AS (
              SELECT l_partkey, l_suppkey, sum(l_quantity) AS need
              FROM lineitem JOIN pt ON l_partkey = pt.p_partkey
              WHERE epoch_us(l_shipdate) // 1000000 >= {TPCH_Q20_START}
                AND epoch_us(l_shipdate) // 1000000 < {TPCH_Q20_END}
              GROUP BY 1, 2),
            x AS (
              SELECT DISTINCT a.l_suppkey AS s_suppkey
              FROM a JOIN d USING (l_partkey, l_suppkey)
              WHERE avail > 0.5 * need)
            SELECT s_name, n_name, s_acctbal
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            JOIN x ON supplier.s_suppkey = x.s_suppkey
            WHERE r_name = '{TPCH_Q20_REGION}'
            ORDER BY s_name
        """,
        "q_tpch_q19": f"""
            SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(18,6))) AS DOUBLE), 4)
                     AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE {" OR ".join(
                f"(p_brand = '{b}' AND p_size <= {ms} "
                f"AND l_quantity BETWEEN {ql} AND {qh})"
                for b, ms, ql, qh in TPCH_Q19_ARMS)}
        """,
        "q_tpch_q22": f"""
            WITH cust AS (
              SELECT c_custkey, c_acctbal, n_name
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              WHERE n_name IN {TPCH_Q22_NATIONS!r}),
            ab AS (SELECT avg(c_acctbal) AS avg_bal FROM cust
                   WHERE c_acctbal > 0.0)
            SELECT n_name, count(*)::BIGINT AS numcust,
                   round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)))
                              AS DOUBLE), 4) AS totacctbal
            FROM cust, ab
            WHERE c_acctbal > avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND epoch_us(o_orderdate) // 1000000
                                      >= {TPCH_Q22_SINCE})
            GROUP BY 1
        """,
        "q_tpch_q4": f"""
            WITH lid AS ({_LID_SQL})
            SELECT o_orderpriority, count(*)::BIGINT AS order_count
            FROM orders
            WHERE epoch_us(o_orderdate) // 1000000 >= {TPCH_Q4_START}
              AND epoch_us(o_orderdate) // 1000000 < {TPCH_Q4_END}
              AND EXISTS (SELECT 1 FROM lid
                          WHERE l_orderkey = o_orderkey
                            AND commit_day < receipt_day)
            GROUP BY 1 ORDER BY 1
        """,
        "q_tpch_q12": f"""
            WITH lid AS ({_LID_SQL})
            SELECT l_shipmode,
                   sum(CASE WHEN o_orderpriority IN {TPCH_Q12_HIGH!r}
                            THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
                   sum(CASE WHEN o_orderpriority IN {TPCH_Q12_HIGH!r}
                            THEN 0 ELSE 1 END)::BIGINT AS low_line_count
            FROM lid JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipmode IN {TPCH_Q12_MODES!r}
              AND commit_day < receipt_day
              AND ship_day < commit_day
              AND receipt_day >= {TPCH_Q12_START_DAY}
              AND receipt_day < {TPCH_Q12_END_DAY}
            GROUP BY 1 ORDER BY 1
        """,
        "q_tpch_q21": f"""
            WITH lid AS ({_LID_SQL})
            SELECT s_name, count(*)::BIGINT AS numwait
            FROM lid l1
            JOIN orders ON o_orderkey = l1.l_orderkey
            JOIN supplier ON s_suppkey = l1.l_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE o_orderstatus = 'F'
              AND n_name = '{TPCH_Q21_NATION}'
              AND l1.receipt_day > l1.commit_day
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lid l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.receipt_day > l3.commit_day)
            GROUP BY 1
            ORDER BY numwait DESC, s_name
            LIMIT {TPCH_Q21_TOP}
        """,
        "q_pack_ids": f"""
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            v AS (
              SELECT tok, rk FROM (
                SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rk
                FROM tok GROUP BY tok)
              WHERE rk <= {VOCAB_V}),
            p AS (
              SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos,
                     unnest(t) AS tok
              FROM (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents)),
            ids AS (
              SELECT p.doc_id, p.pos, coalesce(v.rk, 0)::BIGINT AS tid
              FROM p LEFT JOIN v USING (tok)),
            staged AS (
              SELECT doc_id, lang,
                     ('0x' || substr(md5('pack' || doc_id::VARCHAR), 1, 8))::BIGINT
                       % {PACK_SHARDS} AS shard,
                     len(string_split(text, ' '))::BIGINT AS n_tokens
              FROM documents),
            m AS (
              SELECT doc_id, lang, shard,
                     (sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING)
                      - n_tokens)::BIGINT AS "offset"
              FROM staged),
            t AS (
              SELECT m.lang, m.shard,
                     (m."offset" + i.pos) // {PACK_CAPACITY} AS chunk,
                     m."offset" + i.pos AS goff, i.tid
              FROM ids i JOIN m USING (doc_id))
            SELECT lang, shard, chunk, count(*)::BIGINT AS n_ids,
                   array_to_string(list(tid ORDER BY goff), ',') AS ids
            FROM t GROUP BY 1, 2, 3
        """,
        "q_index_summary": f"""
            WITH {_winnow_fps_cte("documents", "a")},
            st AS (SELECT DISTINCT h FROM afps WHERE doc_id % 5 <> 0),
            bt AS (SELECT DISTINCT h FROM afps WHERE doc_id % 5 = 0),
            spos AS (
              SELECT (h % {SUMQ_BUCKETS})::INTEGER AS hb,
                     i * {SUMQ_M_P}
                       + ('0x' || substr(md5(h::VARCHAR || ':' ||
                            (i // 2)::VARCHAR),
                            1 + 15 * (i % 2), 15))::BIGINT
                         % {SUMQ_M_P} AS p
              FROM st CROSS JOIN
                unnest(generate_series(0, {SUMQ_PLANES - 1})) AS u(i)),
            words AS (
              SELECT hb, p // 63 AS word,
                     bit_or(1::BIGINT << (p % 63)::INTEGER) AS bits
              FROM spos GROUP BY 1, 2),
            pw AS (
              SELECT hb, count(*)::BIGINT AS n_words,
                     sum(bit_count(bits))::BIGINT AS set_bits
              FROM words GROUP BY 1),
            bpos AS (
              SELECT h, (h % {SUMQ_BUCKETS})::INTEGER AS hb,
                     i * {SUMQ_M_P}
                       + ('0x' || substr(md5(h::VARCHAR || ':' ||
                            (i // 2)::VARCHAR),
                            1 + 15 * (i % 2), 15))::BIGINT
                         % {SUMQ_M_P} AS p
              FROM bt CROSS JOIN
                unnest(generate_series(0, {SUMQ_PLANES - 1})) AS u(i)),
            hits AS (
              SELECT b.hb, b.h, count(*) AS k
              FROM (SELECT h, hb, p // 63 AS word,
                           1::BIGINT << (p % 63)::INTEGER AS bit
                    FROM bpos) b
              JOIN words w ON b.hb = w.hb AND b.word = w.word
              WHERE (w.bits & b.bit) <> 0
              GROUP BY 1, 2),
            nm AS (SELECT hb, count(*)::BIGINT AS n_might
                   FROM hits WHERE k = {SUMQ_PLANES} GROUP BY 1),
            np AS (SELECT (h % {SUMQ_BUCKETS})::INTEGER AS hb,
                          count(*)::BIGINT AS n_probe
                   FROM bt GROUP BY 1)
            SELECT pw.hb, n_words, set_bits,
                   coalesce(n_probe, 0)::BIGINT AS n_probe,
                   coalesce(n_might, 0)::BIGINT AS n_might
            FROM pw LEFT JOIN np USING (hb) LEFT JOIN nm USING (hb)
            ORDER BY pw.hb
        """,
        "q_chunk_shuffle": f"""
            WITH staged AS (
              SELECT lang,
                     CAST(('0x' || substr(md5('pack' ||
                            CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                          % {PACK_SHARDS} AS BIGINT) AS shard,
                     len(string_split(text, ' '))::BIGINT AS n_tokens
              FROM documents),
            tot AS (SELECT lang, shard, sum(n_tokens) AS tot
                    FROM staged GROUP BY 1, 2),
            grid AS (
              SELECT lang, shard,
                     unnest(generate_series(
                       0::BIGINT,
                       ((tot + {PACK_CAPACITY - 1}) // {PACK_CAPACITY}
                        - 1)::BIGINT
                     ))::BIGINT AS chunk
              FROM tot),
            k AS (
              SELECT lang, shard, chunk,
                     ('0x' || substr(md5('{SHUF_SEED}:' || lang || ':' ||
                        shard::VARCHAR || ':' || chunk::VARCHAR), 1, 8)
                     )::BIGINT AS skey
              FROM grid)
            SELECT lang, shard, chunk,
                   CAST(skey % {SHUF_OUT_SHARDS} AS INT) AS out_shard,
                   CAST(row_number() OVER (
                     PARTITION BY skey % {SHUF_OUT_SHARDS}
                     ORDER BY skey, lang, shard, chunk) - 1
                   AS BIGINT) AS pos
            FROM k
        """,
        "q_pack_sequences": f"""
            WITH staged AS (
              SELECT doc_id, lang,
                     ('0x' || substr(md5('pack' || doc_id::VARCHAR), 1, 8))::BIGINT
                       % {PACK_SHARDS} AS shard,
                     len(string_split(text, ' '))::BIGINT AS n_tokens
              FROM documents),
            p AS (
              SELECT doc_id, lang, shard, n_tokens,
                     (sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING)
                      - n_tokens)::BIGINT AS "offset"
              FROM staged)
            SELECT doc_id, lang, shard, n_tokens, "offset",
                   "offset" // {PACK_CAPACITY} AS first_chunk,
                   (("offset" + n_tokens - 1) // {PACK_CAPACITY})
                     - ("offset" // {PACK_CAPACITY}) + 1 AS n_chunks
            FROM p
        """,
        "q_top_ngrams": f"""
            WITH toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
            g AS (
              SELECT lang, unnest([array_to_string(t[i:i+2], ' ')
                                   FOR i IN generate_series(1, len(t) - 2)]) AS ngram
              FROM toks WHERE len(t) >= 3),
            cnt AS (SELECT lang, ngram, count(*) AS n FROM g GROUP BY 1, 2),
            r AS (SELECT lang, ngram, n,
                         row_number() OVER (PARTITION BY lang
                                            ORDER BY n DESC, ngram) AS rk
                  FROM cnt)
            SELECT lang, ngram, n, rk FROM r WHERE rk <= {NGRAM_TOP_K}
        """,
        "q_adaptive_quality": f"""
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            total AS (SELECT count(*) AS n FROM toks),
            lp AS (
              SELECT tok, log10(count(*) * 1.0 / (SELECT n FROM total)) AS logp
              FROM toks GROUP BY tok),
            scored AS (
              SELECT t.doc_id, count(*) AS n_tokens,
                     round(avg(lp.logp), 6) AS avg_logprob
              FROM toks t JOIN lp USING (tok)
              GROUP BY t.doc_id),
            sl AS (
              SELECT s.doc_id, d.lang, s.n_tokens, s.avg_logprob
              FROM scored s JOIN documents d USING (doc_id)),
            thr AS (
              SELECT lang,
                     round(quantile_cont(avg_logprob,
                                         {ADAPTIVE_QUALITY_PCT}), 6)
                       AS lang_p10
              FROM sl GROUP BY lang)
            SELECT sl.doc_id, sl.lang, sl.avg_logprob, thr.lang_p10,
                   sl.avg_logprob >= thr.lang_p10 AS keep
            FROM sl JOIN thr USING (lang)
        """,
        "q_quantile_profile": """
            SELECT lang, count(*) AS n_docs,
                   count(DISTINCT source) AS n_sources,
                   round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
                   round(quantile_cont(n_chars, 0.9), 4) AS p90_chars
            FROM documents GROUP BY lang
        """,
        "q_daily_active": """
            SELECT ts_sec - ts_sec % 86400 AS day_sec,
                   count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM (SELECT epoch_us(ts) // 1000000 AS ts_sec, user_id FROM events) e
            GROUP BY 1
        """,
        # the approx entries' oracles recompute the EXACT reference
        # columns and assert the sketch-error band columns TRUE — the
        # sketches themselves are engine-specific, but their advertised
        # error bound is the Spark side's emitted verdict, so an
        # out-of-band estimate hash-mismatches here (r14 verdict #5)
        "q_quantile_profile_approx": """
            SELECT lang, count(*) AS n_docs,
                   count(DISTINCT source) AS n_sources,
                   TRUE AS sources_in_band,
                   TRUE AS p50_in_band,
                   TRUE AS p90_in_band
            FROM documents GROUP BY lang
        """,
        "q_daily_active_approx": """
            SELECT ts_sec - ts_sec % 86400 AS day_sec,
                   count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events,
                   TRUE AS users_in_band
            FROM (SELECT epoch_us(ts) // 1000000 AS ts_sec, user_id FROM events) e
            GROUP BY 1
        """,
        "q_dedup_report": f"""
            WITH RECURSIVE
            dups AS ({_minhash_oracle_sql()}),
            edges AS (SELECT id1 AS src, id2 AS dst FROM dups
                      UNION SELECT id2, id1 FROM dups),
            reach(node, r) AS (
              SELECT DISTINCT src, src FROM edges
              UNION
              SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst),
            comp AS (SELECT node AS doc_id, min(r) AS cluster_id
                     FROM reach GROUP BY node),
            flags AS (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY md5(text)
                                        ORDER BY doc_id) > 1 AS exact_removed
              FROM documents)
            SELECT f.source, count(*) AS n_docs,
                   CAST(sum(f.exact_removed::INT) AS BIGINT) AS exact_removed,
                   CAST(sum(CASE WHEN c.cluster_id IS NOT NULL
                             AND c.cluster_id != f.doc_id
                            THEN 1 ELSE 0 END) AS BIGINT) AS near_removed,
                   round(sum(CASE WHEN c.cluster_id IS NOT NULL
                                   AND c.cluster_id != f.doc_id
                                  THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
                     AS neardup_rate
            FROM flags f LEFT JOIN comp c USING (doc_id)
            GROUP BY f.source
        """,
        "q_fuzzy_contamination": _fuzzy_contam_oracle_sql(),
        "q_contamination": f"""
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            ev AS (
              SELECT DISTINCT
                     unnest([array_to_string(t[i:i+{CONTAM_SHINGLE_N - 1}], ' ')
                             FOR i IN generate_series(1, len(t) - {CONTAM_SHINGLE_N - 1})])
                       AS shingle
              FROM toks
              WHERE doc_id % {CONTAM_EVAL_MOD} = 0 AND len(t) >= {CONTAM_SHINGLE_N}),
            corpus AS (
              SELECT doc_id,
                     unnest(list_distinct(
                       [array_to_string(t[i:i+{CONTAM_SHINGLE_N - 1}], ' ')
                        FOR i IN generate_series(1, len(t) - {CONTAM_SHINGLE_N - 1})]))
                       AS shingle
              FROM toks
              WHERE doc_id % {CONTAM_EVAL_MOD} != 0 AND len(t) >= {CONTAM_SHINGLE_N}),
            j AS (
              SELECT c.doc_id, CASE WHEN e.shingle IS NULL THEN NULL ELSE 1 END AS hit
              FROM corpus c LEFT JOIN ev e ON c.shingle = e.shingle)
            SELECT doc_id, count(*) AS n_shingles,
                   coalesce(sum(hit), 0)::BIGINT AS n_hits,
                   round(coalesce(sum(hit), 0) * 1.0 / count(*), 4) AS contamination
            FROM j GROUP BY doc_id
        """,
    }


def _simhash_oracle_sql(bits: int = 32) -> str:
    """DuckDB mirror of functions.dedup.simhash_fingerprint
    (token-multiplicity ±1 bit votes over md5-prefix hashes)."""
    return f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        hs AS (
          SELECT doc_id, ('0x' || substr(md5(tok), 1, {bits // 4}))::BIGINT AS h
          FROM tok),
        bits AS (
          SELECT doc_id, j,
                 sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM hs CROSS JOIN (SELECT unnest(generate_series(0, {bits - 1})) AS j) js
          GROUP BY doc_id, j)
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
                 AS simhash
        FROM bits GROUP BY doc_id
    """


def _pred_lang_expr_sql() -> str:
    """The DuckDB replay of functions.text.predict_lang: struct argmax
    over the stopword-profile hit ratios (shared by the text-profile and
    lang-confusion oracles); expects a token list column ``t``."""
    from datayours_spark.functions.text import LANG_PROFILES

    profile_structs = ", ".join(
        "{{'s': len(list_filter(t, w -> w IN ({words}))) * 1.0 / greatest(len(t), 1), "
        "'lang': '{lang}'}}".format(
            words=", ".join(f"'{w}'" for w in LANG_PROFILES[lang]), lang=lang
        )
        for lang in sorted(LANG_PROFILES)
    )
    return f"list_aggregate([{profile_structs}], 'max').lang"


def _text_profile_oracle_sql() -> str:
    """DuckDB mirror of functions.text.text_profile."""
    from datayours_spark.functions.text import (
        BPE_TOKEN_REGEX,
        FINGERPRINT_MOD,
        LANG_PROFILES,
    )

    profile_structs = ", ".join(
        "{{'s': len(list_filter(t, w -> w IN ({words}))) * 1.0 / greatest(len(t), 1), "
        "'lang': '{lang}'}}".format(
            words=", ".join(f"'{w}'" for w in LANG_PROFILES[lang]), lang=lang
        )
        for lang in sorted(LANG_PROFILES)
    )
    # DuckDB single-quoted strings are raw (no backslash escapes) — embed as-is
    bpe_regex = BPE_TOKEN_REGEX.replace("'", "''")
    return f"""
        WITH base AS (
          SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        q AS (
          SELECT doc_id, t,
                 len(t) AS n_tokens,
                 len(regexp_extract_all(text, '{bpe_regex}')) AS n_bpe_tokens,
                 CASE WHEN len(t) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END
                   - 0.5 * (len(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
                            / greatest(length(text), 1))
                   - 0.3 * (len(list_filter(t, w -> length(w) <= 2)) * 1.0
                            / greatest(len(t), 1)) AS rawq,
                 list_aggregate([{profile_structs}], 'max').lang AS pred_lang,
                 list_reduce(
                   [(('0x' || substr(md5(t[i]), 1, 8))::BIGINT % {FINGERPRINT_MOD})
                    * ((i % 16) + 1) FOR i IN generate_series(1, len(t))],
                   (a, b) -> (a + b) % {FINGERPRINT_MOD}) AS fingerprint
          FROM base)
        SELECT doc_id, n_tokens, n_bpe_tokens,
               round(greatest(least(rawq, 1.0), 0.0), 4) AS quality,
               pred_lang, fingerprint
        FROM q
    """


#: DuckDB fold dot product — sequential order, matching similarity.dot
DUCK_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]),"
    " (a, b) -> a + b)"
)


def _kmeans_coarse_cte_sqls(
    nprobe: int = 1, n_queries: int = N_ANN_QUERIES
) -> list:
    """The shared coarse-quantizer replay: md5 init + ANN_IVF_ITERS Lloyd
    iterations + final assignment `t(vec_id, v, nrm, cluster)` and probe
    set `q(query_id, qv, qnorm, qcluster)` — the common prefix of the IVF
    and IVF-PQ oracles.  ``n_queries`` sizes the probe set (the routed
    kNN oracle reuses the replay with its own query count)."""
    dot = DUCK_DOT
    sqls = [
        f"""
        WITH ex AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 sqrt(list_reduce(list_transform(
                   list_transform(embedding, x -> CAST(x AS DOUBLE)),
                   x -> x * x), (a, b) -> a + b)) AS nrm
          FROM embeddings),
        comp AS MATERIALIZED (
          SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings),
        c0 AS MATERIALIZED (
          SELECT row_number() OVER (
                   ORDER BY md5('{ANN_IVF_SEED}_' || CAST(vec_id AS VARCHAR)),
                            vec_id) - 1 AS centroid_id,
                 v AS cv
          FROM ex
          QUALIFY row_number() OVER (
                    ORDER BY md5('{ANN_IVF_SEED}_' || CAST(vec_id AS VARCHAR)),
                             vec_id) <= {ANN_IVF_K})"""
    ]
    for i in range(1, ANN_IVF_ITERS + 1):
        p = f"c{i - 1}"
        sqls.append(f"""
        cn{i} AS MATERIALIZED (
          SELECT centroid_id, cv,
                 sqrt(list_reduce(list_transform(cv, x -> x * x),
                                  (a, b) -> a + b)) AS cnorm
          FROM {p}),
        a{i} AS MATERIALIZED (
          SELECT vec_id, centroid_id AS cluster FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     round({dot.format(a="e.v", b="c.cv")}
                           / (e.nrm * c.cnorm), 9) DESC, c.centroid_id) AS rn
            FROM ex e CROSS JOIN cn{i} c) WHERE rn = 1),
        m{i} AS (
          SELECT a.cluster AS centroid_id, comp.pos, round(avg(comp.x), 6) AS m
          FROM comp JOIN a{i} a USING (vec_id) GROUP BY 1, 2),
        g{i} AS (SELECT centroid_id, list(m ORDER BY pos) AS ncv
                 FROM m{i} GROUP BY 1),
        c{i} AS MATERIALIZED (
          SELECT p.centroid_id, coalesce(g.ncv, p.cv) AS cv
          FROM {p} p LEFT JOIN g{i} g USING (centroid_id))""")
    last = f"c{ANN_IVF_ITERS}"
    sqls.append(f"""
        cn AS MATERIALIZED (
          SELECT centroid_id, cv,
                 sqrt(list_reduce(list_transform(cv, x -> x * x),
                                  (a, b) -> a + b)) AS cnorm
          FROM {last}),
        assign AS MATERIALIZED (
          SELECT vec_id, centroid_id AS cluster FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     round({dot.format(a="e.v", b="c.cv")}
                           / (e.nrm * c.cnorm), 9) DESC, c.centroid_id) AS rn
            FROM ex e CROSS JOIN cn c) WHERE rn = 1),
        t AS MATERIALIZED (SELECT ex.vec_id, v, nrm, cluster FROM ex JOIN assign USING (vec_id)),
        q AS MATERIALIZED (
          SELECT vec_id AS query_id, v AS qv, nrm AS qnorm,
                 centroid_id AS qcluster
          FROM (
            SELECT e.vec_id, e.v, e.nrm, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     round({dot.format(a="e.v", b="c.cv")}
                           / (e.nrm * c.cnorm), 9) DESC, c.centroid_id) AS rn
            FROM ex e CROSS JOIN cn c
            WHERE e.vec_id < {n_queries})
          WHERE rn <= {nprobe})""")
    return sqls


def _semdedup_oracle_sql() -> str:
    """DuckDB replay of kmeans_centroids + semdedup: clustering replays
    the shared coarse CTEs; a vector is a semantic duplicate iff some
    lower-id member of its cluster has 9-dp-rounded cosine >=
    SEMDEDUP_TAU."""
    dot = DUCK_DOT
    sqls = _kmeans_coarse_cte_sqls()
    sqls.append(f"""
        dups AS (
          SELECT DISTINCT r.vec_id
          FROM t l JOIN t r
            ON l.cluster = r.cluster AND l.vec_id < r.vec_id
          WHERE round({dot.format(a="l.v", b="r.v")}
                      / (l.nrm * r.nrm), 9) >= {SEMDEDUP_TAU})
        SELECT t.vec_id, t.cluster, (d.vec_id IS NOT NULL) AS is_dup
        FROM t LEFT JOIN dups d ON t.vec_id = d.vec_id""")
    return ",".join(sqls)


def _semdedup_incremental_oracle_sql() -> str:
    """Full semdedup over (corpus ∪ batch) restricted to batch rows —
    the strongest oracle for the incremental operator.  The batch is the
    bit-identical re-identified fixture, so its assignment under the
    frozen corpus-trained quantizer equals its source vector's (identical
    vector → identical 9-dp argmax): bt derives straight from t."""
    dot = DUCK_DOT
    sqls = _kmeans_coarse_cte_sqls()
    sqls.append(f"""
        bt AS (
          SELECT vec_id + {NEARDUP_INC_OFFSET} AS vec_id, v, nrm, cluster
          FROM t WHERE vec_id % {NEARDUP_INC_MOD} = 0),
        uni AS (
          SELECT vec_id, v, nrm, cluster FROM t
          UNION ALL
          SELECT vec_id, v, nrm, cluster FROM bt),
        dups AS (
          SELECT DISTINCT r.vec_id
          FROM uni l JOIN bt r
            ON l.cluster = r.cluster AND l.vec_id < r.vec_id
          WHERE round({dot.format(a="l.v", b="r.v")}
                      / (l.nrm * r.nrm), 9) >= {SEMDEDUP_TAU})
        SELECT bt.vec_id, bt.cluster, (d.vec_id IS NOT NULL) AS is_dup
        FROM bt LEFT JOIN dups d ON bt.vec_id = d.vec_id""")
    return ",".join(sqls)


def _kmeans_ivf_oracle_sql(nprobe: int = 1) -> str:
    """DuckDB replay of kmeans_centroids + ivf_topk (assignment by
    9-dp-rounded cosine, means rounded to 6 dp, unrolled CTE chain)."""
    dot = DUCK_DOT
    sqls = _kmeans_coarse_cte_sqls(nprobe)
    sqls.append(f"""
        cand AS (
          SELECT q.query_id, t.vec_id,
                 round({dot.format(a="t.v", b="q.qv")}
                       / (t.nrm * q.qnorm), 4) AS sim
          FROM t JOIN q ON t.cluster = q.qcluster AND t.vec_id != q.query_id)
        SELECT query_id, vec_id, sim, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, vec_id) AS rank
          FROM cand) WHERE rank <= {ANN_TOP_K}""")
    return ",".join(sqls)


def _ivfsq_oracle_sql(nprobe: int = 1) -> str:
    """DuckDB replay of ivfsq_topk: the shared coarse-quantizer CTEs
    (identical probe arithmetic to the IVF oracle) with candidates
    scored against their SQ8 reconstruction — per-dimension min/max
    bounds, floor(x+0.5) codes, decode, component-level dot against the
    exact query vectors."""
    sqls = _kmeans_coarse_cte_sqls(nprobe)
    sqls.append(f"""
        exc AS (
          SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x
          FROM ex),
        sqb AS (SELECT dim, min(x) AS vmin, max(x) AS vmax
                FROM exc GROUP BY dim),
        rx AS (
          SELECT vec_id, exc.dim,
            vmin + (CASE WHEN vmax - vmin > 0
                    THEN greatest(0, least(255,
                         CAST(floor((x - vmin) / (vmax - vmin) * 255 + 0.5)
                              AS INT)))
                    ELSE 0 END) / 255.0 * (vmax - vmin) AS xh
          FROM exc JOIN sqb ON exc.dim = sqb.dim),
        nrq AS (SELECT vec_id, sqrt(sum(xh * xh)) AS rnrm
                FROM rx GROUP BY vec_id),
        dq AS (
          SELECT q.query_id, rx.vec_id, q.qnorm,
                 sum(rx.xh * q.qv[rx.dim]) AS dp
          FROM rx JOIN t USING (vec_id)
          JOIN q ON t.cluster = q.qcluster AND rx.vec_id != q.query_id
          GROUP BY 1, 2, 3),
        sqsc AS (
          SELECT query_id, dq.vec_id,
                 round(dp / (nrq.rnrm * dq.qnorm), 4) AS sim
          FROM dq JOIN nrq ON dq.vec_id = nrq.vec_id)
        SELECT query_id, vec_id, sim, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, vec_id) AS rank
          FROM sqsc) WHERE rank <= {ANN_TOP_K}""")
    return ",".join(sqls)


def _ivfpq_oracle_sql(
    nprobe: int = 1,
    residual: bool = False,
    rerank_shortlist: int | None = None,
    n_queries: int = N_ANN_QUERIES,
    final_k: int = ANN_TOP_K,
    exclude_all_queries: bool = False,
) -> str:
    """DuckDB replay of pq_codebooks + pq_encode + ivfpq_topk /
    ivfpq_residual_topk on top of the shared coarse-quantizer CTEs:
    per-subspace md5 init, ANN_PQ_ITERS grouped Lloyd iterations, codeword
    assignment, and ADC lookup-table scoring — every rounding point
    identical to the Spark path.  ``residual=True`` trains/encodes on the
    coarse residual v - c(v) and adds the per-probe dot(q, c) coarse term
    to the reconstruction (queries stay UN-residualized: asymmetric)."""
    dot = DUCK_DOT
    dsub = ANN_DIM // ANN_PQ_M
    sqls = _kmeans_coarse_cte_sqls(nprobe=nprobe, n_queries=n_queries)
    base = (
        """
        base AS MATERIALIZED (
          SELECT t.vec_id,
                 list_transform(list_zip(t.v, c.cv), p -> p[1] - p[2]) AS v
          FROM t JOIN cn c ON t.cluster = c.centroid_id)"""
        if residual
        else """
        base AS MATERIALIZED (SELECT vec_id, v FROM ex)"""
    )
    sqls.append(f"""{base},
        subsel AS (SELECT unnest(generate_series(0, {ANN_PQ_M - 1})) AS sub),
        sv AS MATERIALIZED (
          SELECT vec_id, sub,
                 v[sub * {dsub} + 1 : sub * {dsub} + {dsub}] AS sv
          FROM base CROSS JOIN subsel),
        svn AS MATERIALIZED (
          SELECT vec_id, sub, sv,
                 sqrt(list_reduce(list_transform(sv, x -> x * x),
                                  (a, b) -> a + b)) AS snrm
          FROM sv),
        scomp AS MATERIALIZED (
          SELECT vec_id, sub, generate_subscripts(sv, 1) AS pos,
                 unnest(sv) AS x
          FROM sv),
        qsv AS MATERIALIZED (
          SELECT vec_id AS query_id, sub,
                 v[sub * {dsub} + 1 : sub * {dsub} + {dsub}] AS qsv
          FROM ex CROSS JOIN subsel
          WHERE vec_id < {n_queries}),
        pq0 AS MATERIALIZED (
          SELECT sub,
                 row_number() OVER (PARTITION BY sub ORDER BY
                   md5('{ANN_IVF_SEED}_' || CAST(sub AS VARCHAR) || '_'
                       || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code,
                 sv AS cw
          FROM svn
          QUALIFY row_number() OVER (PARTITION BY sub ORDER BY
                    md5('{ANN_IVF_SEED}_' || CAST(sub AS VARCHAR) || '_'
                        || CAST(vec_id AS VARCHAR)), vec_id) <= {ANN_PQ_KS})""")
    for i in range(1, ANN_PQ_ITERS + 1):
        p = f"pq{i - 1}"
        sqls.append(f"""
        pn{i} AS MATERIALIZED (
          SELECT sub, code, cw,
                 sqrt(list_reduce(list_transform(cw, x -> x * x),
                                  (a, b) -> a + b)) AS cnorm
          FROM {p}),
        pa{i} AS MATERIALIZED (
          SELECT vec_id, sub, code AS cluster FROM (
            SELECT s.vec_id, s.sub, c.code,
                   row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
                     round({dot.format(a="s.sv", b="c.cw")}
                           / (s.snrm * c.cnorm), 9) DESC, c.code) AS rn
            FROM svn s JOIN pn{i} c USING (sub)) WHERE rn = 1),
        pm{i} AS (
          SELECT a.sub, a.cluster AS code, sc.pos, round(avg(sc.x), 6) AS mv
          FROM scomp sc JOIN pa{i} a USING (vec_id, sub) GROUP BY 1, 2, 3),
        pg{i} AS (SELECT sub, code, list(mv ORDER BY pos) AS ncw
                  FROM pm{i} GROUP BY 1, 2),
        pq{i} AS MATERIALIZED (
          SELECT p.sub, p.code, coalesce(g.ncw, p.cw) AS cw
          FROM {p} p LEFT JOIN pg{i} g USING (sub, code))""")
    last = f"pq{ANN_PQ_ITERS}"
    coarse_term = "p.qc_dot + " if residual else ""
    qp = (
        f"""
        qp AS MATERIALIZED (
          SELECT q.query_id, q.qnorm, q.qcluster,
                 round({dot.format(a="q.qv", b="c.cv")}, 9) AS qc_dot
          FROM q JOIN cn c ON q.qcluster = c.centroid_id),"""
        if residual
        else """
        qp AS MATERIALIZED (
          SELECT query_id, qnorm, qcluster, 0.0 AS qc_dot FROM q),"""
    )
    sqls.append(f"""
        pnf AS MATERIALIZED (
          SELECT sub, code, cw,
                 sqrt(list_reduce(list_transform(cw, x -> x * x),
                                  (a, b) -> a + b)) AS cnorm
          FROM {last}),
        enc AS MATERIALIZED (
          SELECT vec_id, sub, code FROM (
            SELECT s.vec_id, s.sub, c.code,
                   row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
                     round({dot.format(a="s.sv", b="c.cw")}
                           / (s.snrm * c.cnorm), 9) DESC, c.code) AS rn
            FROM svn s JOIN pnf c USING (sub)) WHERE rn = 1),
        tbl AS MATERIALIZED (
          SELECT s.query_id, s.sub, c.code,
                 round({dot.format(a="s.qsv", b="c.cw")}, 9) AS pdot
          FROM qsv s JOIN pnf c USING (sub)),{qp}
        pairs AS (
          SELECT qp.query_id, t.vec_id, t.nrm, qp.qnorm, qp.qc_dot
          FROM t JOIN qp ON t.cluster = qp.qcluster
                        AND t.vec_id != qp.query_id
                        {"AND t.vec_id >= " + str(n_queries) if exclude_all_queries else ""}),
        adc AS (
          SELECT p.query_id, p.vec_id,
                 round(({coarse_term}sum(tb.pdot))
                       / (max(p.nrm) * max(p.qnorm)), 4) AS sim
          FROM pairs p
          JOIN enc vc ON vc.vec_id = p.vec_id
          JOIN tbl tb ON tb.query_id = p.query_id AND tb.sub = vc.sub
                      AND tb.code = vc.code
          GROUP BY 1, 2{", p.qc_dot" if residual else ""})""")
    # terminal stage, emitted directly (ADVICE r4: the earlier
    # str.replace patching silently depended on ANN_TOP_K and the
    # shortlist differing textually)
    if rerank_shortlist is not None:
        # stage 2: exact cosine over the ADC shortlist's full vectors
        sqls[-1] += f""",
        short AS (
          SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, vec_id) AS rank
            FROM adc) WHERE rank <= {rerank_shortlist}),
        qq AS (SELECT DISTINCT query_id, qv, qnorm FROM q),
        rr AS (
          SELECT s.query_id, s.vec_id,
                 round({dot.format(a="t.v", b="qq.qv")}
                       / (t.nrm * qq.qnorm), 4) AS sim
          FROM short s JOIN t ON s.vec_id = t.vec_id
                       JOIN qq ON s.query_id = qq.query_id)"""
    ranked_src = "rr" if rerank_shortlist is not None else "adc"
    sqls[-1] += f"""
        SELECT query_id, vec_id, sim, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, vec_id) AS rank
          FROM {ranked_src}) WHERE rank <= {final_k}"""
    return ",".join(sqls)


def _knn_routed_oracle_sql() -> str:
    """DuckDB replay of knn_predict_routed: the full IVF-PQ rerank
    replay (coarse + PQ + ADC + exact re-rank) with the kNN contract's
    exclusion applied BEFORE the ANN stages (every query id out of the
    candidate pairs — mirroring the Spark side's candidate anti-join),
    then label join and the (votes DESC, label ASC) majority vote."""
    inner = _ivfpq_oracle_sql(
        rerank_shortlist=KNN_ROUTED_SHORTLIST,
        n_queries=KNN_N_QUERIES,
        final_k=KNN_K,
        exclude_all_queries=True,
    )
    return f"""
        WITH neigh AS (
          SELECT query_id, vec_id, sim FROM ({inner})),
        lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS label
                FROM embeddings),
        scored AS (
          SELECT n.query_id, l.label, n.sim
          FROM neigh n JOIN lbl l USING (vec_id)),
        votes AS (
          SELECT query_id, label, count(*)::BIGINT AS votes,
                 max(sim) AS top_sim
          FROM scored GROUP BY 1, 2),
        win AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY votes DESC, label) AS rk
          FROM votes)
        SELECT query_id, label AS pred_label, votes, top_sim
        FROM win WHERE rk = 1
    """


def _bpe_oracle_sql(k: int = None) -> str:
    """DuckDB replay of bpe_merges: the word-frequency base, then k
    rounds of (pair count over the double-spaced symbol strings →
    deterministic top-1 → one replace rewrite) — every round its own
    CTE pair, the iterative-oracle pattern of the k-means replay."""
    if k is None:
        k = BPE_MERGE_BUDGET
    sqls = ["""
        WITH words AS (
          SELECT word, count(*)::BIGINT AS freq
          FROM (SELECT unnest(string_split(text, ' ')) AS word
                FROM documents)
          WHERE length(word) > 0 GROUP BY word),
        w0 AS MATERIALIZED (
          SELECT freq,
                 ' ' || array_to_string(
                   list_append([word[i:i] FOR i IN
                                generate_series(1, length(word))],
                               '</w>'), '  ') || ' ' AS s
          FROM words)"""]
    for i in range(1, k + 1):
        p = f"w{i - 1}"
        sqls.append(f"""
        t{i} AS (SELECT freq, string_split(trim(s), '  ') AS ss FROM {p}),
        -- (w/m MATERIALIZED: inlined CTEs re-evaluate the whole chain
        -- per round, turning k rounds quadratic-to-exponential)
        pc{i} AS (
          SELECT ss[j] AS a, ss[j + 1] AS b, sum(freq)::BIGINT AS cnt
          FROM t{i} CROSS JOIN
            unnest(generate_series(1, len(ss) - 1)) AS u(j)
          GROUP BY 1, 2),
        m{i} AS MATERIALIZED (SELECT a, b, cnt FROM pc{i}
                 ORDER BY cnt DESC, a, b LIMIT 1),
        w{i} AS MATERIALIZED (
          -- LEFT JOIN ON TRUE: a pair-exhausted corpus leaves m{{i}}
          -- empty; coalesce passes s through unchanged instead of a
          -- CROSS JOIN wiping the whole relation (Spark breaks early)
          SELECT freq, coalesce(replace(s, ' ' || m.a || '  ' || m.b || ' ',
                               ' ' || m.a || m.b || ' '), s) AS s
          FROM {p} LEFT JOIN m{i} m ON TRUE)""")
    unions = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, "
        f"cnt AS pair_freq FROM m{i}"
        for i in range(1, k + 1)
    )
    sqls.append(f"\n        SELECT * FROM ({unions})")
    return ",".join(sqls[:-1]) + sqls[-1]


def _bpe_segment_oracle_sql(k: int = None) -> str:
    """DuckDB replay of bpe_segment: re-run the induction rounds of
    :func:`_bpe_oracle_sql`, then chain the k winning replaces over the
    per-token spaced strings and explode the symbol sequences."""
    if k is None:
        k = BPE_MERGE_BUDGET
    induction = _bpe_oracle_sql(k)
    # reuse the induction CTE chain up to (but excluding) its terminal
    # SELECT — everything through w{k} / m{k}
    head, _tail = induction.rsplit("\n        SELECT * FROM (", 1)
    sqls = [head]
    sqls.append("""
        toks AS MATERIALIZED (
          SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos,
                 unnest(t) AS word
          FROM (SELECT doc_id, string_split(text, ' ') AS t
                FROM documents)),
        d0 AS MATERIALIZED (
          SELECT doc_id, pos, word,
                 ' ' || array_to_string(
                   list_append([word[i:i] FOR i IN
                                generate_series(1, length(word))],
                               '</w>'), '  ') || ' ' AS s
          FROM toks WHERE length(word) > 0)""")
    for i in range(1, k + 1):
        sqls.append(f"""
        d{i} AS MATERIALIZED (
          -- empty m{{i}} (pair-poor corpus) must not wipe the relation:
          -- LEFT JOIN ON TRUE + coalesce keeps s as-is for that round
          SELECT doc_id, pos, word,
                 coalesce(replace(s, ' ' || m.a || '  ' || m.b || ' ',
                         ' ' || m.a || m.b || ' '), s) AS s
          FROM d{i - 1} LEFT JOIN m{i} m ON TRUE)""")
    sqls.append(f"""
        SELECT doc_id, CAST(pos AS BIGINT) AS pos, word,
               CAST(generate_subscripts(ss, 1) - 1 AS BIGINT) AS sym_pos,
               unnest(ss) AS sym
        FROM (SELECT doc_id, pos, word, string_split(trim(s), '  ') AS ss
              FROM d{k})""")
    return ",".join(sqls[:-1]) + sqls[-1]


def _bpe_ids_oracle_sql() -> str:
    """DuckDB replay of q_bpe_ids: the segmentation replay wrapped with
    the symbol-frequency vocabulary rank and the id join."""
    return f"""
        WITH seg AS MATERIALIZED ({_bpe_segment_oracle_sql()}),
        counts AS (SELECT sym, count(*) AS n FROM seg GROUP BY sym),
        vocab AS (
          SELECT sym, CAST(row_number() OVER (ORDER BY n DESC, sym)
                           AS BIGINT) AS tid
          FROM counts)
        SELECT seg.doc_id, seg.pos, seg.sym_pos, vocab.tid
        FROM seg JOIN vocab USING (sym)
    """


def _winnow_fps_cte(source: str, p: str) -> str:
    """The winnowing fingerprint chain (tt→hh→subs→fps) over ``source``
    with CTE names prefixed ``p`` — shared by the decontamination and
    near-dup stages of the pipeline oracle."""
    return f"""
        {p}tt AS (SELECT doc_id, string_split(text, ' ') AS t FROM {source}),
        {p}hh AS (
          SELECT doc_id,
            [('0x' || substr(md5(array_to_string(t[i:i+{WINNOW_K - 1}], ' ')), 1, 15))::BIGINT
             for i in generate_series(1, greatest(len(t) - {WINNOW_K - 1}, 0))] AS h
          FROM {p}tt),
        {p}subs AS (
          SELECT doc_id, j, h[j:least(j+{WINNOW_W - 1}, len(h))] AS sub
          FROM {p}hh CROSS JOIN
            unnest(generate_series(1, CASE WHEN len(h) >= 1
                   THEN greatest(len(h) - {WINNOW_W - 1}, 1) ELSE 0 END)) AS u(j)),
        {p}fps AS MATERIALIZED (
          SELECT DISTINCT doc_id, list_min(sub) AS h FROM {p}subs)"""


def _pipeline_oracle_sql() -> str:
    """DuckDB replay of the composed ingest pipeline: Gopher pass gate
    → winnow-fingerprint decontamination against the eval split →
    winnow near-dup pairs over the clean survivors → drop every doc
    that is the greater id of a pair → per-shard running-sum packing —
    each stage the SAME replay its standalone oracle uses."""
    gate = " AND ".join(f"g.{c}" for c in PIPE_GATE_COLS)
    return f"""
        WITH tr AS (SELECT doc_id, text FROM documents
                    WHERE doc_id % {FUZZY_EVAL_MOD} != 0),
        ev AS (SELECT doc_id, text FROM documents
               WHERE doc_id % {FUZZY_EVAL_MOD} = 0),
        g AS ({_gopher_oracle_sql("tr", min_words=PIPE_MIN_WORDS)}),
        surv0 AS (
          SELECT d.doc_id, d.text FROM tr d
          JOIN g ON d.doc_id = g.doc_id AND {gate}),
        {_winnow_fps_cte("surv0", "d")},
        {_winnow_fps_cte("ev", "e")},
        ecnt AS (SELECT doc_id AS eval_id, count(*) AS n_fp
                 FROM efps GROUP BY 1),
        cshare AS (
          SELECT d.doc_id, e.doc_id AS eval_id, count(*) AS shared
          FROM dfps d JOIN efps e ON d.h = e.h GROUP BY 1, 2),
        cont AS (
          SELECT DISTINCT cshare.doc_id
          FROM cshare JOIN ecnt USING (eval_id)
          WHERE round(shared * 1.0 / n_fp, 4) >= {WINNOW_T}),
        surv AS (
          SELECT s.doc_id, s.text FROM surv0 s
          LEFT JOIN cont USING (doc_id) WHERE cont.doc_id IS NULL),
        sc AS ({_winnow_neardup_oracle_sql("surv")}),
        drops AS (SELECT DISTINCT id2 AS doc_id FROM sc),
        kept AS (
          SELECT s.doc_id, s.text FROM surv s
          LEFT JOIN drops USING (doc_id) WHERE drops.doc_id IS NULL),
        staged AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)),
                                      1, 8))::BIGINT
                      % {PACK_SHARDS} AS INT) AS shard,
                 CAST(CASE WHEN text IS NOT NULL AND len(text) > 0
                           THEN len(string_split(text, ' '))
                           ELSE 0 END AS BIGINT) AS n_tokens
          FROM kept),
        packed AS (
          SELECT doc_id, shard, n_tokens,
                 (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING)
                   - n_tokens)::BIGINT AS "offset"
          FROM staged)
        SELECT doc_id, shard, n_tokens, "offset",
               "offset" // {PACK_CAPACITY} AS first_chunk,
               (("offset" + greatest(n_tokens, 1) - 1) // {PACK_CAPACITY})
                 - ("offset" // {PACK_CAPACITY}) + 1 AS n_chunks
        FROM packed
    """

def _pipeline_payload_oracle_sql() -> str:
    """DuckDB replay of the pipeline's payload stage: the four-stage
    replay of :func:`_pipeline_oracle_sql` up to its packed manifest,
    then the q_pack_ids id-ization applied to the kept docs — vocab
    induced from the training split exactly as `vocab_topv` does,
    per-shard global offsets from the manifest, ids comma-joined in
    offset order."""
    base = _pipeline_oracle_sql()
    head, _tail = base.rsplit("\n        SELECT doc_id, shard,", 1)
    return head + f""",
        vtok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM tr),
        v AS (
          SELECT tok, rk FROM (
            SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok)
                     AS rk
            FROM vtok GROUP BY tok)
          WHERE rk <= {VOCAB_V}),
        kp AS (
          SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos,
                 unnest(t) AS tok
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM kept)),
        kids AS (
          SELECT kp.doc_id, kp.pos, coalesce(v.rk, 0)::BIGINT AS tid
          FROM kp LEFT JOIN v USING (tok)),
        t2 AS (
          SELECT packed.shard,
                 (packed."offset" + kids.pos) // {PACK_CAPACITY} AS chunk,
                 packed."offset" + kids.pos AS goff, kids.tid
          FROM kids JOIN packed USING (doc_id))
        SELECT CAST(shard AS INT) AS shard, CAST(chunk AS BIGINT) AS chunk,
               count(*)::BIGINT AS n_ids,
               array_to_string(list(tid ORDER BY goff), ',') AS ids
        FROM t2 GROUP BY 1, 2
    """


def _gopher_oracle_sql(
    source: str = "documents",
    min_words: int = 50,
    max_words: int = 100_000,
) -> str:
    """DuckDB replay of gopher_rules over ``source`` — shared by the
    standalone gate query and the composed ingest-pipeline oracle."""
    return f"""
            WITH d AS (
              SELECT doc_id, text, string_split(text, ' ') AS t,
                     string_split(text, chr(10)) AS lines
              FROM {source}),
            m AS (
              SELECT doc_id,
                CASE WHEN text IS NOT NULL AND length(text) > 0
                     THEN len(t) ELSE 0 END AS n_words,
                list_sum(list_transform(t, x -> length(x))) AS total_chars,
                length(text) - length(replace(text, '#', '')) AS n_hash,
                (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
                len(lines) AS n_lines,
                len(list_filter(lines,
                    l -> regexp_matches(l, '^\\s*[-*]'))) AS n_bullet,
                len(list_filter(lines,
                    l -> regexp_matches(l, '\\.\\.\\.\\s*$'))) AS n_ellend,
                len(list_filter(t,
                    x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
                (coalesce(list_contains(t, 'the'), false)::INT
                 + coalesce(list_contains(t, 'be'), false)::INT
                 + coalesce(list_contains(t, 'to'), false)::INT
                 + coalesce(list_contains(t, 'of'), false)::INT
                 + coalesce(list_contains(t, 'and'), false)::INT
                 + coalesce(list_contains(t, 'that'), false)::INT
                 + coalesce(list_contains(t, 'have'), false)::INT
                 + coalesce(list_contains(t, 'with'), false)::INT)
                  AS stop_hits
              FROM d)
            SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
              n_words >= {min_words} AND n_words <= {max_words} AS ok_word_count,
              coalesce(total_chars * 1.0 / nullif(n_words, 0) >= 3
                       AND total_chars * 1.0 / nullif(n_words, 0) <= 10,
                       false) AS ok_mean_word_len,
              coalesce(n_hash * 1.0 / nullif(n_words, 0) <= 0.1
                       AND n_ell * 1.0 / nullif(n_words, 0) <= 0.1,
                       false) AS ok_symbol_ratio,
              coalesce(n_bullet * 1.0 / nullif(n_lines, 0) <= 0.9,
                       false) AS ok_bullet_lines,
              coalesce(n_ellend * 1.0 / nullif(n_lines, 0) <= 0.3,
                       false) AS ok_ellipsis_lines,
              coalesce(n_alpha * 1.0 / nullif(n_words, 0) >= 0.8,
                       false) AS ok_alpha_words,
              stop_hits >= 2 AS ok_stopwords,
              (n_words >= {min_words} AND n_words <= {max_words})
                AND coalesce(total_chars * 1.0 / nullif(n_words, 0) >= 3
                     AND total_chars * 1.0 / nullif(n_words, 0) <= 10, false)
                AND coalesce(n_hash * 1.0 / nullif(n_words, 0) <= 0.1
                     AND n_ell * 1.0 / nullif(n_words, 0) <= 0.1, false)
                AND coalesce(n_bullet * 1.0 / nullif(n_lines, 0) <= 0.9,
                     false)
                AND coalesce(n_ellend * 1.0 / nullif(n_lines, 0) <= 0.3,
                     false)
                AND coalesce(n_alpha * 1.0 / nullif(n_words, 0) >= 0.8,
                     false)
                AND stop_hits >= 2 AS pass_all
            FROM m
    """


def _winnow_neardup_oracle_sql(source: str = "documents") -> str:
    """DuckDB replay of winnow_neardup over ``source`` (a table or CTE
    name) — shared by the standalone gate query and the composed
    ingest-pipeline oracle."""
    return f"""
            WITH tt AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM {source}
            ), hh AS (
              SELECT doc_id,
                [('0x' || substr(md5(array_to_string(t[i:i+{WINNOW_K - 1}], ' ')), 1, 15))::BIGINT
                 for i in generate_series(1, greatest(len(t) - {WINNOW_K - 1}, 0))] AS h
              FROM tt
            ), subs AS (
              SELECT doc_id, j, h[j:least(j+{WINNOW_W - 1}, len(h))] AS sub
              FROM hh CROSS JOIN
                unnest(generate_series(1, CASE WHEN len(h) >= 1
                       THEN greatest(len(h) - {WINNOW_W - 1}, 1) ELSE 0 END)) AS u(j)
            ), fps AS (
              SELECT DISTINCT doc_id, list_min(sub) AS h FROM subs
            ), cnt AS (
              SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id
            ), pairs AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
              FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), sc AS (
              SELECT id1, id2, shared,
                     round(shared * 1.0 / least(n1.n_fp, n2.n_fp), 4) AS containment
              FROM pairs
              JOIN cnt n1 ON pairs.id1 = n1.doc_id
              JOIN cnt n2 ON pairs.id2 = n2.doc_id
            )
            SELECT id1, id2, CAST(shared AS BIGINT) AS shared, containment
            FROM sc WHERE containment >= {WINNOW_T}
    """


def _simhash_neardup_oracle_sql() -> str:
    """DuckDB mirror of functions.dedup.simhash_neardup (60-bit, 4 bands);
    shared by the guarded variant, whose output must be identical."""
    return f"""
        WITH sig AS ({_simhash_oracle_sql(60)}),
        banded AS (
          SELECT doc_id, simhash, b AS band,
                 (simhash >> (15 * b)) & 32767 AS bv
          FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs),
        cand AS (
          SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
                 l.simhash AS h1, r.simhash AS h2
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.bv = r.bv AND l.doc_id < r.doc_id)
        SELECT id1, id2, bit_count(xor(h1, h2))::BIGINT AS hamming
        FROM cand WHERE bit_count(xor(h1, h2)) <= {SIMHASH_MAX_HAMMING}
    """


def _span_cte_sql() -> str:
    """Shared spans CTE for the span-dedup oracles: mirror of
    functions.dedup.repeated_spans (posting list -> cross-doc repeated
    shingles -> covered offsets -> gaps-and-islands interval merge)."""
    k = SPAN_K
    return f"""
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        shl AS (SELECT doc_id,
                       [array_to_string(t[i:i+{k - 1}], ' ')
                        FOR i IN generate_series(1, len(t) - {k - 1})] AS shingles
                FROM toks WHERE len(t) >= {k}),
        posts AS (SELECT doc_id, generate_subscripts(shingles, 1) - 1 AS off,
                         ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS h
                  FROM shl),
        rep AS (SELECT h FROM posts GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        cov AS (SELECT p.doc_id, p.off FROM posts p JOIN rep USING (h)),
        flags AS (SELECT doc_id, off,
                         CASE WHEN off - lag(off) OVER (PARTITION BY doc_id
                                                        ORDER BY off) > {k}
                              THEN 1 ELSE 0 END AS brk
                  FROM cov),
        isl AS (SELECT doc_id, off,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY off
                                      ROWS UNBOUNDED PRECEDING) AS span_id
                FROM flags),
        allspans AS (SELECT doc_id, min(off) AS start_tok,
                            max(off) + {k - 1} AS end_tok
                     FROM isl GROUP BY doc_id, span_id),
        spans AS (SELECT doc_id, start_tok, end_tok,
                         end_tok - start_tok + 1 AS span_tokens
                  FROM allspans
                  WHERE end_tok - start_tok + 1 >= {SPAN_MIN_TOKENS})
    """


def _bm25_values() -> str:
    """VALUES rows for the BM25 oracle's query terms — built from
    BM25_QUERIES with the SAME order-preserving dedup as bm25_topk."""
    rows = []
    for qid, qtext in BM25_QUERIES:
        for t in dict.fromkeys(qtext.split(" ")):
            if t:
                rows.append(f"({qid}::BIGINT, '{t}')")
    return ", ".join(rows)


def _embed_project_oracle_sql() -> str:
    """DuckDB replay of the JL random projection: the SAME ±1 matrix
    (derived by random_projection_matrix — md5 parity, no RNG state) is
    inlined as a list literal, and each output coordinate re-derives as
    the identical fixed-order fold."""
    from datayours_spark.functions.similarity import random_projection_matrix

    mat = random_projection_matrix(ANN_DIM, RP_OUT_DIM)
    mat_sql = (
        "["
        + ", ".join(
            "[" + ", ".join(str(float(x)) for x in row) + "]" for row in mat
        )
        + "]"
    )
    proj_cols = ", ".join(
        f"round(list_sum([v[i] * mat[i][{j}] "
        f"for i in generate_series(1, {ANN_DIM})]) / sqrt({RP_OUT_DIM}), 6) "
        f"AS p{j:02d}"
        for j in range(1, RP_OUT_DIM + 1)
    )
    return f"""
            WITH m AS (SELECT {mat_sql} AS mat),
            e AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings)
            SELECT vec_id, {proj_cols}
            FROM e CROSS JOIN m
        """


def _winnow_spans_oracle_sql() -> str:
    """DuckDB replay of winnow_spans: islands-and-gaps over the matched
    positions per (pair, constant offset) — shared by the q_winnow_spans
    and q_winnow_dedup oracles."""
    return f"""
            WITH m AS ({_winnow_matches_oracle_sql()}),
            d AS (
              SELECT DISTINCT id1, id2, pos1 - pos2 AS off, pos1 FROM m
            ), g AS (
              SELECT *, CASE WHEN pos1 - lag(pos1) OVER
                     (PARTITION BY id1, id2, off ORDER BY pos1)
                     <= {WINNOW_W} THEN 0 ELSE 1 END AS brk
              FROM d
            ), i AS (
              SELECT *, sum(brk) OVER
                     (PARTITION BY id1, id2, off ORDER BY pos1) AS island
              FROM g
            )
            SELECT id1, id2,
              CAST(min(pos1) AS BIGINT) AS start1,
              CAST(max(pos1) + {WINNOW_K - 1} AS BIGINT) AS end1,
              CAST(min(pos1) - off AS BIGINT) AS start2,
              CAST(max(pos1) + {WINNOW_K - 1} - off AS BIGINT) AS end2,
              count(*)::BIGINT AS n_matches
            FROM i GROUP BY id1, id2, off, island
        """


def _winnow_matches_oracle_sql() -> str:
    """DuckDB replay of winnow_fingerprints → winnow_neardup →
    winnow_matches: rightmost-min per w-window fingerprints with
    positions, containment-thresholded pairs, then the pair-scoped
    position co-occurrences (shared by the q_winnow_matches and
    q_winnow_spans oracles)."""
    return f"""
            WITH tt AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ), hh AS (
              SELECT doc_id,
                [('0x' || substr(md5(array_to_string(t[i:i+{WINNOW_K - 1}], ' ')), 1, 15))::BIGINT
                 for i in generate_series(1, greatest(len(t) - {WINNOW_K - 1}, 0))] AS h
              FROM tt
            ), subs AS (
              SELECT doc_id, j, h[j:least(j+{WINNOW_W - 1}, len(h))] AS sub
              FROM hh CROSS JOIN
                unnest(generate_series(1, CASE WHEN len(h) >= 1
                       THEN greatest(len(h) - {WINNOW_W - 1}, 1) ELSE 0 END)) AS u(j)
            ), fps_pos AS (
              SELECT DISTINCT doc_id,
                CAST(j + len(sub) - list_position(list_reverse(sub), list_min(sub))
                     AS BIGINT) AS pos,
                list_min(sub) AS h
              FROM subs
            ), fps AS (
              SELECT DISTINCT doc_id, h FROM fps_pos
            ), cnt AS (
              SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id
            ), prs AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
              FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), sel AS (
              SELECT id1, id2 FROM prs
              JOIN cnt n1 ON prs.id1 = n1.doc_id
              JOIN cnt n2 ON prs.id2 = n2.doc_id
              WHERE round(shared * 1.0 / least(n1.n_fp, n2.n_fp), 4)
                    >= {WINNOW_T}
            )
            SELECT s.id1, s.id2, a.pos AS pos1, b.pos AS pos2, a.h
            FROM sel s
            JOIN fps_pos a ON s.id1 = a.doc_id
            JOIN fps_pos b ON s.id2 = b.doc_id AND a.h = b.h
    """


def _minhash_oracle_sql() -> str:
    """DuckDB mirror of functions.dedup.minhash_dedup — same seeded
    permutation constants, same 32-bit md5-prefix hash domain."""
    from datayours_spark.functions.dedup import MINHASH_PRIME, minhash_params

    k = MINHASH_BANDS * MINHASH_ROWS
    params = minhash_params(k)
    sig_cols = ",\n                     ".join(
        f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = []
    for b in range(MINHASH_BANDS):
        parts = ", ".join(
            f"m{b * MINHASH_ROWS + r}::VARCHAR" for r in range(MINHASH_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws(',', {parts})) AS bh FROM sig"
        )
    bands_sql = "\n              UNION ALL ".join(band_selects)
    return f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (
          SELECT doc_id, unnest([array_to_string(t[i:i+2], ' ')
                                 FOR i IN generate_series(1, len(t) - 2)]) AS shingle
          FROM toks WHERE len(t) >= 3),
        hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh),
        sig AS (SELECT doc_id, {sig_cols}
                FROM hs GROUP BY doc_id),
        bands AS ({bands_sql}),
        cand AS (
          SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
          FROM bands l JOIN bands r
            ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id),
        sets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
                 FROM documents),
        j AS (
          SELECT id1, id2,
                 round(len(list_intersect(s1.s, s2.s)) * 1.0
                       / len(list_distinct(s1.s || s2.s)), 4) AS jaccard
          FROM cand JOIN sets s1 ON id1 = s1.doc_id JOIN sets s2 ON id2 = s2.doc_id)
        SELECT id1, id2, jaccard FROM j WHERE jaccard >= {MINHASH_THRESHOLD}
    """


def _edit_verify_oracle_sql() -> str:
    """DuckDB mirror of q_neardup_verified: identical candidate CTEs to
    _minhash_oracle_sql (shared banding constants), with the Jaccard
    verify tail swapped for the prefix-capped Levenshtein verify — both
    engines implement classic character-level edit distance."""
    head, _ = _minhash_oracle_sql().split("sets AS (", 1)
    return head + f"""txt AS (SELECT doc_id, substr(text, 1, {EDIT_PREFIX}) AS t
                 FROM documents),
        v AS (
          SELECT id1, id2, levenshtein(t1.t, t2.t)::BIGINT AS lev,
                 round(1.0 - levenshtein(t1.t, t2.t) * 1.0
                       / greatest(len(t1.t), len(t2.t), 1), 4) AS edit_sim
          FROM cand JOIN txt t1 ON id1 = t1.doc_id JOIN txt t2 ON id2 = t2.doc_id)
        SELECT id1, id2, lev, edit_sim FROM v WHERE edit_sim >= {EDIT_SIM_THRESHOLD}
    """


def _fuzzy_contam_oracle_sql() -> str:
    """DuckDB mirror of functions.dedup.minhash_decontaminate over the
    mod-{FUZZY_EVAL_MOD} eval split: shared signature/band CTEs (same
    constants as _minhash_oracle_sql), candidate join restricted to
    train x eval."""
    base = _minhash_oracle_sql()
    head, _ = base.split("cand AS (", 1)
    return head + f"""cand AS (
          SELECT DISTINCT l.doc_id AS train_id, r.doc_id AS eval_id
          FROM bands l JOIN bands r
            ON l.band = r.band AND l.bh = r.bh
          WHERE l.doc_id % {FUZZY_EVAL_MOD} != 0
            AND r.doc_id % {FUZZY_EVAL_MOD} == 0),
        sets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
                 FROM documents),
        j AS (
          SELECT train_id, eval_id,
                 round(len(list_intersect(s1.s, s2.s)) * 1.0
                       / len(list_distinct(s1.s || s2.s)), 4) AS jaccard
          FROM cand JOIN sets s1 ON train_id = s1.doc_id
                    JOIN sets s2 ON eval_id = s2.doc_id)
        SELECT train_id, eval_id, jaccard FROM j
        WHERE jaccard >= {MINHASH_THRESHOLD}
    """
