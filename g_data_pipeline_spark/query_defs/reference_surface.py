"""The reference's own surface (SURVEY.md §2.2 R1-R11, §2.3 P1-P13, and the
flagship pricing summary), registered as oracle-gated queries."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from g_data_pipeline_spark.catalog import load_table
from g_data_pipeline_spark.functions.deterministic import (
    davg,
    dsum,
    sql_davg,
    sql_dsum,
)
from g_data_pipeline_spark.queries import SparkQuery, register

# --------------------------------------------------------------------------
# R1-R11: the reference's executable query surface (SURVEY.md §2.2), each
# exercised end-to-end THROUGH the IR compiler (ir.StructuredQuery ->
# plans.compile_query -> one lazy DataFrame), not hand-written DataFrame code
# — so the oracle gate covers the compiler itself.
# --------------------------------------------------------------------------

def _ir_query(table: str, ir: dict) -> SparkQuery:
    from g_data_pipeline_spark.ir import StructuredQuery
    from g_data_pipeline_spark.plans import compile_query

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load_table(spark, sf_dir, table)
        return compile_query(df, StructuredQuery.from_json(ir), deterministic_floats=True)

    return fn


register(
    "r1_projection",
    oracle="SELECT c_name, c_acctbal, c_mktsegment FROM customer",
)(_ir_query("customer", {
    "intent": "filter",
    "columns": ["c_name", "c_acctbal", "c_mktsegment"],
    "operations": [],
}))

register(
    "r2_filter_eq",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)(_ir_query("lineitem", {
    "intent": "filter",
    "columns": ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"],
    "operations": [{"type": "filter", "column": "l_returnflag", "operator": "=", "value": "R"}],
}))

register(
    "r3_filter_ordering_and_r5_conjunction",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity > 30 AND l_discount <= 0.05 AND l_quantity < 49
    """,
)(_ir_query("lineitem", {
    "intent": "filter",
    "columns": ["l_orderkey", "l_linenumber", "l_quantity", "l_discount"],
    "operations": [
        {"type": "filter", "column": "l_quantity", "operator": ">", "value": "30"},
        {"type": "filter", "column": "l_discount", "operator": "<=", "value": "0.05"},
        {"type": "filter", "column": "l_quantity", "operator": "<", "value": "49"},
    ],
}))

register(
    "r4_filter_ne",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus <> 'F'
    """,
)(_ir_query("orders", {
    "intent": "filter",
    "columns": ["o_orderkey", "o_orderstatus", "o_totalprice"],
    "operations": [{"type": "filter", "column": "o_orderstatus", "operator": "!=", "value": "F"}],
}))

register(
    "r6_agg_mean",
    oracle=f"SELECT {sql_davg('l_extendedprice')} AS mean_l_extendedprice FROM lineitem",
)(_ir_query("lineitem", {
    "intent": "aggregate",
    "columns": [],
    "operations": [{"type": "mean", "column": "l_extendedprice"}],
}))

register(
    "r7_agg_sum",
    oracle=f"SELECT {sql_dsum('l_quantity')} AS sum_l_quantity FROM lineitem",
)(_ir_query("lineitem", {
    "intent": "aggregate",
    "columns": [],
    "operations": [{"type": "sum", "column": "l_quantity"}],
}))

register(
    "r8_agg_count",
    oracle="SELECT COUNT(o_custkey) AS count_o_custkey FROM orders",
)(_ir_query("orders", {
    "intent": "aggregate",
    "columns": [],
    "operations": [{"type": "count", "column": "o_custkey"}],
}))

register(
    "r8b_filtered_count",
    oracle="""
    SELECT COUNT(l_orderkey) AS count_l_orderkey
    FROM lineitem WHERE l_quantity >= 25
    """,
)(_ir_query("lineitem", {
    "intent": "aggregate",
    "columns": [],
    "operations": [
        {"type": "filter", "column": "l_quantity", "operator": ">=", "value": "25"},
        {"type": "count", "column": "l_orderkey"},
    ],
}))

register(
    "r6b_grouped_mean",
    oracle=f"""
    SELECT c_mktsegment, {sql_davg('c_acctbal')} AS mean_c_acctbal
    FROM customer GROUP BY c_mktsegment
    """,
)(_ir_query("customer", {
    "intent": "aggregate",
    "columns": [],
    "operations": [{"type": "mean", "column": "c_acctbal", "by": "c_mktsegment"}],
}))

register(
    "r7b_grouped_sum",
    oracle=f"""
    SELECT l_linestatus, {sql_dsum('l_extendedprice')} AS sum_l_extendedprice
    FROM lineitem WHERE l_quantity > 40 GROUP BY l_linestatus
    """,
)(_ir_query("lineitem", {
    "intent": "aggregate",
    "columns": [],
    "operations": [
        {"type": "filter", "column": "l_quantity", "operator": ">", "value": "40"},
        {"type": "sum", "column": "l_extendedprice", "by": "l_linestatus"},
    ],
}))

register(
    "r9_group_by_count",
    oracle="""
    SELECT o_orderpriority, COUNT(o_orderpriority) AS count_o_orderpriority
    FROM orders GROUP BY o_orderpriority
    """,
)(_ir_query("orders", {
    "intent": "aggregate",
    "columns": [],
    "operations": [{"type": "group_by_count", "column": "o_orderpriority"}],
}))

# Sort + Describe cap (R10+R11). The sort key is the unique primary key so
# the capped row SET is deterministic (the reference's sort is unstable —
# SURVEY.md §4.3.7 — so ties at the cap boundary would be nondeterministic).
register(
    "r10_sort_r11_describe_cap",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders ORDER BY o_orderkey DESC LIMIT 10
    """,
)(_ir_query("orders", {
    "intent": "describe",
    "columns": ["o_orderkey", "o_totalprice", "o_orderdate"],
    "operations": [{"type": "sort", "column": "o_orderkey", "ascending": False}],
}))

register(
    "r11_visualize_cap",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer ORDER BY c_custkey LIMIT 100
    """,
)(_ir_query("customer", {
    "intent": "visualize",
    "columns": ["c_custkey", "c_name", "c_acctbal"],
    "operations": [{"type": "sort", "column": "c_custkey", "ascending": True}],
}))


# --------------------------------------------------------------------------
# P1-P13: profiler statistics (SURVEY.md §2.3), oracle-gated through the
# profiler's own count and percentile builders so the gate covers the
# profile path. Mean/stddev/correlation use the exact-decimal builders
# below instead of the profiler's F.avg/F.stddev_samp/F.corr, so the doubles
# match the DuckDB oracle bit for bit.
# --------------------------------------------------------------------------

def exact_numeric_stat_exprs(col: str) -> dict[str, Column]:
    """Exact-decimal twin of ``profiler.numeric_stat_exprs`` (P5/P6/P8):
    exact decimal sums -> identical doubles on any engine/partitioning.
    sum(x^2) uses scale=4 (squares of <=2dp inputs are exactly 4dp) and
    hi/lo split sums (totals of ~1e10-per-row terms exceed 2^63*1e-4)."""
    c = F.col(col).cast("double")
    n = F.count(c)
    s1 = dsum(c)
    s2 = dsum(c * c, scale=4, split=True)
    # sample variance = (S2 - S1^2/n) / (n-1); the same formula runs on the
    # oracle side (sql_numeric_stats).
    var = (s2 - (s1 * s1) / n) / (n - F.lit(1))
    return {
        "min": F.min(c),
        "max": F.max(c),
        "mean": s1 / n,
        "std_dev": F.sqrt(var),
    }


def exact_corr_expr(c1: str, c2: str) -> Column:
    """Exact-decimal twin of ``profiler.corr_expr`` (P11/P12):
    pairwise-complete Pearson over decimal sums."""
    x = F.col(c1).cast("double")
    y = F.col(c2).cast("double")
    both = F.when(x.isNotNull() & y.isNotNull(), F.lit(1))
    n = F.count(both)
    # Pairwise-complete decimal sums; products of <=2dp inputs are <=4dp.
    sx = dsum(F.when(both.isNotNull(), x))
    sy = dsum(F.when(both.isNotNull(), y))
    sxx = dsum(F.when(both.isNotNull(), x * x), scale=4, split=True)
    syy = dsum(F.when(both.isNotNull(), y * y), scale=4, split=True)
    sxy = dsum(F.when(both.isNotNull(), x * y), scale=4, split=True)
    cov = sxy - sx * sy / n
    vx = sxx - sx * sx / n
    vy = syy - sy * sy / n
    return F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))


def sql_numeric_stats(col: str) -> dict[str, str]:
    """DuckDB twins of :func:`exact_numeric_stat_exprs` plus the
    percentiles of ``profiler.percentile_expr``."""
    n = f"COUNT({col})"
    s1 = sql_dsum(col)
    s2 = sql_dsum(f"{col}*{col}", scale=4, split=True)
    return {
        "min": f"MIN({col})",
        "max": f"MAX({col})",
        "mean": f"{s1} / {n}",
        "median": f"QUANTILE_CONT({col}, 0.5)",
        "std_dev": f"SQRT(({s2} - ({s1})*({s1})/{n}) / ({n} - 1))",
        "percentile_25": f"QUANTILE_CONT({col}, 0.25)",
        "percentile_75": f"QUANTILE_CONT({col}, 0.75)",
    }


def sql_corr(c1: str, c2: str) -> str:
    """DuckDB twin of :func:`exact_corr_expr` (no-null case)."""
    n = "COUNT(*)"
    sx, sy = sql_dsum(c1), sql_dsum(c2)
    sxx = sql_dsum(f"{c1}*{c1}", scale=4, split=True)
    syy = sql_dsum(f"{c2}*{c2}", scale=4, split=True)
    sxy = sql_dsum(f"{c1}*{c2}", scale=4, split=True)
    return (
        f"(({sxy}) - ({sx})*({sy})/{n}) / "
        f"SQRT((({sxx}) - ({sx})*({sx})/{n}) * (({syy}) - ({sy})*({sy})/{n}))"
    )


def _profile_stats_query(table: str, cols: list[str]) -> tuple[SparkQuery, str]:
    from g_data_pipeline_spark.profiler import percentile_expr

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load_table(spark, sf_dir, table)
        exprs = []
        for c in cols:
            for stat, e in exact_numeric_stat_exprs(c).items():
                exprs.append(e.alias(f"{stat}_{c}"))
        fast = df.agg(*exprs)
        # percentiles: separate (imperative-agg) pass, cross-joined — both
        # sides are single-row aggregates (see percentile_expr docstring).
        # r10 split this per column below a size guard; the r11 interleaved
        # re-measure (verdict #4) shows the split is a repeat-wall WASH
        # (1.56-1.99 vs 1.53-2.42 s) and LOSES fresh (3.3-3.5 vs 2.5-3.1 s,
        # more plans to compile) while doubling rows_scanned — reverted to
        # the one-pass form (identical values either way, same exprs).
        pcts_base = df.agg(
            *[percentile_expr(c).alias(f"__pct_{c}") for c in cols]
        )
        pcts = pcts_base.select(
            *[
                F.col(f"__pct_{c}")[i].alias(f"{stat}_{c}")
                for c in cols
                for i, stat in enumerate(("percentile_25", "median", "percentile_75"))
            ]
        )
        return fast.crossJoin(pcts)

    select = ", ".join(
        f"{sql} AS {stat}_{c}"
        for c in cols
        for stat, sql in sql_numeric_stats(c).items()
    )
    return fn, f"SELECT {select} FROM {table}"


_p_fn, _p_sql = _profile_stats_query(
    "lineitem", ["l_quantity", "l_extendedprice", "l_discount"]
)
register("p_numeric_stats", oracle=_p_sql)(_p_fn)


def _profile_counts_query(table: str) -> tuple[SparkQuery, str]:
    from g_data_pipeline_spark.catalog import load_table as _lt
    from g_data_pipeline_spark.profiler import distinct_count_expr, null_count_expr

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _lt(spark, sf_dir, table)
        exprs = [F.count(F.lit(1)).alias("row_count")]
        for c in df.columns:
            exprs.append(null_count_expr(c))
            exprs.append(distinct_count_expr(c))
        return df.agg(*exprs)

    return fn, table


def _counts_sql(table: str, cols: list[str]) -> str:
    parts = ["COUNT(*) AS row_count"]
    for c in cols:
        parts.append(f"COUNT(*) - COUNT({c}) AS null_count_{c}")
        parts.append(f"COUNT(DISTINCT {c}) AS unique_count_{c}")
    return f"SELECT {', '.join(parts)} FROM {table}"


_c_fn, _ = _profile_counts_query("customer")
register(
    "p_null_unique_counts",
    oracle=_counts_sql(
        "customer", ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    ),
)(_c_fn)


def _corr_matrix_query(table: str, cols: list[str]) -> tuple[SparkQuery, str]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load_table(spark, sf_dir, table)
        exprs = []
        for i, c1 in enumerate(cols):
            for c2 in cols[i + 1:]:
                exprs.append(exact_corr_expr(c1, c2).alias(f"corr_{c1}_{c2}"))
        return df.agg(*exprs)

    select = ", ".join(
        f"{sql_corr(c1, c2)} AS corr_{c1}_{c2}"
        for i, c1 in enumerate(cols)
        for c2 in cols[i + 1:]
    )
    return fn, f"SELECT {select} FROM {table}"


_corr_fn, _corr_sql_q = _corr_matrix_query(
    "lineitem", ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
)
register("p_correlation_matrix", oracle=_corr_sql_q)(_corr_fn)


@register(
    "p_top_values",
    oracle="""
    SELECT c_mktsegment AS value, COUNT(*) AS cnt
    FROM customer WHERE c_mktsegment IS NOT NULL
    GROUP BY c_mktsegment
    ORDER BY cnt DESC, value ASC LIMIT 10
    """,
)
def p_top_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 top-k frequent values (count-desc, value-asc tiebreak)."""
    df = load_table(spark, sf_dir, "customer")
    return (
        df.filter(F.col("c_mktsegment").isNotNull())
        .groupBy(F.col("c_mktsegment").alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("value").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# Flagship: pricing-summary rollup (TPC-H Q1 shape).
# Exercises the reference's whole aggregate surface in one plan: R3 ordering
# filter + R9 group-by + R6 mean + R7 sum + R8 count (SURVEY.md §2.2), but as
# a single grouped aggregation with map-side partial combine — one shuffle on
# (l_returnflag, l_linestatus), which at 100 TB is the minimal-shuffle plan.
# --------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: filter -> grouped multi-aggregate (R3+R6-R9 fused)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register("p_profile_approx")  # rows-only: sketch layouts are engine-specific
def p_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB profiling path: HyperLogLog++ distinct counts
    (approx_count_distinct, rsd=0.01) and Greenwald-Khanna approximate
    percentiles (percentile_approx, accuracy 10000) over the numeric
    lineitem columns — one single-shuffle agg, constant-size sketch state
    per column instead of the exact paths' full-column ordering. Relative
    error pinned vs the exact profile in tests/test_profiler.py."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in ("l_quantity", "l_extendedprice", "l_discount"):
        aggs.append(
            F.approx_count_distinct(c, rsd=0.01)
            .cast("bigint")
            .alias(f"{c}_approx_distinct")
        )
        aggs.append(
            F.percentile_approx(
                c, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), 10000
            ).alias(f"{c}_approx_pcts")
        )
    return li.agg(*aggs)
