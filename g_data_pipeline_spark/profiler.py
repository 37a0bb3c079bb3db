"""Per-column statistical profiling — the reference's flagship computation
(``generate_insights``, ``/root/reference/src/services/processor.rs:264-456``;
SURVEY.md §2.3 P1-P13) re-expressed as Spark aggregations.

Plan shape (the scale story)
----------------------------
The reference computes one Polars pass per statistic. Here the profile is a
handful of flat ``df.agg(...)`` passes — counts, numeric stats, correlation
matrix, percentiles — each a single scan + a single (tiny) shuffle of partial
aggregate buffers regardless of column count. The passes stay SEPARATE:
whole-stage-codegen compile time is superlinear in plan width, and one fused
mega-agg (11 distinct counts + 28 correlations + 32 stats) measured ~60 s of
janino per call vs ~13 s total when split. Top-k frequent values add one
``groupBy(col)`` per categorical column (its own shuffle, unavoidable for
exact counts).

Exact or sketched: one size-derived rule
----------------------------------------
:func:`resolve_stat_method` reads the optimizer's size estimate of the input
BEFORE any job runs. At or under :data:`EXACT_MAX_BYTES` (4 GiB), or when
the size is unknown, the profile is exact: ``countDistinct`` and
``F.percentile`` with linear interpolation, matching the reference and the
DuckDB oracle (SURVEY.md §4.3.5). Above it, both switch to sketches: HLL
``approx_count_distinct`` (constant-size, no Expand duplicating the input
once per column before the shuffle) and the GK ``percentile_approx`` (no
reducer holding every value of a column) — the scale escape hatch of
SURVEY.md §7. Exact answers on test-sized data; a 100 TB table never pays a
full per-column value sort by accident.

One mode: this module is the service profiler. The registry's oracle-gated
``p_*`` queries reuse its exact count and percentile builders, and keep
their own exact-decimal mean/stddev/correlation builders and DuckDB twins
in ``query_defs/reference_surface.py`` (bit-identical doubles against the
oracle need decimal sums that the service does not pay for).

Semantics pinned against the reference (SURVEY.md §4.3):

- std dev is SAMPLE (ddof=1) — ``stddev_samp`` (processor.rs:355).
- unique counts use SQL semantics (nulls excluded) — the reference's Polars
  ``n_unique`` counts null as a value; we expose ``null_count`` separately
  (documented divergence, §4.3.3).
- correlation is standard pairwise-complete Pearson (``F.corr``) — the
  reference mixes full-column means into pairwise-complete covariance
  (processor.rs:458-520), a bug we do not reproduce (§4.3.1).
- top-10 frequent values: categorical columns only, count-desc with value
  as the tiebreaker, so the order is fixed (the reference's ordering on
  ties is unspecified, §2.3 P10).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NUMERIC_STATS = ("min", "max", "mean", "median", "std_dev", "percentile_25", "percentile_75")

#: Above this optimizer-estimated input size, profile() uses sketches (HLL
#: distinct counts, GK percentiles) instead of exact aggregates: exact
#: F.percentile holds every value of a column in one aggregation buffer, and
#: countDistinct expands the input once per column — fine at gigabytes, a
#: reducer OOM or a many-fold shuffle at 100 TB.
EXACT_MAX_BYTES = 4 * 1024**3

#: Size of each categorical column's P10 frequent-value map.
TOP_K = 10

#: Concurrent profile jobs in flight (guide §2.6). Enough to overlap the
#: independent aggregation passes and per-column top-k jobs; small enough
#: that they back-fill rather than fight for executors.
PROFILE_JOB_POOL = 8


@dataclass
class ColumnClasses:
    """P2 column classification (processor.rs:270-296): numeric / date /
    categorical (everything else, including booleans and free text)."""

    numeric: list[str] = field(default_factory=list)
    date: list[str] = field(default_factory=list)
    categorical: list[str] = field(default_factory=list)


def classify_columns(df: DataFrame) -> ColumnClasses:
    out = ColumnClasses()
    for f_ in df.schema.fields:
        if isinstance(f_.dataType, T.NumericType):
            out.numeric.append(f_.name)
        elif isinstance(f_.dataType, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            out.date.append(f_.name)
        else:
            out.categorical.append(f_.name)
    return out


# --------------------------------------------------------------------------
# Expression builders — profile()'s own. The oracle-gated p_* queries reuse
# the count and percentile builders; their exact-decimal stats live with
# them in query_defs/reference_surface.py.
# --------------------------------------------------------------------------

def null_count_expr(col: str) -> Column:
    """P3: nulls = COUNT(*) - COUNT(col)."""
    return (F.count(F.lit(1)) - F.count(col)).alias(f"null_count_{col}")


def distinct_count_expr(col: str, method: str = "exact") -> Column:
    """P4 with SQL null semantics (SURVEY.md §4.3.3)."""
    agg = F.countDistinct(col) if method == "exact" else F.approx_count_distinct(col)
    return agg.alias(f"unique_count_{col}")


def percentile_expr(col: str, percentile_method: str = "exact") -> Column:
    """P7/P9: [p25, median, p75] as ONE array-percentile aggregate.

    Why one array expression per column: exact Percentile is a
    TypedImperativeAggregate; piling many of them into one agg trips
    ObjectHashAggregate's sort-based fallback (measured 6× slower at sf0.1).
    One array-percentile per column keeps the imperative-agg count at
    #columns, and profile() runs them in a SEPARATE aggregation from the
    codegen-friendly stats so the fast path stays in whole-stage codegen.
    """
    c = F.col(col).cast("double")
    pcts = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    if percentile_method == "exact":
        return F.percentile(c, pcts)
    return F.percentile_approx(c, pcts)


def resolve_stat_method(df: DataFrame) -> str:
    """"exact" | "approx" for profile()'s distinct counts and percentiles,
    from the Catalyst size estimate of ``df``'s optimized plan (file sizes
    after pruning — no job is run to decide) against
    :data:`EXACT_MAX_BYTES`. RDD-backed in-memory relations have no stats
    and report the ``spark.sql.defaultSizeInBytes`` sentinel
    (Long.MaxValue); those resolve to "exact" — they already fit in cluster
    memory, while the 100 TB inputs this guard exists for are file-backed
    scans with real size stats. Deliberately coarse: the only wrong choice
    at the boundary is a slightly slower exact answer or a slightly
    approximate fast one, never an error."""
    size = int(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    if size >= 1 << 62:  # unknown-size sentinel
        return "exact"
    return "exact" if size <= EXACT_MAX_BYTES else "approx"


def numeric_stat_exprs(col: str) -> dict[str, Column]:
    """P5/P6/P8 for one numeric column (the codegen-friendly stats — min/max/
    mean/stddev); percentiles live in :func:`percentile_expr`."""
    c = F.col(col).cast("double")
    return {
        "min": F.min(c),
        "max": F.max(c),
        "mean": F.avg(c),
        "std_dev": F.stddev_samp(c),
    }


def corr_expr(c1: str, c2: str) -> Column:
    """P11/P12: standard pairwise-complete Pearson (reference bug not
    reproduced — SURVEY.md §4.3.1)."""
    return F.corr(c1, c2)


# --------------------------------------------------------------------------
# The profiler.
# --------------------------------------------------------------------------

def _top_values_plan(df: DataFrame, col: str) -> DataFrame:
    """P10: the top-k frequent values of one categorical column (count-desc,
    value-asc tiebreak; nulls excluded from the value map)."""
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col(col).asc())
        .limit(TOP_K)
    )


def _corr_pairs(numeric: list[str]) -> list[tuple[str, str]]:
    return [
        (c1, c2) for i, c1 in enumerate(numeric) for c2 in numeric[i + 1:]
    ]


def _profile_jobs(df: DataFrame, classes: ColumnClasses) -> list[tuple[str, DataFrame]]:
    """The profile's independent Spark jobs, in merge order: the counts /
    numeric stats / correlations / percentiles aggregate passes, then one
    top-k plan per categorical column."""
    method = resolve_stat_method(df)
    count_exprs: list[Column] = [F.count(F.lit(1)).alias("__row_count")]
    for c in df.columns:
        count_exprs.append(null_count_expr(c))
        count_exprs.append(distinct_count_expr(c, method))
    jobs = [("counts", df.agg(*count_exprs))]
    if classes.numeric:
        jobs.append((
            "stats",
            df.agg(*[
                e.alias(f"{stat}_{c}")
                for c in classes.numeric
                for stat, e in numeric_stat_exprs(c).items()
            ]),
        ))
    pairs = _corr_pairs(classes.numeric)
    if pairs:
        jobs.append((
            "corr",
            df.agg(*[
                corr_expr(c1, c2).alias(f"__corr_{c1}-{c2}") for c1, c2 in pairs
            ]),
        ))
    if classes.numeric:
        # All columns' percentiles in one pass, apart from the codegen'd
        # stats (see percentile_expr).
        jobs.append((
            "pcts",
            df.agg(*[
                percentile_expr(c, method).alias(f"__pct_{c}")
                for c in classes.numeric
            ]),
        ))
    for c in classes.categorical:
        jobs.append((f"top:{c}", _top_values_plan(df, c)))
    return jobs


def profile(df: DataFrame) -> dict[str, Any]:
    """Full P1-P13 profile as a JSON-shaped dict (numbers stay numeric;
    string formatting belongs at the API edge — SURVEY.md §4.3.6)."""
    classes = classify_columns(df)
    cols = df.columns

    # Plan cache, attached to the input DataFrame: rebuilding aggregate
    # plans mints fresh expression IDs, which defeats Spark's codegen cache
    # and re-pays analysis+compilation (~10 s here vs ~2 s execution at
    # sf0.1). Re-profiling the same dataset is the normal service pattern
    # (recompute-on-miss — SURVEY.md §3.2), so cache the built plans. They
    # depend on nothing but the DataFrame; plans only, never results.
    jobs = getattr(df, "_gdp_profile_jobs", None)
    if jobs is None:
        jobs = df._gdp_profile_jobs = _profile_jobs(df, classes)

    # Run the independent profile jobs CONCURRENTLY (guide §2.6: actions
    # are only sequential because the driver calls them sequentially; a
    # small pool lets the next job's tasks back-fill the tail of the
    # current one — on a cluster, stragglers; locally, the single-task
    # scan stages of a one-row-group parquet input). Results are merged
    # in a FIXED order below, so completion order never affects output.
    with ThreadPoolExecutor(max_workers=min(PROFILE_JOB_POOL, len(jobs))) as pool:
        futs = [(name, pool.submit(plan.collect)) for name, plan in jobs]
        collected = [(name, f.result()) for name, f in futs]

    row: dict[str, Any] = {}
    tv_rows: dict[str, list] = {}
    for name, rows in collected:
        if name.startswith("top:"):
            tv_rows[name[4:]] = rows
        else:
            row.update(rows[0].asDict())
    for c in classes.numeric:
        p25, med, p75 = row[f"__pct_{c}"] or (None, None, None)
        row[f"percentile_25_{c}"] = p25
        row[f"median_{c}"] = med
        row[f"percentile_75_{c}"] = p75

    dtype_by_col = {f_.name: f_.dataType.simpleString() for f_ in df.schema.fields}
    column_statistics = []
    for c in cols:
        stats: dict[str, Any] = {
            "name": c,
            "data_type": dtype_by_col[c],
            "null_count": row[f"null_count_{c}"],
            "unique_count": row[f"unique_count_{c}"],
        }
        if c in classes.numeric:
            for stat in NUMERIC_STATS:
                stats[stat] = row[f"{stat}_{c}"]
        if c in tv_rows:
            stats["top_values"] = {str(r[c]): r["cnt"] for r in tv_rows[c]}
        column_statistics.append(stats)

    result: dict[str, Any] = {
        "data_summary": {
            "row_count": row["__row_count"],
            "column_count": len(cols),
            "numeric_columns": classes.numeric,
            "date_columns": classes.date,
            "categorical_columns": classes.categorical,
            "summary_text": (
                f"Dataset contains {row['__row_count']} rows and {len(cols)} columns "
                f"({len(classes.numeric)} numeric, {len(classes.date)} date, "
                f"{len(classes.categorical)} categorical)."
            ),
        },
        "column_statistics": column_statistics,
    }
    pairs = _corr_pairs(classes.numeric)
    if pairs:
        result["correlations"] = {
            f"{c1}-{c2}": row[f"__corr_{c1}-{c2}"] for c1, c2 in pairs
        }
    return result


def format_insights(insights: dict[str, Any]) -> dict[str, Any]:
    """Presentation-layer twin of the reference's stringified stats
    (``{:.2}`` formatting baked into its JSON — models/response.rs:23-80).
    Kept separate so the engine stays numeric internally."""
    import copy

    out = copy.deepcopy(insights)
    for stats in out["column_statistics"]:
        for k in NUMERIC_STATS:
            if k in stats and stats[k] is not None:
                stats[k] = f"{stats[k]:.2f}"
    if "correlations" in out:
        out["correlations"] = {
            k: None if v is None else round(v, 4)
            for k, v in out["correlations"].items()
        }
    return out
