"""Mergeable incremental profiling — the 100 TB profiler architecture.

``profiler.profile()`` answers "profile this DataFrame now" in one aggregate
pass. At 100 TB that pass is a full scan: affordable once, not on every
refresh. The reference re-profiles the whole upload on demand
(``src/services/processor.rs`` recomputes insights from the full dataset);
this module is the scale path SURVEY §2.3/§6 calls for instead:

1. :func:`partial_profile` — ONE aggregate pass over a fact scan produces a
   tiny *stats dataset*: one row per ingest-partition key holding, per
   column, exactly-mergeable moments (count / nulls / decimal sum /
   sum-of-squares / min / max) plus constant-size mergeable sketches
   (datasketches HLL for distinct, KLL for quantiles). Bytes per (key,
   column) are constant, so the stats dataset is ~10^4-10^5 rows for a
   100 TB table — it fits anywhere.
2. Persist that stats dataset next to the data (parquet-friendly: flat
   longs / decimals / binaries).
3. :func:`merged_profile` — corpus-level statistics by FOLDING states:
   counts and decimal sums add, min/max fold, variance comes from moments,
   ``hll_union_agg`` unions the distinct sketches, KLL sketches fold
   pairwise. Scans ONLY the stats dataset — never the facts.
4. A new ingest batch appends (or replaces, :func:`refresh_partials`) its
   own partial rows; a global profile refresh is O(#partitions) regardless
   of history size.

Exactness contract: count / nulls / mean / min / max / stddev merge
EXACTLY — sums are accumulated as DECIMAL(38,6) (associative, order-free;
same argument as ``functions/deterministic.py``), and the few derived
double ops at the end are fixed-order. Distinct count and quantiles are
sketch ESTIMATES with pinned tolerance (HLL++ lgK=12 ≈ ±1.6% at 1σ; KLL
k=200 ≈ ±1.65% rank error) — the documented trade for never re-scanning
history. ``tests/test_incremental_profile.py`` pins both halves.

Scale notes:
- The KLL fold uses ``collect_list`` + ``F.reduce`` because Spark exposes
  KLL merge only as a 2-ary scalar (no merge *aggregate*). The list is the
  per-group set of partial sketches — O(#partitions) entries of ~KBs, i.e.
  bounded by the stats dataset itself, not the data. For >10^6 partitions,
  pre-fold per coarser key first (two-level tree) — same call, twice.
- ``hll_union_agg`` is a real aggregate (register-wise max in dense mode),
  so a union of partials is NEAR-identical to a single-pass sketch —
  sparse/HLL_4 partials promote during union and can shift the estimate a
  few counts (observed 5941 vs 5944 on 5944 true); pinned at 1% by test.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Accumulator shapes. decimal(27,6) per-row cast leaves sum headroom to
# decimal(38,6) for >10^11 rows of |x| <= 10^21-ish — far beyond the fact
# tables this profiles. Squares: values here are < ~1e5 (prices), squares
# < 1e10, cast through decimal(18,6)*decimal(18,6) -> exact, then capped
# back to (38,6); rescaling drops sub-micro square digits IF x has more
# than 3 decimal digits (test data has <= 2) — document per use.
_SUM_T = "decimal(27,6)"
_SQ_IN_T = "decimal(18,6)"
_ACC_T = "decimal(38,6)"

HLL_LG_K = 12
KLL_K = 200


def _c(name: str, part: str) -> str:
    return f"{name}__{part}"


def partial_profile(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] | Sequence[Column],
    str_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-partition-key mergeable profile states: ONE shuffle on ``by``.

    Output: ``by`` key columns, ``rows`` (total row count), and per column
    ``c``: ``c__cnt c__nulls c__sum c__sumsq c__min c__max`` (exact
    moments) + ``c__hll c__kll`` (binary sketches).

    ``str_cols`` get the SAME accumulator shape with the numeric stats
    computed over ``length(c)`` (mean/min/max/stddev/quantiles of string
    length — the text-pipeline health signal) while the HLL still
    sketches the VALUE, so ``distinct_est`` counts distinct strings.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("rows")]
    for c, is_str in [(c, False) for c in cols] + [
        (c, True) for c in str_cols
    ]:
        x = F.col(c)
        stat = F.length(x) if is_str else x
        xd = stat.cast("double")
        aggs += [
            F.count(x).alias(_c(c, "cnt")),
            F.sum(F.when(x.isNull(), 1).otherwise(0)).alias(_c(c, "nulls")),
            F.sum(stat.cast(_SUM_T)).cast(_ACC_T).alias(_c(c, "sum")),
            F.sum(
                (stat.cast(_SQ_IN_T) * stat.cast(_SQ_IN_T)).cast(_ACC_T)
            ).alias(_c(c, "sumsq")),
            F.min(xd).alias(_c(c, "min")),
            F.max(xd).alias(_c(c, "max")),
            # HLL input must be int/bigint/string/binary; the string cast is
            # 1:1 for distinct values (shortest-roundtrip double repr).
            F.hll_sketch_agg(x.cast("string"), HLL_LG_K).alias(_c(c, "hll")),
            F.kll_sketch_agg_double(xd, KLL_K).alias(_c(c, "kll")),
        ]
    return df.groupBy(*by).agg(*aggs)


def _fold_kll(col: str) -> Column:
    """Fold a column of KLL sketch binaries into one sketch.

    KLL merge is a 2-ary scalar in Spark (no merge aggregate), so partial
    sketches are gathered with ``collect_list`` — bounded by the number of
    partials in the group, NOT the data — and folded pairwise.
    """
    arr = F.collect_list(col)
    return F.reduce(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.element_at(arr, 1),
        lambda acc, s: F.kll_sketch_merge_double(acc, s),
    )


def merged_states(
    partials: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
) -> DataFrame:
    """Fold the stats dataset into accumulator states: one row per ``by``
    group (corpus-level single row when ``by`` is empty) with summed
    moments, HLL-union distinct estimate, and the folded KLL sketch
    binary per column. The building block shared by :func:`merged_profile`
    and ``operators/drift.py`` (which needs the sketch binaries
    themselves, not just derived scalars).

    ``by`` must be a prefix-compatible subset of the partial key (e.g.
    partials keyed ``(source, month)`` fold to per-``source`` profiles) —
    any slice of the stats dataset is a valid profile, that is the point
    of mergeable states."""
    aggs: list[Column] = [F.sum("rows").alias("rows")]
    for c in cols:
        aggs += [
            F.sum(_c(c, "cnt")).alias(_c(c, "cnt")),
            F.sum(_c(c, "nulls")).alias(_c(c, "nulls")),
            F.sum(_c(c, "sum")).alias(_c(c, "sum")),
            F.sum(_c(c, "sumsq")).alias(_c(c, "sumsq")),
            F.min(_c(c, "min")).alias(_c(c, "min")),
            F.max(_c(c, "max")).alias(_c(c, "max")),
            F.hll_sketch_estimate(F.hll_union_agg(_c(c, "hll"), False)).alias(
                _c(c, "distinct")
            ),
            _fold_kll(_c(c, "kll")).alias(_c(c, "kll")),
        ]
    return partials.groupBy(*by).agg(*aggs)


def merged_profile(
    partials: DataFrame,
    cols: Sequence[str],
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
    by: Sequence[str] = (),
) -> DataFrame:
    """Profile from the stats dataset alone (facts unread): corpus-level
    by default, per-``by``-group when a key subset is given.

    One row per (group ×) column: exact ``cnt nulls mean min max stddev``
    plus ``distinct_est`` (HLL union) and ``q{p}_est`` quantile estimates
    (KLL fold). Scalar columns only.
    """
    folded = merged_states(partials, cols, by)

    # Derived stats: exact decimal moments -> fixed-order double arithmetic
    # (deterministic; same policy as the registry's exact builders,
    # query_defs.reference_surface.exact_numeric_stat_exprs).
    per_col = []
    for c in cols:
        cnt = F.col(_c(c, "cnt"))
        s = F.col(_c(c, "sum")).cast("double")
        sq = F.col(_c(c, "sumsq")).cast("double")
        n = cnt.cast("double")
        var = F.when(
            cnt > 1, F.greatest((sq - s * s / n) / (n - 1.0), F.lit(0.0))
        ).otherwise(F.lit(0.0))
        fields = [
            F.lit(c).alias("column"),
            cnt.alias("cnt"),
            F.col(_c(c, "nulls")).alias("nulls"),
            F.when(cnt > 0, s / n).alias("mean"),
            F.col(_c(c, "min")).alias("min"),
            F.col(_c(c, "max")).alias("max"),
            F.sqrt(var).alias("stddev"),
            F.col(_c(c, "distinct")).alias("distinct_est"),
        ]
        for q in quantiles:
            fields.append(
                F.kll_sketch_get_quantile_double(
                    F.col(_c(c, "kll")), F.lit(float(q))
                ).alias(f"q{int(round(q * 100))}_est")
            )
        per_col.append(F.struct(*fields))
    # One row per (group ×) column, EXPLODEd from each folded row
    # (CLAUDE.md: a union of N selects would re-run the fold N times).
    return folded.select(
        *by, F.explode(F.array(*per_col)).alias("s")
    ).select(*by, "s.*")


def partial_heavy_hitters(
    df: DataFrame,
    col: str,
    by: Sequence[str] | Sequence[Column],
    k: int = 64,
) -> DataFrame:
    """Per-partition-key mergeable heavy-hitter summary: the capped
    top-``k`` value counts plus the truncation bound — the mergeable
    frequent-items sketch of Agarwal et al., *Mergeable Summaries*
    (PODS '12), kept in exact-count form so the fold gives deterministic
    lower/upper brackets instead of randomized estimates.

    Output: ``by`` keys + one row per kept value — ``value`` (stringified,
    1:1), ``cnt`` (EXACT count within the partial), ``kth_cnt`` (the
    count at rank ``k``, repeated on every row of the partial; 0 when the
    partial has ≤ k distinct values). Any value ABSENT from a partial's
    kept set occurs at most ``kth_cnt`` times there — that is the slack
    :func:`merged_heavy_hitters` charges when bracketing totals.

    Shape: one shuffle for the ``(by, value)`` count, one for the
    per-``by`` window rank; the second window (min over kept rows) reuses
    the rank's hash partitioning — no third exchange. Stats-dataset
    economics: ≤ k rows per partition key regardless of fact volume.
    """
    from pyspark.sql import Window

    cnts = (
        df.where(F.col(col).isNotNull())
        .groupBy(*by, F.col(col).cast("string").alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    keys = [c for c in cnts.columns if c not in ("value", "cnt")]
    w_rank = Window.partitionBy(*keys).orderBy(F.desc("cnt"), F.asc("value"))
    w_all = Window.partitionBy(*keys)
    ranked = cnts.select(
        "*",
        F.row_number().over(w_rank).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("__nd"),
    )
    kept = ranked.where(F.col("__rn") <= k)
    return kept.select(
        *keys,
        "value",
        "cnt",
        F.when(F.col("__nd") > k, F.min("cnt").over(w_all))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("kth_cnt"),
    )


def merged_heavy_hitters(
    partials: DataFrame,
    k: int = 10,
    by: Sequence[str] = (),
) -> DataFrame:
    """Fold heavy-hitter partials into global (or per-``by``-group) top-k
    with DETERMINISTIC count brackets, scanning only the stats dataset.

    Per value: ``cnt_lo`` = sum of counts over partials where it was kept
    (≤ true count), ``cnt_hi`` = ``cnt_lo`` + Σ ``kth_cnt`` over partials
    where it was ABSENT (≥ true count — an absent value occurs at most
    ``kth_cnt`` times in that partial). Ranked by ``cnt_lo``; any value
    whose true count exceeds every returned ``cnt_hi`` would necessarily
    rank in — so heavy hitters clearing the total slack are guaranteed
    present, and when every partial held ≤ k distinct values the slack is
    0 and the fold is EXACT (cnt_lo == cnt_hi == true), the same
    exact-below-capacity regime as Theta sketches.

    ``by`` must be a subset of the partial key columns (e.g. partials
    keyed ``(source, day)`` fold to per-``source`` top-k); empty folds the
    whole stats dataset. The absent-partial slack is the per-group Σ of
    one ``kth_cnt`` per partial minus the Σ over partials where the value
    was present — two aggregates over the tiny stats dataset plus one
    broadcast join; facts are never touched.
    """
    from pyspark.sql import Window

    keys = [
        c for c in partials.columns if c not in ("value", "cnt", "kth_cnt")
    ]
    by = list(by)
    per_partial = partials.groupBy(*keys).agg(
        F.first("kth_cnt").alias("kth_cnt")
    )
    slack = per_partial.groupBy(*by).agg(
        F.sum("kth_cnt").cast("bigint").alias("__gslack")
    )
    per_value = partials.groupBy(*by, "value").agg(
        F.sum("cnt").cast("bigint").alias("cnt_lo"),
        F.sum("kth_cnt").cast("bigint").alias("__pslack"),
    )
    joined = (
        per_value.join(F.broadcast(slack), on=by)
        if by
        else per_value.crossJoin(F.broadcast(slack))
    )
    w = Window.partitionBy(*by).orderBy(F.desc("cnt_lo"), F.asc("value"))
    return (
        joined.select(
            *by,
            "value",
            "cnt_lo",
            (F.col("cnt_lo") + F.col("__gslack") - F.col("__pslack"))
            .cast("bigint")
            .alias("cnt_hi"),
        )
        .select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= k)
    )


def refresh_partials(
    existing: DataFrame, fresh: DataFrame, key: Sequence[str]
) -> DataFrame:
    """Latest-wins upsert of re-ingested partition keys into the stats
    dataset: anti-join out replaced keys, append the fresh rows. Cost is
    O(stats rows) — the facts are never touched."""
    return existing.join(
        fresh.select(*key).distinct(), on=list(key), how="left_anti"
    ).unionByName(fresh)


def rolling_distinct_estimates(
    daily: DataFrame,
    day_col: str,
    hll_col: str,
    window_days: int,
) -> DataFrame:
    """Rolling N-day distinct-count estimates from per-day HLL sketches —
    the WAU/MAU query without ever re-scanning events.

    Input: one row per day with that day's HLL sketch (e.g. built by
    ``partial_profile`` keyed on the day, or directly with
    ``hll_sketch_agg(user_id)``). ``hll_union_agg`` runs as a WINDOW
    aggregate over the trailing ``window_days`` rows, so the whole
    rolling series costs one pass over #days rows of constant-size
    sketches. Exact windowed COUNT(DISTINCT) over raw events re-shuffles
    every event into every window it touches — N× the data, per window
    length; this is the standard sketch trade (±1.6% at lgK=12).

    Assumes ``daily`` has ONE row per day (pre-fold multiple sources
    with ``hll_union_agg`` first). The trailing frame is rows-based:
    missing days simply contribute nothing (document per use, or gap-fill
    the day spine with operators/resample.py first).
    """
    from pyspark.sql import Window

    w = (
        Window.orderBy(day_col)
        .rowsBetween(-(window_days - 1), Window.currentRow)
    )
    return daily.select(
        day_col,
        F.hll_sketch_estimate(F.hll_union_agg(hll_col, False).over(w)).alias(
            f"distinct_{window_days}d_est"
        ),
    )
