"""Profiler golden tests: Spark profile() vs an independent numpy/pandas
implementation on the people.csv fixture (FIXTURES.md §A) — stronger than a
checked-in JSON because every expected number is recomputed by a second
engine."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from g_data_pipeline_spark.profiler import (
    classify_columns,
    format_insights,
    profile,
)

FIXTURE = str(Path(__file__).parent / "fixtures" / "people.csv")


@pytest.fixture(scope="module")
def people(spark):
    return (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .csv(FIXTURE)
    )


@pytest.fixture(scope="module")
def people_pd():
    return pd.read_csv(FIXTURE)


def test_column_classification(people):
    classes = classify_columns(people)
    assert "age" in classes.numeric and "score" in classes.numeric
    # income stays string pre-ingest (messy "1,200" formatting)
    assert " income as at joining scheme " in classes.categorical
    assert "registration_date" in classes.date  # clean ISO dates infer as date
    assert "sex" in classes.categorical and "comments" in classes.categorical


def test_profile_shape_and_counts(people, people_pd):
    p = profile(people)
    ds = p["data_summary"]
    assert ds["row_count"] == len(people_pd) == 200
    assert ds["column_count"] == 12
    names = {s["name"] for s in p["column_statistics"]}
    assert names == set(people.columns)
    by_name = {s["name"]: s for s in p["column_statistics"]}
    assert by_name["age"]["null_count"] == int(people_pd["age"].isna().sum())
    assert by_name["age"]["unique_count"] == people_pd["age"].nunique()
    assert by_name["sex"]["null_count"] == 0
    assert by_name["sex"]["unique_count"] == 2


def test_numeric_stats_match_numpy(people, people_pd):
    p = profile(people)
    by_name = {s["name"]: s for s in p["column_statistics"]}
    for col in ("age", "score"):
        vals = people_pd[col].dropna().to_numpy(dtype=float)
        got = by_name[col]
        assert got["min"] == pytest.approx(vals.min())
        assert got["max"] == pytest.approx(vals.max())
        assert got["mean"] == pytest.approx(vals.mean(), rel=1e-9)
        assert got["median"] == pytest.approx(np.percentile(vals, 50), rel=1e-9)
        assert got["std_dev"] == pytest.approx(vals.std(ddof=1), rel=1e-9)
        # exact linear interpolation, same definition as np.percentile
        assert got["percentile_25"] == pytest.approx(np.percentile(vals, 25), rel=1e-9)
        assert got["percentile_75"] == pytest.approx(np.percentile(vals, 75), rel=1e-9)


def test_correlations_match_pandas(people, people_pd):
    p = profile(people)
    expected = people_pd["age"].corr(people_pd["score"])  # pairwise-complete
    assert p["correlations"]["age-score"] == pytest.approx(expected, rel=1e-9)
    # score is built as ~1.5*age + noise -> strongly positive
    assert p["correlations"]["age-score"] > 0.8


def test_deterministic_mode_agrees_with_default(people):
    """profile()'s built-in mean/stddev/corr agree with the exact-decimal
    deterministic builders the oracle-gated queries use."""
    from g_data_pipeline_spark.query_defs.reference_surface import (
        exact_corr_expr,
        exact_numeric_stat_exprs,
    )

    fast = profile(people)
    exprs = [
        e.alias(f"{stat}_{col}")
        for col in ("age", "score")
        for stat, e in exact_numeric_stat_exprs(col).items()
        if stat in ("mean", "std_dev")
    ]
    exprs.append(exact_corr_expr("age", "score").alias("corr"))
    det = people.agg(*exprs).collect()[0]
    fb = {s["name"]: s for s in fast["column_statistics"]}
    for col in ("age", "score"):
        for stat in ("mean", "std_dev"):
            assert fb[col][stat] == pytest.approx(det[f"{stat}_{col}"], rel=1e-6)
    assert fast["correlations"]["age-score"] == pytest.approx(det["corr"], rel=1e-6)


def test_top_values_categorical_only(people, people_pd):
    p = profile(people)
    by_name = {s["name"]: s for s in p["column_statistics"]}
    assert "top_values" not in by_name["age"]  # numeric: none (P10)
    tv = by_name["province"]["top_values"]
    expected = people_pd["province"].value_counts()
    assert tv == {str(k): int(v) for k, v in expected.items()}
    # high-cardinality text: capped at 10
    assert len(by_name["comments"]["top_values"]) == 10


def test_approx_modes_run_and_are_close(spark, people_pd, monkeypatch):
    """Above the size bound profile() uses HLL distinct counts and GK
    percentiles; both must track the exact answers."""
    from g_data_pipeline_spark import profiler

    monkeypatch.setattr(profiler, "EXACT_MAX_BYTES", 1)
    # a fresh frame (the module fixture carries cached exact plans)
    p = profile(
        spark.read.option("header", True).option("inferSchema", True).csv(FIXTURE)
    )
    by_name = {s["name"]: s for s in p["column_statistics"]}
    vals = people_pd["score"].dropna().to_numpy(dtype=float)
    assert by_name["score"]["median"] == pytest.approx(np.percentile(vals, 50), rel=0.05)
    for col in ("age", "score", "province", "comments"):
        assert by_name[col]["unique_count"] == pytest.approx(
            people_pd[col].nunique(), rel=0.1
        )


def test_percentile_auto_switch_both_ways(spark, tmp_path, monkeypatch):
    """The size-derived method must resolve exact at or under
    EXACT_MAX_BYTES and approx above it — observable end-to-end: exact p50
    of [1,2,3,4] is the interpolated 2.5, which the GK sketch can never
    return (it reports an actual element)."""
    from g_data_pipeline_spark import profiler

    # file-backed scan: real size stats drive the choice
    path = str(tmp_path / "vals")
    spark.createDataFrame([(float(i),) for i in (1, 2, 3, 4)], ["v"]).write.parquet(path)
    df = spark.read.parquet(path)
    assert profiler.resolve_stat_method(df) == "exact"  # a few hundred bytes
    exact = profile(df)
    assert exact["column_statistics"][0]["median"] == 2.5  # exact path ran
    assert exact["column_statistics"][0]["unique_count"] == 4

    monkeypatch.setattr(profiler, "EXACT_MAX_BYTES", 1)
    df = spark.read.parquet(path)  # fresh frame: no cached plans
    assert profiler.resolve_stat_method(df) == "approx"
    approx = profile(df)
    assert approx["column_statistics"][0]["median"] in (2.0, 3.0)  # sketch ran
    assert approx["column_statistics"][0]["unique_count"] == pytest.approx(4, abs=1)

    # RDD-backed in-memory relation: unknown-size sentinel -> exact
    local = spark.createDataFrame([(1.0,), (2.0,)], ["v"])
    assert profiler.resolve_stat_method(local) == "exact"


def test_format_insights_presentation_layer(people):
    p = profile(people)
    out = format_insights(p)
    by_name = {s["name"]: s for s in out["column_statistics"]}
    assert isinstance(by_name["age"]["mean"], str)  # "{:.2f}" at the edge
    assert "." in by_name["age"]["mean"]
    # original dict untouched (numeric internally)
    assert isinstance(
        {s["name"]: s for s in p["column_statistics"]}["age"]["mean"], float
    )


def test_profile_approx_within_tolerance(spark):
    """The sketch-based profile path (p_profile_approx) must track the
    exact statistics: HLL++ distinct within 2% (rsd=0.01), GK percentiles
    within 0.5% relative rank error."""
    from pyspark.sql import functions as F

    from g_data_pipeline_spark.catalog import load_table
    from g_data_pipeline_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    row = REGISTRY["p_profile_approx"].fn(spark, sf).collect()[0]
    li = load_table(spark, sf, "lineitem")
    for c in ("l_quantity", "l_extendedprice", "l_discount"):
        exact_distinct = li.select(F.countDistinct(c)).collect()[0][0]
        approx = row[f"{c}_approx_distinct"]
        assert abs(approx - exact_distinct) <= 0.02 * exact_distinct + 1
        exact_pcts = li.select(
            F.percentile(c, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
        ).collect()[0][0]
        spread = exact_pcts[2] - exact_pcts[0] or 1.0
        for got, want in zip(row[f"{c}_approx_pcts"], exact_pcts):
            assert abs(got - want) <= 0.005 * spread + 1e-9, (c, got, want)
