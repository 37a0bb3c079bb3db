"""Ingest tests: date/number coercion (the README-promised feature the
reference never built — SURVEY.md §1.2), name normalization, CSV->Parquet
landing, Parquet compaction."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import types as T

from g_data_pipeline_spark.sources import coerce_types, land_csv, read_csv
from g_data_pipeline_spark.sources.ingest import (
    normalize_column_names,
    plan_coercions,
)

FIXTURE = str(Path(__file__).parent / "fixtures" / "people.csv")


@pytest.fixture(scope="module")
def people_raw(spark):
    # Force everything to string so coercion decisions are exercised even
    # where Spark's inferSchema would already win.
    df = read_csv(spark, FIXTURE)
    return df.selectExpr(*[f"CAST(`{c}` AS STRING) AS `{c}`" for c in df.columns])


def test_plan_coercions_single_pass(spark, people_raw):
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    decisions = plan_coercions(people_raw)
    after = len(tracker.getJobIdsForGroup(None))
    assert after - before <= 2  # one agg job (+1 for possible AQE subjob)
    by_col = {d.column: d for d in decisions}
    assert by_col["registration_date"].kind == "date"
    assert by_col["age"].kind == "number"
    assert by_col[" income as at joining scheme "].kind == "number"
    # mixed ISO + US datetime formats: neither single format clears 95%
    assert "last_login" not in by_col


def test_coerce_types_applies_and_nulls_blanks(spark, people_raw):
    out, decisions = coerce_types(people_raw)
    schema = {f.name: f.dataType for f in out.schema.fields}
    assert isinstance(schema["registration_date"], T.DateType)
    assert isinstance(schema["age"], T.DoubleType)
    income = out.select(" income as at joining scheme ").collect()
    vals = {r[0] for r in income}
    assert None in vals  # blanks -> NULL
    assert 1200.0 in vals  # "1,200" parsed
    assert 950.0 in vals  # " 950 " parsed


def test_land_csv_roundtrip(spark, tmp_path):
    dest = str(tmp_path / "people.parquet")
    df, decisions = land_csv(spark, FIXTURE, dest)
    assert df.count() == 200
    cols = set(df.columns)
    assert "income_as_at_joining_scheme" in cols  # normalized name
    schema = {f.name: f.dataType for f in df.schema.fields}
    # registration_date may be typed by inferSchema itself or by the coercion
    # pass — either way the landed parquet is date-typed.
    assert isinstance(schema["registration_date"], T.DateType)
    # income can't be inferred (thousands separators) -> must be a coercion.
    assert "income_as_at_joining_scheme" in {d.column for d in decisions}
    assert isinstance(schema["income_as_at_joining_scheme"], T.DoubleType)


def test_normalize_column_names(spark):
    df = spark.createDataFrame([(1, 2)], ["  A  B ", "ok"])
    out = normalize_column_names(df)
    assert out.columns == ["a_b", "ok"]


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """50 tiny files -> a handful of right-sized ones, rows identical;
    sort_by gives each output file a disjoint key range (min/max stats
    become useful for file skipping)."""
    from pyspark.sql import functions as F

    from g_data_pipeline_spark.sources.compact import (
        compact_parquet,
        dataset_bytes,
    )

    src = str(tmp_path / "tiny")
    dest = str(tmp_path / "compacted")
    df = spark.range(0, 20000).select(
        F.col("id"), (F.col("id") % 97).alias("k"), F.rand(5).alias("v")
    )
    df.repartition(50).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*.parquet")) == 50
    n = compact_parquet(
        spark, src, dest, target_file_mb=1, sort_by=["id"]
    )
    files = sorted(glob.glob(f"{dest}/part-*.parquet"))
    assert len(files) == n < 50
    out = spark.read.parquet(dest)
    assert out.count() == 20000
    assert sorted(r.id for r in out.collect()) == list(range(20000))
    # disjoint id ranges per file (range partition + sorted within)
    ranges = []
    for f in files:
        rows = spark.read.parquet(f).agg(
            F.min("id").alias("lo"), F.max("id").alias("hi")
        ).collect()[0]
        ranges.append((rows.lo, rows.hi))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "output files overlap in key range"
    assert dataset_bytes(spark, dest) > 0


def test_zorder_compact_tightens_boxes_on_both_columns(spark, tmp_path):
    """Z-order clustering must give every output file a tight bounding box
    on BOTH clustered columns, where single-key range sorting is tight on
    the sort key but spans the full range of the other column — the
    multi-column file-skipping property."""
    import glob as globmod

    from pyspark.sql import functions as F

    from g_data_pipeline_spark.sources.compact import zorder_compact

    src = "/root/testdata/sf0.001/lineitem.parquet"
    zdest = str(tmp_path / "zorder")
    sdest = str(tmp_path / "singlesort")
    n = 8
    zorder_compact(spark, src, zdest, ["l_quantity", "l_extendedprice"], n_files=n)

    df = spark.read.parquet(src)
    (
        df.repartitionByRange(n, "l_quantity")
        .sortWithinPartitions("l_quantity")
        .write.mode("overwrite")
        .parquet(sdest)
    )

    full = df.agg(
        (F.max("l_quantity") - F.min("l_quantity")).alias("q"),
        (F.max("l_extendedprice") - F.min("l_extendedprice")).alias("p"),
    ).collect()[0]

    def mean_widths(dest):
        qs, ps = [], []
        for f in globmod.glob(f"{dest}/part-*.parquet"):
            r = (
                spark.read.parquet(f)
                .agg(
                    (F.max("l_quantity") - F.min("l_quantity")).alias("q"),
                    (F.max("l_extendedprice") - F.min("l_extendedprice")).alias("p"),
                )
                .collect()[0]
            )
            qs.append(float(r.q))
            ps.append(float(r.p))
        return sum(qs) / len(qs), sum(ps) / len(ps), len(qs)

    zq, zp, zn = mean_widths(zdest)
    sq, sp, sn = mean_widths(sdest)
    assert zn == n and sn == n
    # single-key sort: price boxes span ~the full price range
    assert sp > 0.9 * float(full.p)
    # z-order: BOTH dimensions clustered — each box covers well under the
    # full range on both columns, and price boxes beat single-sort's
    assert zq < 0.75 * float(full.q)
    assert zp < 0.75 * float(full.p)
    assert zp < sp

    # row-parity: clustering rewrites, never drops
    assert spark.read.parquet(zdest).count() == df.count()


def test_zorder_value_rejects_bit_overflow():
    import pytest as _pytest

    from g_data_pipeline_spark.sources.compact import zorder_value

    with _pytest.raises(ValueError, match="63"):
        zorder_value(["a", "b", "c", "d", "e"], bits=16)
