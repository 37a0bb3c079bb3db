"""CSV ingest: schema-inferred read, type coercion, Parquet landing (S1-S4).

The reference parses the raw CSV with schema inference on every single query
(three duplicate parse sites — SURVEY.md §2.1 S1) and never lands a columnar
copy. Here ingest is a one-time step: read CSV once, run the coercion pass,
write Parquet. Every later query is a parquet scan with pushdown + pruning —
at 100 TB this converts O(queries × full-CSV-parse) into O(1) parse +
O(queries × pruned-columnar-read).

Date/number inference: the reference's README promises "intelligent date
parsing" but no such code exists (SURVEY.md §1.2 caveat — README.md:17,
207-210 vs the bare ``infer_schema(100)`` call sites). This module implements
the documented intent explicitly and testably:

- For every string column, ONE aggregation pass computes the fraction of
  non-blank values parseable under each candidate format (dates, timestamps,
  and human-formatted numbers like "1,200" / " 950 "). No driver-side loops
  over data, no per-column scans — the whole decision is a single job over
  all columns at once, so it scales with one pass regardless of column count.
- A column is coerced when >= ``COERCE_THRESHOLD`` (0.95) of its non-blank
  values parse; winning format is the first candidate (ordered by
  specificity) that clears the bar.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Candidate formats, most-specific first. Spark datetime patterns.
TIMESTAMP_FORMATS = (
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "M/d/yyyy HH:mm",
    "M/d/yyyy H:mm",
)
DATE_FORMATS = (
    "yyyy-MM-dd",
    "M/d/yyyy",
    "dd-MM-yyyy",
)
# Coercion candidates as (kind, format), most-specific first.
_CANDIDATES = (
    *(("timestamp", fmt) for fmt in TIMESTAMP_FORMATS),
    *(("date", fmt) for fmt in DATE_FORMATS),
    ("number", None),
)
# Human-formatted numerics: optional thousands separators and whitespace.
_NUMBER_CLEAN = r"[,\s]"
# Share of a string column's non-blank values that must parse to coerce it.
COERCE_THRESHOLD = 0.95


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1: CSV scan (header row) with full-scan schema inference — the
    reference infers from the first 100 rows (processor.rs:255-258)."""
    return spark.read.option("header", True).option("inferSchema", True).csv(path)


def _non_blank(col: str) -> Column:
    return F.when(F.trim(F.col(col)) != "", F.col(col))


def _parse_expr(col: str, kind: str, fmt: str | None) -> Column:
    """``col`` parsed as one candidate kind/format; NULL for blank strings
    (missing values, not parse failures) and for unparseable values (the
    ``try_`` functions never raise, so this is ANSI-safe)."""
    base = _non_blank(col)
    if kind == "number":
        return F.regexp_replace(base, _NUMBER_CLEAN, "").try_cast("double")
    parsed = F.try_to_timestamp(base, F.lit(fmt))
    return parsed.cast("date") if kind == "date" else parsed


@dataclass(frozen=True)
class CoercionDecision:
    column: str
    kind: str  # "date" | "timestamp" | "number"
    fmt: str | None
    parse_rate: float


def plan_coercions(df: DataFrame) -> list[CoercionDecision]:
    """One aggregation pass over all string columns × candidate formats;
    returns the winning coercion per column (if any)."""
    string_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    if not string_cols:
        return []

    exprs: list[Column] = []
    for ci, col in enumerate(string_cols):
        exprs.append(F.count(_non_blank(col)).alias(f"__b::{ci}"))
        for i, (kind, fmt) in enumerate(_CANDIDATES):
            exprs.append(F.count(_parse_expr(col, kind, fmt)).alias(f"__p::{ci}::{i}"))

    row = df.agg(*exprs).collect()[0].asDict()

    decisions: list[CoercionDecision] = []
    for ci, col in enumerate(string_cols):
        non_blank = row[f"__b::{ci}"]
        if non_blank == 0:
            continue
        # candidates are ordered most-specific first
        for i, (kind, fmt) in enumerate(_CANDIDATES):
            rate = row[f"__p::{ci}::{i}"] / non_blank
            if rate >= COERCE_THRESHOLD:
                decisions.append(CoercionDecision(col, kind, fmt, rate))
                break
    return decisions


def coerce_types(df: DataFrame) -> tuple[DataFrame, list[CoercionDecision]]:
    """Apply the planned coercions; blank strings become NULL in coerced
    columns (they are missing values, not parse failures)."""
    decisions = plan_coercions(df)
    out = df.withColumns(
        {d.column: _parse_expr(d.column, d.kind, d.fmt) for d in decisions}
    )
    return out, decisions


def normalize_column_names(df: DataFrame) -> DataFrame:
    """Trim/snake-case messy CSV headers (" income as at joining scheme ")."""
    import re

    renames = {}
    for c in df.columns:
        clean = re.sub(r"\s+", "_", c.strip()).lower()
        if clean != c:
            renames[c] = clean
    return df.withColumnsRenamed(renames) if renames else df


def land_csv(
    spark: SparkSession, src: str, dest: str
) -> tuple[DataFrame, list[CoercionDecision]]:
    """S1+S3: CSV -> typed Parquet, the ingest boundary of the engine:
    read, normalize header names, coerce, write, re-open the Parquet."""
    df, decisions = coerce_types(normalize_column_names(read_csv(spark, src)))
    df.write.mode("overwrite").parquet(dest)
    return spark.read.parquet(dest), decisions

