"""Seeded inputs for the service benchmark.

Everything the program sees is made here from the ``--seed``: the CSV bytes
it is asked to ingest and the conversation-query requests it is asked to
answer. The generator also keeps the typed rows behind each CSV, so the
benchmark can check answers against values computed in plain Python.

Shapes:

- ``upload_csv`` — the ingest workload's file: messy people-style columns
  (padded header, blanks, ``"1,200"``-style numbers, one ISO date column,
  one column mixing two timestamp formats, free text). Its row count is the
  only knob; the expected column classification is fixed by construction.
- ``chat_tables`` — two datasets landed during set-up for the chat workload,
  with no date columns (query rows must serialize as JSON).
- ``query_pool`` / ``make_query`` — conversation queries over those tables
  in a fixed blend of shapes (``mix``), half natural-language text and half
  IR, with seeded columns and filter values and a Python-computed answer.
"""

from __future__ import annotations

import csv
import io
import random
from dataclasses import dataclass
from typing import Any

UPLOAD_ROWS = 4000

# Expected profile classification of ``upload_csv`` after column-name
# normalisation (numeric / date / categorical, in column order).
UPLOAD_CLASSES = {
    "numeric_columns": ["age", "score", "income_as_at_joining_scheme"],
    "date_columns": ["registration_date"],
    "categorical_columns": [
        "sex",
        "country",
        "education",
        "province",
        "marital_status",
        "last_login",
        "comments",
    ],
}

_EDUCATION = ["primary", "secondary", "bachelor", "master", "phd"]
_PROVINCE = ["north", "south", "east", "west"]


def upload_csv(rng: random.Random, rows: int = UPLOAD_ROWS) -> bytes:
    """One messy people-style CSV (see module docstring)."""
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    w.writerow(
        [
            "age",
            "score",
            " income as at joining scheme ",
            "sex",
            "country",
            "education",
            "province",
            "marital_status",
            "registration_date",
            "last_login",
            "comments",
        ]
    )
    for i in range(rows):
        age = "" if rng.random() < 0.05 else rng.randint(18, 65)
        score = round((age if age != "" else 40) * 1.5 + rng.uniform(-10, 10), 2)
        income = rng.choice(
            [f"{rng.randint(1, 9)},{rng.randint(0, 999):03d}", f" {rng.randint(100, 999)} ",
             str(rng.randint(1000, 5000)), f"{rng.randint(1000, 5000)}.50", ""]
        )
        reg = (
            ""
            if rng.random() < 0.1
            else f"202{rng.randint(2, 4)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        )
        if i % 2 == 0:
            login = (
                f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} "
                f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00"
            )
        else:
            login = (
                f"{rng.randint(1, 12)}/{rng.randint(1, 28)}/2024 "
                f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}"
            )
        w.writerow(
            [
                age,
                score,
                income,
                rng.choices(["M", "F"], weights=[60, 40])[0],
                rng.choices(["GH", "NG"], weights=[99, 1])[0],
                rng.choice(_EDUCATION),
                rng.choice(_PROVINCE),
                rng.choices(["married", "single"], weights=[95, 5])[0],
                reg,
                login,
                rng.choice(["", f"note {i} free text", f"call back {i}", f"vip customer {i}"]),
            ]
        )
    return out.getvalue().encode()


# ---- chat datasets ---------------------------------------------------------

@dataclass
class Table:
    name: str
    columns: list[str]
    numeric: list[str]  # columns the program should type as numbers
    categorical: list[str]
    rows: list[dict[str, Any]]  # typed values, None for blanks
    csv_bytes: bytes


def _table(name: str, columns: list[str], numeric: list[str], rows, raw_rows) -> Table:
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    w.writerow(columns)
    w.writerows(raw_rows)
    return Table(
        name=name,
        columns=columns,
        numeric=numeric,
        categorical=[c for c in columns if c not in numeric],
        rows=rows,
        csv_bytes=out.getvalue().encode(),
    )


ORDERS_ROWS = 6000
SENSORS_ROWS = 4000
REGIONS = ["north", "south", "east", "west", "central"]
CHANNELS = ["web", "store", "phone"]
SITES = ["accra", "kumasi", "tamale", "lagos"]
STATUSES = ["ok", "warn", "fail"]


def chat_tables(rng: random.Random) -> list[Table]:
    """The two datasets the chat workload queries."""
    rows, raw = [], []
    for i in range(1, ORDERS_ROWS + 1):
        region = rng.choice(REGIONS)
        channel = rng.choices(CHANNELS, weights=[5, 3, 2])[0]
        qty = rng.randint(1, 60)
        cents = rng.randint(100, 250_000)
        price = cents / 100
        # thousands separators make the program coerce this column itself
        price_txt = f"{cents // 100:,}.{cents % 100:02d}"
        rating = None if rng.random() < 0.05 else rng.randint(1, 50) / 10
        rows.append(
            {"sku": i, "region": region, "channel": channel, "qty": qty,
             "price": price, "rating": rating}
        )
        raw.append([i, region, channel, qty, price_txt, "" if rating is None else rating])
    orders = _table(
        "orders", ["sku", "region", "channel", "qty", "price", "rating"],
        ["sku", "qty", "price", "rating"], rows, raw,
    )
    rows, raw = [], []
    for i in range(1, SENSORS_ROWS + 1):
        device = f"d{rng.randint(1, 80):03d}"
        site = rng.choice(SITES)
        temp = rng.randint(-500, 4500) / 100
        level = rng.randint(0, 1000)
        status = rng.choices(STATUSES, weights=[80, 15, 5])[0]
        rows.append(
            {"reading": i, "device": device, "site": site, "temp": temp,
             "level": level, "status": status}
        )
        raw.append([i, device, site, temp, level, status])
    sensors = _table(
        "sensors", ["reading", "device", "site", "temp", "level", "status"],
        ["reading", "temp", "level"], rows, raw,
    )
    return [orders, sensors]


# ---- query pool ------------------------------------------------------------

# Per table: (row-id column, numeric value columns without nulls, nullable
# numeric column or None, categorical columns).
_SHAPE = {
    "orders": ("sku", ["qty", "price"], "rating", ["region", "channel"]),
    "sensors": ("reading", ["temp", "level"], None, ["site", "status"]),
}


@dataclass
class Query:
    table: str
    kind: str  # mean | sum | count | group_count | top | project | visualize
    text: str | None  # natural-language request, or None for an IR request
    ir: dict[str, Any]  # the IR the request means (sent as-is when text is None)
    expected: Any

    def body(self, job_id: str) -> dict[str, Any]:
        req: dict[str, Any] = {"job_id": job_id}
        if self.text is None:
            req["ir"] = self.ir
        else:
            req["query"] = self.text
        return req


def _filter(column: str, op: str, value: Any) -> dict[str, Any]:
    return {"type": "filter", "column": column, "operator": op, "value": str(value)}


def _matches(row: dict[str, Any], f: dict[str, Any]) -> bool:
    v = row[f["column"]]
    if v is None:
        return False  # SQL: comparisons with NULL are never true
    op, lit = f["operator"], f["value"]
    if op in (">", "<", ">=", "<="):
        x = float(lit)
        return {">": v > x, "<": v < x, ">=": v >= x, "<=": v <= x}[op]
    lit_v = lit if isinstance(v, str) else type(v)(lit)
    return v == lit_v if op in ("=", "==") else v != lit_v


def evaluate(table: Table, ir: dict[str, Any]) -> Any:
    """Python reference answer for one IR request (the subset the pool
    emits). Float results are compared with a relative tolerance."""
    ops = ir["operations"]
    rows = [r for r in table.rows if all(_matches(r, f) for f in ops if f["type"] == "filter")]
    kinds = {o["type"]: o for o in ops if o["type"] != "filter"}
    if "mean" in kinds or "sum" in kinds or "count" in kinds:
        (agg, op), = kinds.items()
        vals = [r[op["column"]] for r in rows if r[op["column"]] is not None]
        if agg == "count":
            return len(vals)
        if not vals:
            return None
        return sum(vals) / len(vals) if agg == "mean" else sum(vals)
    if "group_by_count" in kinds:
        col = kinds["group_by_count"]["column"]
        counts: dict[str, int] = {}
        for r in rows:
            counts[r[col]] = counts.get(r[col], 0) + 1
        return counts
    if "sort" in kinds:
        s = kinds["sort"]
        vals = sorted((r[s["column"]] for r in rows), reverse=not s["ascending"])
        return vals[: kinds["limit"]["n"]]
    cols = ir["columns"] or table.columns
    if ir["intent"] == "visualize":
        numeric = [c for c in cols if c in table.numeric]
        avgs = {}
        for c in numeric:
            vals = [r[c] for r in rows[:100] if r[c] is not None]
            if vals:
                avgs[c] = sum(vals) / len(vals)
        return avgs
    return sorted(tuple(r[c] for c in cols) for r in rows)


def _cmp_value(rng: random.Random, table: Table, col: str) -> Any:
    return rng.choice(table.rows)[col]


KINDS = ("mean", "sum", "count", "group_count", "top", "project", "visualize")
MIX = len(KINDS) * 2 * 2  # kinds x tables x (NL, IR)


def mix(i: int) -> tuple[str, int, bool]:
    """The i-th (kind, table index, natural-language?) of a fixed cycle, so
    every seed sends the same blend of request shapes."""
    return KINDS[i % len(KINDS)], (i // len(KINDS)) % 2, (i // (2 * len(KINDS))) % 2 == 0


def make_query(rng: random.Random, table: Table, kind: str, nl: bool,
               evaluate_now: bool = True) -> Query:
    """One request of ``kind`` over ``table`` with seeded columns and filter
    values; its expected answer is computed now or left as None for the
    caller to fill in with :func:`evaluate`."""
    key, values, nullable, cats = _SHAPE[table.name]
    ops_ = ["=", "!=", ">", "<", ">=", "<="]
    text: str | None = None
    if kind in ("mean", "sum", "count"):
        col = rng.choice(values + ([nullable] if nullable else []))
        if nl:
            # NL filters name the target column itself, so the translator's
            # longest-column-name match cannot pick a different target.
            op = rng.choice([">", "<", ">=", "<="])
            v = _cmp_value(rng, table, col) if col != nullable else rng.randint(1, 50) / 10
            word = {"mean": "average", "sum": "total", "count": "count"}[kind]
            text = f"{word} {col} where {col} {op} {v}"
            filters = [_filter(col, op, v)]
        else:
            fcol = rng.choice(values + cats)
            op = rng.choice(ops_) if fcol in values else rng.choice(["=", "!="])
            filters = [_filter(fcol, op, _cmp_value(rng, table, fcol))]
        ir = {"intent": "aggregate", "columns": [],
              "operations": filters + [{"type": kind, "column": col}]}
    elif kind == "group_count":
        col = rng.choice(cats)
        if nl:
            text = f"count rows by {col}"
            filters = []
        else:
            fcol = rng.choice(values)
            filters = [_filter(fcol, rng.choice(ops_[2:]), _cmp_value(rng, table, fcol))]
        ir = {"intent": "aggregate", "columns": [],
              "operations": filters + [{"type": "group_by_count", "column": col}]}
    elif kind == "top":
        col = rng.choice(values)
        k = rng.randint(3, 10)
        if nl:
            text = f"top {k} {col}"
            filters, asc = [], False
        else:
            cat = rng.choice(cats)
            filters = [_filter(cat, "=", _cmp_value(rng, table, cat))]
            asc = rng.random() < 0.5
        ir = {"intent": "sort", "columns": [key, col],
              "operations": filters + [{"type": "sort", "column": col, "ascending": asc},
                                       {"type": "limit", "column": col, "n": k}]}
        if nl:
            ir["columns"] = []
    elif kind == "project":
        n = rng.randint(5, 60)
        cols = [key, rng.choice(values), rng.choice(cats)]
        ir = {"intent": "filter", "columns": cols,
              "operations": [_filter(key, rng.choice(["<", "<="]), n)]}
        nl = False  # projection has no NL form in the rule-based translator
    else:  # visualize
        n = rng.randint(10, 90)
        if nl:
            text = f"plot {key} where {key} < {n}"
            ir = {"intent": "visualize", "columns": [], "operations": [_filter(key, "<", n)]}
        else:
            ir = {"intent": "visualize", "columns": [key] + values,
                  "operations": [_filter(key, "<=", n)]}
    return Query(table.name, kind, text if nl else None, ir,
                 evaluate(table, ir) if evaluate_now else None)


def query_pool(rng: random.Random, tables: list[Table], size: int) -> list[Query]:
    """``size`` requests following the fixed shape cycle (see :func:`mix`)."""
    out = []
    for i in range(size):
        kind, t, nl = mix(i)
        out.append(make_query(rng, tables[t], kind, nl))
    return out
