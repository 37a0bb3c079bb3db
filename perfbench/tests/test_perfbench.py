"""Self-tests of the service benchmark (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import random
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE.parent.parent))

import gen  # noqa: E402
import run  # noqa: E402

BENCH = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())


def _inputs(seed: int) -> tuple[list[bytes], list[str]]:
    """Every CSV byte string and request body a run with ``seed`` makes."""
    rng = random.Random(seed)
    tables = gen.chat_tables(rng)
    hot = gen.query_pool(rng, tables, run.HOT_QUERIES)
    csvs = [t.csv_bytes for t in tables]
    irng = random.Random(seed)
    csvs += [gen.upload_csv(irng) for _ in range(2)]
    bodies = [
        json.dumps(q.body(q.table), sort_keys=True) + str(keep)
        for c in range(2)
        for q, keep in itertools.islice(run.client_stream(seed, c, hot, tables), 300)
    ]
    return csvs, bodies


def test_same_seed_same_inputs():
    assert _inputs(7) == _inputs(7)


def test_other_seed_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert a[0] != b[0] and a[1] != b[1]


def test_clients_send_different_streams():
    rng = random.Random(3)
    tables = gen.chat_tables(rng)
    hot = gen.query_pool(rng, tables, run.HOT_QUERIES)
    s0 = [q.body(q.table) for q, _ in itertools.islice(run.client_stream(3, 0, hot, tables), 50)]
    s1 = [q.body(q.table) for q, _ in itertools.islice(run.client_stream(3, 1, hot, tables), 50)]
    assert s0 != s1


def test_metrics_named_with_units():
    for section, units in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in BENCH[section]}
        assert declared == units, section
        line = json.loads(run.result_line(True, 3, 0, {k: 1.5 for k in units}, units))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["metrics"] == {k: {"value": 1.5, "unit": u} for k, u in units.items()}


def test_missing_metric_is_an_error():
    values = {k: 1.0 for k in run.END_TO_END}
    del values["setup_s"]
    try:
        run.result_line(True, 1, 0, values, run.END_TO_END)
    except ValueError as exc:
        assert "setup_s" in str(exc)
    else:
        raise AssertionError("missing metric accepted")


def test_workloads_match_benchmark_json():
    assert tuple(w["name"] for w in BENCH["workloads"]) == run.WORKLOADS


def test_nl_requests_mean_their_ir():
    """The rule-based translator turns every generated NL request into the IR
    the expected answer was computed from."""
    from g_data_pipeline_spark.ir import StructuredQuery
    from g_data_pipeline_spark.nl import rule_based_translate

    rng = random.Random(5)
    tables = gen.chat_tables(rng)
    by_name = {t.name: t for t in tables}
    queries = gen.query_pool(rng, tables, 400)
    nl = [q for q in queries if q.text is not None]
    assert len(nl) > 100
    for q in nl:
        t = by_name[q.table]
        got = rule_based_translate(q.text, t.columns, t.numeric)
        assert got == StructuredQuery.from_json(q.ir), q.text


def test_pool_covers_the_query_surface():
    rng = random.Random(1)
    tables = gen.chat_tables(rng)
    queries = gen.query_pool(rng, tables, 400)
    kinds = {q.kind for q in queries}
    assert kinds == {"mean", "sum", "count", "group_count", "top", "project", "visualize"}
    ops = {o.get("operator") for q in queries for o in q.ir["operations"]}
    assert {"=", "!=", ">", "<", ">=", "<="} <= ops
    assert any(q.text for q in queries) and any(q.text is None for q in queries)


def test_evaluate_and_check_agree_on_a_known_answer():
    rng = random.Random(2)
    orders = gen.chat_tables(rng)[0]
    ir = {"intent": "aggregate", "columns": [],
          "operations": [{"type": "filter", "column": "qty", "operator": ">=", "value": "30"},
                         {"type": "sum", "column": "qty"}]}
    want = sum(r["qty"] for r in orders.rows if r["qty"] >= 30)
    assert gen.evaluate(orders, ir) == want
    q = gen.Query("orders", "sum", None, ir, want)
    assert run.check_answer(q, {"data": [{"sum_qty": want}]})
    assert not run.check_answer(q, {"data": [{"sum_qty": want + 1}]})


def test_upload_csv_shape():
    data = gen.upload_csv(random.Random(4))
    lines = data.decode().splitlines()
    assert len(lines) == gen.UPLOAD_ROWS + 1
    assert lines[0].split(",")[2] == " income as at joining scheme "


def test_client_counts_a_crashing_request_as_500():
    def app(environ, start_response):
        raise TypeError("Object of type date is not JSON serializable")

    status, out = run.Client(app).query({"job_id": "x", "query": "average qty"})[1:]
    assert status == 500 and "TypeError" in out["error"]


def test_upload_stops_polling_a_failed_job():
    def app(environ, start_response):
        if environ["REQUEST_METHOD"] == "POST":
            start_response("200 OK", [])
            return [b'{"job_id": "j1"}']
        start_response("202 Accepted", [])
        return [b'{"status": "failed"}']

    latency, status, body, job_id = run.Client(app).upload(b"a,b\n1,2\n", "x.csv")
    assert (status, body, job_id) == (202, {"status": "failed"}, "j1")
    assert latency < run.UPLOAD_TIMEOUT_S
