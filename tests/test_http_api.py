"""HTTP-surface tests: drive the WSGI app in-process (no sockets) through the
reference's four routes (main.rs:130-148)."""

from __future__ import annotations

import io
import json
from pathlib import Path

import pytest

from g_data_pipeline_spark.http_api import PipelineApp
from g_data_pipeline_spark.service import DataPipelineService

FIXTURE = Path(__file__).parent / "fixtures" / "people.csv"


def call(app, method, path, body=b"", content_type=None, headers=None, qs=""):
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "QUERY_STRING": qs,
        "CONTENT_LENGTH": str(len(body)),
        "wsgi.input": io.BytesIO(body),
    }
    if content_type:
        environ["CONTENT_TYPE"] = content_type
    for k, v in (headers or {}).items():
        environ["HTTP_" + k.upper().replace("-", "_")] = v
    captured = {}

    def start_response(status, response_headers):
        captured["status"] = int(status.split()[0])
        captured["headers"] = dict(response_headers)

    chunks = app(environ, start_response)
    return captured["status"], json.loads(b"".join(chunks))


@pytest.fixture(scope="module")
def app(spark, tmp_path_factory):
    svc = DataPipelineService(spark, str(tmp_path_factory.mktemp("http")))
    return PipelineApp(svc)


@pytest.fixture(scope="module")
def job_id(app):
    status, out = call(
        app,
        "POST",
        "/upload",
        body=FIXTURE.read_bytes(),
        headers={"X-Filename": "people.csv"},
    )
    assert status == 200
    return out["job_id"]


def test_upload_multipart(app):
    boundary = "XxBoundaryxX"
    payload = (
        f"--{boundary}\r\n"
        'Content-Disposition: form-data; name="file"; filename="people.csv"\r\n'
        "Content-Type: text/csv\r\n\r\n"
    ).encode() + FIXTURE.read_bytes() + f"\r\n--{boundary}--\r\n".encode()
    status, out = call(
        app,
        "POST",
        "/upload",
        body=payload,
        content_type=f"multipart/form-data; boundary={boundary}",
    )
    assert status == 200 and "job_id" in out


def test_insights_route(app, job_id):
    status, out = call(app, "GET", f"/insights/{job_id}")
    assert status == 200
    assert out["data_summary"]["row_count"] == 200


def test_insights_unknown_404(app):
    status, out = call(app, "GET", "/insights/00000000-0000-0000-0000-000000000000")
    assert status == 404


def test_insights_pending_202(spark, tmp_path):
    svc = DataPipelineService(spark, str(tmp_path / "q"))
    queued_app = PipelineApp(svc, process_inline=False)
    status, out = call(
        queued_app,
        "POST",
        "/upload",
        body=b"a,b\n1,2\n",
        headers={"X-Filename": "t.csv"},
    )
    assert status == 200
    status, out = call(queued_app, "GET", f"/insights/{out['job_id']}")
    assert status == 202 and out == {"status": "queued"}


def test_conversation_query_route(app, job_id):
    req = json.dumps({"job_id": job_id, "query": "average age"}).encode()
    status, out = call(app, "POST", "/api/conversation/query", body=req)
    assert status == 200
    assert out["data"][0]["mean_age"] > 0
    cid = out["conversation_id"]
    # follow-up turn through the same conversation
    req2 = json.dumps(
        {"job_id": job_id, "query": "and the total?", "conversation_id": cid}
    ).encode()
    status, out2 = call(app, "POST", "/api/conversation/query", body=req2)
    assert status == 200 and "sum_age" in out2["data"][0]


def test_query_rows_with_dates_serialize_as_iso(app):
    status, out = call(
        app,
        "POST",
        "/upload",
        body=b"d,t,x\n2024-01-02,2024-01-02 03:04:05,1\n2024-03-04,2024-03-04 05:06:07,2\n",
        headers={"X-Filename": "dates.csv"},
    )
    assert status == 200
    req = json.dumps(
        {"job_id": out["job_id"], "ir": {"intent": "describe", "columns": []}}
    ).encode()
    status, out = call(app, "POST", "/api/conversation/query", body=req)
    assert status == 200
    assert sorted((r["d"], r["t"], r["x"]) for r in out["data"]) == [
        ("2024-01-02", "2024-01-02T03:04:05", 1),
        ("2024-03-04", "2024-03-04T05:06:07", 2),
    ]


def test_query_missing_job_id_400(app):
    status, out = call(app, "POST", "/api/conversation/query", body=b"{}")
    assert status == 400


@pytest.mark.parametrize("max_rows", [10**12, -1, None, 1.5, True, "10"])
def test_query_max_rows_outside_ceiling_400(app, job_id, max_rows):
    req = json.dumps(
        {"job_id": job_id, "query": "average age", "max_rows": max_rows}
    ).encode()
    status, out = call(app, "POST", "/api/conversation/query", body=req)
    assert status == 400 and "max_rows" in out["error"]


@pytest.mark.parametrize(
    "body",
    [
        None,
        5,
        ["job_id"],
        {"job_id": [1]},
        {"job_id": "JOB", "query": 5},
        {"job_id": "JOB", "conversation_id": [1]},
        {"job_id": "JOB", "ir": [1, 2]},
        {"job_id": "JOB", "ir": 5},
        {"job_id": "JOB", "ir": "[1, 2]"},
        {"job_id": "JOB", "ir": {"operations": [1]}},
        {"job_id": "JOB", "ir": {"operations": "sort"}},
        {"job_id": "JOB", "ir": {"columns": 5}},
        {"job_id": "JOB", "ir": {"columns": [["age"]]}},
        {"job_id": "JOB", "ir": {"operations": [
            {"type": "limit", "column": "a", "n": "x"}]}},
        {"job_id": "JOB", "ir": {"operations": [
            {"type": "limit", "column": "age", "n": True}]}},
        {"job_id": "JOB", "ir": {"operations": [
            {"type": "sort", "column": "age", "ascending": "false"}]}},
        {"job_id": "JOB", "ir": {"operations": [
            {"type": "mean", "column": ["a"]}]}},
        {"job_id": "JOB", "ir": {"operations": [
            {"type": "mean", "column": "age", "by": ["sex"]}]}},
    ],
    ids=[
        "body-null",
        "body-number",
        "body-array",
        "job_id-array",
        "query-number",
        "conversation_id-array",
        "ir-array",
        "ir-number",
        "ir-string-array",
        "ir-operation-number",
        "ir-operations-string",
        "ir-columns-number",
        "ir-column-array-in-columns",
        "ir-limit-n-string",
        "ir-limit-n-bool",
        "ir-ascending-string",
        "ir-column-array",
        "ir-by-array",
    ],
)
def test_query_body_and_field_types_400(app, job_id, body):
    """A body that is not an object, or a field of the wrong JSON type,
    answers 400 with a JSON error instead of raising out of the app."""
    if isinstance(body, dict) and body.get("job_id") == "JOB":
        body = {**body, "job_id": job_id}
    req = json.dumps(body).encode()
    status, out = call(app, "POST", "/api/conversation/query", body=req)
    assert status == 400 and out["error"]


def test_query_unknown_job_404(app):
    req = json.dumps(
        {"job_id": "00000000-0000-0000-0000-000000000000", "query": "count"}
    ).encode()
    status, out = call(app, "POST", "/api/conversation/query", body=req)
    assert status == 404


def test_query_unfinished_job_409(spark, tmp_path):
    svc = DataPipelineService(spark, str(tmp_path / "q"))
    queued_app = PipelineApp(svc, process_inline=False)
    status, out = call(
        queued_app,
        "POST",
        "/upload",
        body=b"a,b\n1,2\n",
        headers={"X-Filename": "t.csv"},
    )
    assert status == 200
    req = json.dumps({"job_id": out["job_id"], "query": "count"}).encode()
    status, out = call(queued_app, "POST", "/api/conversation/query", body=req)
    assert status == 409 and out["status"] == "queued"


def test_debug_files_lists_store_keys(app, job_id):
    status, out = call(app, "GET", "/debug/files")
    assert status == 200
    assert any(k == f"uploads/{job_id}.csv" for k in out)


def test_unknown_route_404(app):
    status, _ = call(app, "GET", "/nope")
    assert status == 404
