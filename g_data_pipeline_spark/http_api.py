"""HTTP surface: the reference's four routes as a dependency-free WSGI app.

Route parity with ``/root/reference/src/main.rs:130-148``:

    POST /upload                    multipart/form-data (field ``file``) or a
                                    raw CSV body (+ X-Filename header /
                                    ?filename= query param) -> {"job_id": ...}
    GET  /insights/{job_id}         404 unknown / 202 {"status": ...} while
                                    pending / 200 insights JSON
    POST /api/conversation/query    {"job_id", "query" | "ir",
                                     "conversation_id"?, "max_rows"?} ->
                                    query response; 404 unknown job / 409
                                    job not completed / 400 body or ir
                                    not an object, job_id/query/
                                    conversation_id not a string, or
                                    max_rows not an integer in
                                    0..MAX_RESULT_ROWS
    GET  /debug/files               object-store key listing

Query rows arrive already JSON-safe: the service serializes each answer
once, with date/timestamp values as ISO-8601 strings
(``service._json_default``), so this layer needs no encoder of its own.

The app is a plain WSGI callable over :class:`DataPipelineService` — any
WSGI server hosts it (``wsgiref.simple_server`` for local use, gunicorn/etc
in production); tests drive it in-process with synthetic environs, no ports.

Upload processing modes:

- default: inline (synchronous) — the job completes before /upload returns;
  simplest for tests and small files (documented divergence).
- ``process_inline=False, worker=JobWorker(service).start()`` — the
  reference's actual lifecycle (``main.rs:72-107``): /upload enqueues onto
  the 32-deep bounded queue and returns immediately; a single background
  thread drains it; /insights answers 202 until the worker completes the
  job; a full queue answers 503 (the bounded channel's backpressure).
- ``process_inline=False`` without a worker — manual queue semantics (the
  job stays QUEUED until ``service.process_job`` is called by the caller).
"""

from __future__ import annotations

import json
import queue
import re
from email.parser import BytesParser
from email.policy import default as default_email_policy
from typing import TYPE_CHECKING, Any, Callable
from urllib.parse import parse_qs

from g_data_pipeline_spark.jobstore import JobStatus
from g_data_pipeline_spark.service import MAX_RESULT_ROWS, DataPipelineService

if TYPE_CHECKING:  # import cycle guard: worker imports service only
    from g_data_pipeline_spark.worker import JobWorker

_INSIGHTS_RE = re.compile(r"^/insights/([0-9a-fA-F-]+)$")


def _parse_multipart_file(content_type: str, body: bytes) -> tuple[str, bytes] | None:
    """Extract (filename, payload) of the first file part, stdlib-only."""
    header = f"Content-Type: {content_type}\r\n\r\n".encode()
    msg = BytesParser(policy=default_email_policy).parsebytes(header + body)
    if not msg.is_multipart():
        return None
    for part in msg.iter_parts():
        fname = part.get_filename()
        if fname:
            return fname, part.get_payload(decode=True)
    return None


class PipelineApp:
    """WSGI adapter over DataPipelineService."""

    def __init__(
        self,
        service: DataPipelineService,
        process_inline: bool = True,
        worker: "JobWorker | None" = None,
    ):
        self.service = service
        self.process_inline = process_inline
        self.worker = worker

    # -- WSGI entry --------------------------------------------------------

    def __call__(self, environ: dict[str, Any], start_response: Callable):
        method = environ["REQUEST_METHOD"].upper()
        path = environ.get("PATH_INFO", "/")
        try:
            if method == "POST" and path == "/upload":
                status, payload = self._upload(environ)
            elif method == "GET" and (m := _INSIGHTS_RE.match(path)):
                status, payload = self._insights(m.group(1))
            elif method == "POST" and path == "/api/conversation/query":
                status, payload = self._query(environ)
            elif method == "GET" and path == "/debug/files":
                status, payload = "200 OK", self.service.store.list_keys()
            else:
                status, payload = "404 Not Found", {"error": "no such route"}
        except (ValueError, KeyError) as exc:
            status, payload = "400 Bad Request", {"error": str(exc)}
        body = json.dumps(payload).encode()
        start_response(
            status,
            [
                ("Content-Type", "application/json"),
                ("Content-Length", str(len(body))),
            ],
        )
        return [body]

    # -- handlers ----------------------------------------------------------

    def _read_body(self, environ: dict[str, Any]) -> bytes:
        length = int(environ.get("CONTENT_LENGTH") or 0)
        return environ["wsgi.input"].read(length) if length else b""

    def _upload(self, environ: dict[str, Any]) -> tuple[str, dict[str, Any]]:
        body = self._read_body(environ)
        ctype = environ.get("CONTENT_TYPE", "")
        if ctype.startswith("multipart/form-data"):
            part = _parse_multipart_file(ctype, body)
            if part is None:
                raise ValueError("multipart body has no file part")
            filename, data = part
        else:
            qs = parse_qs(environ.get("QUERY_STRING", ""))
            filename = environ.get("HTTP_X_FILENAME") or qs.get(
                "filename", ["upload.csv"]
            )[0]
            data = body
        job_id = self.service.upload_csv(data, filename)
        if self.process_inline:
            self.service.process_job(job_id)
        elif self.worker is not None:
            try:
                self.worker.submit(job_id)
            except queue.Full:
                # bounded-channel backpressure (main.rs:74): shed load
                # rather than buffer unboundedly
                return "503 Service Unavailable", {
                    "error": "job queue full, retry later",
                    "job_id": job_id,
                }
        return "200 OK", {"job_id": job_id}

    def _insights(self, job_id: str) -> tuple[str, dict[str, Any]]:
        out = self.service.get_insights(job_id)
        if out is None:
            return "404 Not Found", {"error": f"unknown job {job_id}"}
        if set(out) == {"status"}:
            return "202 Accepted", out  # reference answers 202; callers poll
        return "200 OK", out

    def _query(self, environ: dict[str, Any]) -> tuple[str, dict[str, Any]]:
        req = json.loads(self._read_body(environ) or b"{}")
        if not isinstance(req, dict):
            raise ValueError("the request body must be a JSON object")
        if "job_id" not in req:
            raise ValueError("job_id is required")
        for key in ("job_id", "query", "conversation_id"):
            if req.get(key) is not None and not isinstance(req[key], str):
                raise ValueError(f"{key} must be a string")
        max_rows = req.get("max_rows", MAX_RESULT_ROWS)
        # a JSON integer only: bool is an int subclass, 1.5 and "10" are not
        if (
            type(max_rows) is not int
            or not 0 <= max_rows <= MAX_RESULT_ROWS
        ):
            raise ValueError(
                f"max_rows must be an integer in 0..{MAX_RESULT_ROWS}"
            )
        job_id = req["job_id"]
        job = self.service.jobs.get(job_id)
        if job is None:
            return "404 Not Found", {"error": f"unknown job {job_id}"}
        if job.status != JobStatus.COMPLETED:
            return "409 Conflict", {
                "error": f"job {job_id} has no dataset yet",
                "status": job.status.value,
            }
        out = self.service.query(
            job_id,
            query_text=req.get("query"),
            ir=req.get("ir"),
            conversation_id=req.get("conversation_id"),
            max_rows=max_rows,
        )
        return "200 OK", out


def serve(app: PipelineApp, port: int = 8080):  # pragma: no cover - manual use
    """Host the app on wsgiref's reference server (local/manual runs)."""
    from wsgiref.simple_server import make_server

    with make_server("127.0.0.1", port, app) as httpd:
        httpd.serve_forever()
