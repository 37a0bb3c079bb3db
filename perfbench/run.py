"""Service benchmark: the upload -> insights and conversation-query paths.

Drives ``http_api.PipelineApp`` in-process as a WSGI callable (no sockets)
over a ``service.DataPipelineService`` on ``local[nproc]`` Spark, with
uploads going through the ``worker.JobWorker`` queue as in production.

    python3 perfbench/run.py --workload chat --seed 1 --seconds 25 --trace 0

Workloads (inputs come from ``perfbench/gen.py`` and the seed only):

- ``chat``: ``nproc`` closed-loop clients send conversation queries over two
  datasets landed during set-up; half natural-language text, half IR; every
  other request repeats one of a fixed hot set, the rest are new to the
  program. Every seed sends the same blend of request shapes. Reads only.
- ``ingest``: one closed-loop client uploads a messy people-style CSV and
  polls ``GET /insights/{id}`` until it answers 200. Writes only.

Every run prints, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Untraced runs
(``--trace 0``) report the end-to-end metrics. Every workload reports every
one of them, so latency and rate are of the workload's own request type:

- ``setup_s``: Spark start, input generation, dataset landing, a fixed
  warm-up of every request type, and the garbage collection after it.
- ``request_p50_s``: median request latency in the window. chat: query call
  to response body. ingest: ``POST /upload`` to the first 200 from
  ``GET /insights/{id}``.
- ``requests_per_s``: requests completed per second of window.
- ``peak_rss_mb``: kernel high-water RSS of this process plus the JVM.

Traced runs (``--trace 1``) wrap each layer's public functions (see
``tracing.py``) and report per-layer metrics instead; a layer a workload does
not use reports 0. Wrong answers, non-200 replies and 503 backpressure count
as failed operations; any failure makes ``correct`` false and the exit code 1.
"""

from __future__ import annotations

import argparse
import gc
import io
import itertools
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path
from typing import Any, Callable, Iterable, Iterator

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import gen  # noqa: E402
from tracing import Tracer, mean  # noqa: E402

WORKLOADS = ("chat", "ingest")

END_TO_END = {
    "setup_s": "s",
    "request_p50_s": "s",
    "requests_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "http_api.self_s": "s",
    "nl.translate_s": "s",
    "compiler.compile_s": "s",
    "service.query_collect_s": "s",
    "service.visualization_s": "s",
    "ingest.read_csv_s": "s",
    "ingest.coerce_types_s": "s",
    "ingest.land_csv_s": "s",
    "profiler.profile_s": "s",
    "profiler.format_s": "s",
    "worker.queue_wait_s": "s",
    "worker.busy_ratio": "ratio",
    "storage.put_bytes_s": "s",
    "storage.cache_hit_ratio": "ratio",
    "jobstore.ops": "count",
    "session.get_spark_s": "s",
    "engine.jobs_per_upload": "count",
    "engine.jobs_per_query": "count",
    "trace.overhead_ratio": "ratio",
}

HOT_QUERIES = 2 * gen.MIX  # distinct requests the chat clients repeat
# Warm-up is a fixed amount of work, so every run starts its window at the
# same point of the JIT warm-up curve (a stop-when-flat rule stops on noise).
# Uploads level off after two or three; chat requests keep getting faster for
# about 45 s of queries, more than the run budget allows, so a chat window
# still holds some of that drift.
WARM_UPLOADS = 3
WARM_CHAT_BATCHES = 5
WARM_CHAT_REQUESTS = 32  # per client and batch
CHECK_FRESH_SHARE = 0.5  # seeded share of fresh answers checked afterwards
POLL_S = 0.01  # GET /insights polling interval
UPLOAD_TIMEOUT_S = 60.0
DRIVER_MEMORY = "1g"  # also the initial heap, which keeps peak RSS steady


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], units: dict[str, str]) -> str:
    """The benchmark's output line: every metric by name with its unit."""
    missing = set(units) - set(values)
    if missing:
        raise ValueError(f"metrics not measured: {sorted(missing)}")
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    })


# ---- WSGI client -------------------------------------------------------------

class Client:
    """Calls the WSGI app the way a server would, with synthetic environs."""

    def __init__(self, app: Callable) -> None:
        self.app = app

    def call(self, method: str, path: str, body: bytes = b"",
             headers: dict[str, str] | None = None) -> tuple[int, Any]:
        environ = {
            "REQUEST_METHOD": method,
            "PATH_INFO": path,
            "QUERY_STRING": "",
            "CONTENT_LENGTH": str(len(body)),
            "wsgi.input": io.BytesIO(body),
        }
        for k, v in (headers or {}).items():
            environ["HTTP_" + k.upper().replace("-", "_")] = v
        status: list[int] = []
        try:
            chunks = self.app(environ, lambda s, h: status.append(int(s.split()[0])))
        except Exception as exc:  # noqa: BLE001 — a WSGI server answers 500
            return 500, {"error": repr(exc)}
        return status[0], json.loads(b"".join(chunks))

    def upload(self, data: bytes, name: str) -> tuple[float, int, Any, str | None]:
        """POST /upload, then poll /insights until it stops answering 202:
        (latency, last status, last body, job id)."""
        t0 = time.perf_counter()
        status, out = self.call("POST", "/upload", data, {"X-Filename": name})
        if status != 200:
            return time.perf_counter() - t0, status, out, None
        path = f"/insights/{out['job_id']}"
        while True:
            status, body = self.call("GET", path)
            if (status != 202 or body.get("status") == "failed"
                    or time.perf_counter() - t0 > UPLOAD_TIMEOUT_S):
                return time.perf_counter() - t0, status, body, out["job_id"]
            time.sleep(POLL_S)

    def query(self, body: dict[str, Any]) -> tuple[float, int, Any]:
        t0 = time.perf_counter()
        status, out = self.call("POST", "/api/conversation/query", json.dumps(body).encode())
        return time.perf_counter() - t0, status, out


# ---- answer checks ---------------------------------------------------------

def _close(a: Any, b: Any) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and abs(a - b) <= 1e-9 * max(1.0, abs(b))
    return a == b


def check_answer(q: gen.Query, out: dict[str, Any]) -> bool:
    """Compare a query response with the Python-computed expectation."""
    rows = out.get("data")
    if not isinstance(rows, list):
        return False
    exp = q.expected
    ops = {o["type"]: o for o in q.ir["operations"]}
    if q.kind in ("mean", "sum", "count"):
        col = ops[q.kind]["column"]
        return len(rows) == 1 and _close(rows[0].get(f"{q.kind}_{col}"), exp)
    if q.kind == "group_count":
        col = ops["group_by_count"]["column"]
        return {r[col]: r[f"count_{col}"] for r in rows} == exp
    if q.kind == "top":
        col = ops["sort"]["column"]
        got = [r[col] for r in rows]
        return len(got) == len(exp) and all(_close(a, b) for a, b in zip(got, exp))
    if q.kind == "visualize":
        spec = out.get("visualization_data") or {}
        data = spec.get("data", {})
        got = dict(zip(data.get("labels", []), data.get("datasets", [{}])[0].get("data", [])))
        return spec.get("type") == "bar" and got.keys() == exp.keys() and all(
            _close(got[k], exp[k]) for k in exp
        )
    cols = q.ir["columns"]
    return sorted(tuple(r[c] for c in cols) for r in rows) == exp


def check_insights(out: dict[str, Any], rows: int, classes: dict[str, list[str]]) -> bool:
    summary = out.get("data_summary", {})
    return summary.get("row_count") == rows and all(
        summary.get(k) == v for k, v in classes.items()
    )


# ---- the benchmark -----------------------------------------------------------

class Bench:
    def __init__(self, args: argparse.Namespace, work: Path, t_start: float) -> None:
        self.args = args
        self.t_start = t_start
        self.setup_s = 0.0
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = Tracer() if args.trace else None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layer: dict[str, float] = {}
        self._lock = threading.Lock()

    # -- lifecycle -------------------------------------------------------

    def start(self) -> None:
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        from g_data_pipeline_spark.http_api import PipelineApp
        from g_data_pipeline_spark.service import DataPipelineService
        from g_data_pipeline_spark.session import get_spark
        from g_data_pipeline_spark.worker import JobWorker

        spark_dir = self.work / "spark"
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": str(spark_dir / "local"),
                "spark.sql.warehouse.dir": str(spark_dir / "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Dderby.system.home={spark_dir / 'derby'}"
                    f" -Djava.io.tmpdir={spark_dir / 'tmp'} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        self.phase("spark started")
        self.jvm_proc = self.spark.sparkContext._gateway.proc
        self.service = DataPipelineService(self.spark, str(self.work / "store"))
        self.worker = JobWorker(self.service).start()
        self.client = Client(PipelineApp(self.service, process_inline=False, worker=self.worker))

    def close(self) -> None:
        worker = getattr(self, "worker", None)
        if worker is not None:
            worker.stop()
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        proc = self.jvm_proc
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()

    def peak_rss_mb(self) -> float:
        total_kb = 0
        for pid in ("self", str(self.jvm_proc.pid)):
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        return total_kb / 1024

    def collect_garbage(self) -> None:
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    def spark_jobs(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def phase(self, name: str) -> None:
        """Log set-up progress to stderr."""
        print(f"perfbench: {name} at {time.perf_counter() - self.t_start:.2f}s",
              file=sys.stderr)

    def record(self, ok: bool, what: str) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.notes) < 10:
                    self.notes.append(what)

    # -- shared pieces -----------------------------------------------------

    def land(self, data: bytes, name: str, rows: int, classes: dict[str, list[str]]
             ) -> str | None:
        """Upload through the worker, wait for insights and check them;
        returns the job id, or None on failure."""
        _, status, out, job_id = self.client.upload(data, name)
        ok = status == 200 and check_insights(out, rows, classes)
        self.record(ok, f"upload {name}: status {status}")
        return job_id if ok else None

    def window_starts(self) -> None:
        """End of set-up: collect garbage once, then start the clock."""
        self.collect_garbage()
        self.phase("window starts")
        self.setup_s = time.perf_counter() - self.t_start
        if self.tracer is not None:
            self.tracer.active = True

    def warm(self, batch: Callable[[], float], batches: int) -> None:
        """Run a fixed number of untimed warm-up batches (see WARM_*)."""
        times = [batch() for _ in range(batches)]
        print(f"perfbench: warm-up batches {[round(t, 3) for t in times]}", file=sys.stderr)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---- chat --------------------------------------------------------------------

def client_stream(seed: int, client: int, hot: list[gen.Query], tables: list[gen.Table]
                  ) -> Iterator[tuple[gen.Query, bool]]:
    """One chat client's endless request sequence of (query, check its
    answer?): repeats of the hot set alternate with fresh requests, both
    cycling through the same blend of shapes for every seed."""
    rng = random.Random(f"{seed}/client/{client}")
    order = list(range(len(hot)))
    rng.shuffle(order)
    for i in itertools.count():
        yield hot[order[i % len(order)]], True
        kind, t, nl = gen.mix(client * len(gen.KINDS) + i)
        q = gen.make_query(rng, tables[t], kind, nl, evaluate_now=False)
        yield q, rng.random() < CHECK_FRESH_SHARE


def run_chat(b: Bench) -> dict[str, float]:
    rng = random.Random(b.args.seed)
    tables = gen.chat_tables(rng)
    hot = gen.query_pool(rng, tables, HOT_QUERIES)
    by_name = {t.name: t for t in tables}
    jobs: dict[str, str] = {}
    jobs_per_upload = []
    for t in tables:
        j0 = b.spark_jobs()
        job_id = b.land(
            t.csv_bytes, f"{t.name}.csv", len(t.rows),
            {"numeric_columns": t.numeric, "date_columns": [],
             "categorical_columns": t.categorical},
        )
        jobs_per_upload.append(b.spark_jobs() - j0)
        if job_id is None:
            raise RuntimeError(f"could not land {t.name}")
        jobs[t.name] = job_id
    b.phase("datasets landed")

    n_clients = b.nproc
    streams = [client_stream(b.args.seed, c, hot, tables) for c in range(n_clients)]
    warm_rng = random.Random(f"{b.args.seed}/warm")

    def run_clients(work: list[Iterable[tuple[gen.Query, bool]]], deadline: float | None,
                    results: list[list[tuple]] | None) -> float:
        def loop(c: int) -> None:
            for i, (q, keep) in enumerate(work[c]):
                if deadline is not None and time.perf_counter() >= deadline:
                    break
                # pairs of (hot, fresh) requests, alternately traced
                traced = b.tracer is not None and (i // 2) % 2 == 0
                if b.tracer is not None:
                    b.tracer.request(f"q{c}-{i}", traced)
                latency, status, out = b.client.query(q.body(jobs[q.table]))
                if results is not None:
                    results[c].append((q, keep, latency, status, out if keep else None, traced))

        t0 = time.perf_counter()
        threads = [threading.Thread(target=loop, args=(c,)) for c in range(n_clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.perf_counter() - t0

    def warm_batch() -> float:
        seed = warm_rng.randrange(1 << 30)
        work = [itertools.islice(client_stream(seed, c, hot, tables), WARM_CHAT_REQUESTS)
                for c in range(n_clients)]
        return run_clients(work, None, None)

    # every hot request once, then mixed batches until they level off
    run_clients([[(q, False) for q in hot[c::n_clients]] for c in range(n_clients)], None, None)
    b.phase("hot requests sent once")
    b.warm(warm_batch, WARM_CHAT_BATCHES)

    results: list[list[tuple]] = [[] for _ in range(n_clients)]
    b.window_starts()
    window_start = time.perf_counter()
    elapsed = run_clients(streams, window_start + b.args.seconds, results)
    if b.tracer is not None:
        b.tracer.active = False

    latencies, traced_lat, untraced_lat = [], [], []
    for rs in results:
        for q, keep, latency, status, out, traced in rs:
            ok = status == 200
            if ok and keep:
                if q.expected is None:
                    q.expected = gen.evaluate(by_name[q.table], q.ir)
                ok = check_answer(q, out)
            b.record(ok, f"query {q.kind} {q.text or q.ir}: status {status}")
            latencies.append(latency)
            (traced_lat if traced else untraced_lat).append(latency)

    if b.tracer is not None:
        probe = {}
        for q in hot:
            probe.setdefault(q.kind, q)
        counts = []
        for q in probe.values():
            j0 = b.spark_jobs()
            b.client.query(q.body(jobs[q.table]))
            counts.append(b.spark_jobs() - j0)
        b.layer["engine.jobs_per_query"] = mean(counts)
        b.layer["engine.jobs_per_upload"] = mean(jobs_per_upload)
        b.layer["trace.overhead_ratio"] = _median(traced_lat) / _median(untraced_lat) - 1
    return {
        "request_p50_s": _median(latencies),
        "requests_per_s": len(latencies) / elapsed,
        "window_s": elapsed,
    }


# ---- ingest ------------------------------------------------------------------

def run_ingest(b: Bench) -> dict[str, float]:
    rng = random.Random(b.args.seed)
    files = [gen.upload_csv(rng) for _ in range(4)]
    classes = gen.UPLOAD_CLASSES
    counter = iter(range(1_000_000))

    def one(traced: bool = False) -> tuple[float, bool]:
        i = next(counter)
        if b.tracer is not None:
            b.tracer.request(f"u{i}", traced)
        latency, status, out, _ = b.client.upload(files[i % len(files)], f"people{i}.csv")
        ok = status == 200 and check_insights(out, gen.UPLOAD_ROWS, classes)
        return latency, ok

    def warm_batch() -> float:
        latency, ok = one()
        b.record(ok, "warm-up upload")
        return latency

    b.warm(warm_batch, WARM_UPLOADS)

    latencies, traced_lat, untraced_lat = [], [], []
    b.window_starts()
    t0 = time.perf_counter()
    deadline = t0 + b.args.seconds
    i = 0
    while time.perf_counter() < deadline:
        traced = b.tracer is not None and i % 2 == 0
        latency, ok = one(traced)
        b.record(ok, "upload")
        latencies.append(latency)
        (traced_lat if traced else untraced_lat).append(latency)
        i += 1
    elapsed = time.perf_counter() - t0
    print(f"perfbench: window uploads {[round(x, 3) for x in latencies]}", file=sys.stderr)
    if b.tracer is not None:
        b.tracer.active = False
        j0 = b.spark_jobs()
        one()
        b.layer["engine.jobs_per_upload"] = b.spark_jobs() - j0
        b.layer["engine.jobs_per_query"] = 0.0
        b.layer["trace.overhead_ratio"] = _median(traced_lat) / _median(untraced_lat) - 1
    return {
        "request_p50_s": _median(latencies),
        "requests_per_s": len(latencies) / elapsed,
        "window_s": elapsed,
    }


# ---- tracing -----------------------------------------------------------------

def install_trace(b: Bench) -> None:
    import pyspark.sql.classic.dataframe as classic_df

    import g_data_pipeline_spark.service as service_mod
    import g_data_pipeline_spark.sources.ingest as ingest_mod
    from g_data_pipeline_spark.http_api import PipelineApp
    from g_data_pipeline_spark.jobstore import InMemoryJobStore
    from g_data_pipeline_spark.storage import LocalObjectStore, TTLCache
    from g_data_pipeline_spark.worker import JobWorker

    tr = b.tracer
    assert tr is not None
    svc_cls = service_mod.DataPipelineService
    tr.span(PipelineApp, "__call__", "http_api.call")
    for attr in ("query", "upload_csv", "get_insights", "process_job"):
        tr.span(svc_cls, attr, f"service.{attr}")
    tr.span(service_mod, "parse_llm_response", "nl.translate")
    tr.span(service_mod, "rule_based_translate", "nl.translate")
    tr.span(service_mod, "compile_query", "compiler.compile")
    tr.span(classic_df.DataFrame, "collect", "service.query_collect", under="service.query")
    tr.span(service_mod, "visualization_spec", "service.visualization")
    tr.span(service_mod, "land_csv", "ingest.land_csv")
    tr.span(ingest_mod, "read_csv", "ingest.read_csv")
    tr.span(ingest_mod, "coerce_types", "ingest.coerce_types")
    tr.span(service_mod, "profile", "profiler.profile")
    tr.span(service_mod, "format_insights", "profiler.format")
    tr.span(LocalObjectStore, "put_bytes", "storage.put_bytes")

    submit = JobWorker.__dict__["submit"]
    process = svc_cls.__dict__["process_job"]
    cache_get = TTLCache.__dict__["get"]

    def traced_submit(self, job_id):
        tr.hand_off(job_id)
        return submit(self, job_id)

    def traced_process(self, job_id):
        wait = tr.pick_up(job_id)
        if wait is not None:
            tr.queue_waits.append(wait)
        t0 = time.perf_counter()
        try:
            return process(self, job_id)
        finally:
            if tr.active:  # every job, traced or not
                tr.busy.append(time.perf_counter() - t0)

    def traced_get(self, key):
        value = cache_get(self, key)
        tr.count("cache.gets")
        if value is not None:
            tr.count("cache.hits")
        return value

    tr.patch(JobWorker, "submit", traced_submit)
    tr.patch(svc_cls, "process_job", traced_process)
    tr.patch(TTLCache, "get", traced_get)
    for attr in ("put", "get", "transition"):
        fn = InMemoryJobStore.__dict__[attr]

        def counted(self, *a, _fn=fn, **k):
            tr.count("jobstore.ops")
            return _fn(self, *a, **k)

        tr.patch(InMemoryJobStore, attr, counted)


def layer_metrics(b: Bench, window_s: float) -> dict[str, float]:
    tr = b.tracer
    assert tr is not None
    out = dict(b.layer)
    out["http_api.self_s"] = mean(tr.self_times("http_api.call"))
    for metric, span in (
        ("nl.translate_s", "nl.translate"),
        ("compiler.compile_s", "compiler.compile"),
        ("service.query_collect_s", "service.query_collect"),
        ("service.visualization_s", "service.visualization"),
        ("ingest.read_csv_s", "ingest.read_csv"),
        ("ingest.coerce_types_s", "ingest.coerce_types"),
        ("ingest.land_csv_s", "ingest.land_csv"),
        ("profiler.profile_s", "profiler.profile"),
        ("profiler.format_s", "profiler.format"),
        ("storage.put_bytes_s", "storage.put_bytes"),
    ):
        out[metric] = mean(tr.durations(span))
    out["worker.queue_wait_s"] = mean(tr.queue_waits)
    out["worker.busy_ratio"] = sum(tr.busy) / window_s
    gets = tr.counts["cache.gets"]
    out["storage.cache_hit_ratio"] = tr.counts["cache.hits"] / gets if gets else 0.0
    requests = len(tr.durations("http_api.call"))
    out["jobstore.ops"] = tr.counts["jobstore.ops"] / requests if requests else 0.0
    return out


# ---- entry point -------------------------------------------------------------

def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    try:
        import g_data_pipeline_spark.http_api as program
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if ROOT not in Path(program.__file__).resolve().parents:
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2

    out_dir = ROOT / ".perfbench_work"
    work = out_dir / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark" / "local")
    # the spark-submit launcher JVM would otherwise write under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    tempfile.tempdir = str(work / "tmp")

    # The JVM and library chatter go to stderr; only the result uses stdout.
    result_fd = os.dup(1)
    os.dup2(2, 1)

    b = Bench(args, work, t_start)
    try:
        b.start()
        if b.tracer is not None:
            install_trace(b)
        values = {"chat": run_chat, "ingest": run_ingest}[args.workload](b)
        values["setup_s"] = b.setup_s
        values["peak_rss_mb"] = b.peak_rss_mb()
    finally:
        if b.tracer is not None:
            b.tracer.restore()
        b.close()
        shutil.rmtree(work, ignore_errors=True)
    correct = b.failed == 0
    for note in b.notes:
        print(f"perfbench: failed: {note}", file=sys.stderr)
    if b.tracer is not None:
        b.tracer.write(out_dir / f"spans-{args.workload}-{args.seed}.jsonl")
        line = result_line(correct, b.attempted, b.failed,
                           layer_metrics(b, values["window_s"]), PER_LAYER)
    else:
        line = result_line(correct, b.attempted, b.failed, values, END_TO_END)
    os.write(result_fd, (line + "\n").encode())
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
