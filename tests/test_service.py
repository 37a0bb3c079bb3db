"""End-to-end service lifecycle tests mirroring the reference's three entry
points (SURVEY.md §3): upload -> job -> insights; recompute-on-miss;
conversation queries (rules + LLM-JSON + raw IR) with visualization specs."""

from __future__ import annotations

import sys
import threading
import time
from pathlib import Path

import pytest

from g_data_pipeline_spark.llm import FakeLLMClient
from g_data_pipeline_spark.service import DataPipelineService, JobStatus
from g_data_pipeline_spark.storage import LocalObjectStore, TTLCache

FIXTURE = Path(__file__).parent / "fixtures" / "people.csv"


@pytest.fixture(scope="module")
def svc(spark, tmp_path_factory):
    return DataPipelineService(spark, str(tmp_path_factory.mktemp("svc")))


@pytest.fixture(scope="module")
def job_id(svc):
    jid = svc.upload_csv(FIXTURE.read_bytes(), "people.csv")
    svc.process_job(jid)
    return jid


def test_upload_validation(svc):
    with pytest.raises(ValueError):
        svc.upload_csv(b"", "x.csv")
    with pytest.raises(ValueError):
        svc.upload_csv(b"a,b\n1,2", "x.txt")


def test_job_lifecycle_and_insights(svc, job_id):
    assert svc.jobs[job_id].status == JobStatus.COMPLETED
    insights = svc.get_insights(job_id)
    assert insights["data_summary"]["row_count"] == 200
    stats = {s["name"]: s for s in insights["column_statistics"]}
    # landed dataset has normalized names + coerced types
    assert "income_as_at_joining_scheme" in stats
    assert "mean" in stats["age"]


def test_insights_recompute_on_miss(svc, job_id, monkeypatch):
    """A cache miss re-profiles the landed dataset: no CSV re-landing, and
    the job stays COMPLETED throughout."""
    import g_data_pipeline_spark.service as service_mod

    original = svc.get_insights(job_id)

    def no_relanding(*args, **kwargs):
        raise AssertionError("recompute-on-miss must not re-land the CSV")

    monkeypatch.setattr(service_mod, "land_csv", no_relanding)
    svc.insights_cache.pop(job_id)
    insights = svc.get_insights(job_id)
    assert insights == original
    assert insights["data_summary"]["row_count"] == 200
    assert svc.jobs[job_id].status == JobStatus.COMPLETED
    assert svc.insights_cache.get(job_id) is not None  # re-cached


def test_insights_unknown_and_pending(svc):
    assert svc.get_insights("nope") is None
    jid = svc.upload_csv(b"a,b\n1,2\n", "t.csv")
    assert svc.get_insights(jid) == {"status": "queued"}


def test_rule_based_query_mean(svc, job_id):
    out = svc.query(job_id, query_text="what is the average age?")
    assert out["data"][0]["mean_age"] == pytest.approx(41.0, abs=5)
    assert "mean_age" in out["response"]


def test_rule_based_group_by_count(svc, job_id):
    out = svc.query(job_id, query_text="count of customers by province")
    got = {r["province"]: r["count_province"] for r in out["data"]}
    assert set(got) == {"north", "south", "east", "west"}


def test_llm_json_query_path(svc, job_id):
    payload = """Here is the query:
    ```json
    {"intent": "aggregate", "columns": [],
     "operations": [{"type": "sum", "column": "score"}]}
    ```"""
    out = svc.query(job_id, query_text=payload)
    assert out["data"][0]["sum_score"] > 0


def test_raw_ir_query_with_conversation(svc, job_id):
    out1 = svc.query(
        job_id,
        ir={"intent": "describe", "columns": ["age", "sex"], "operations": []},
    )
    cid = out1["conversation_id"]
    assert len(out1["data"]) == 10  # describe cap
    out2 = svc.query(job_id, query_text="count by sex", conversation_id=cid)
    assert out2["conversation_id"] == cid
    assert len(svc.conversations[cid].history) == 2


def test_visualize_intent_produces_spec(svc, job_id):
    out = svc.query(
        job_id,
        ir={
            "intent": "visualize",
            "columns": ["age", "score"],
            "operations": [],
        },
    )
    viz = out["visualization_data"]
    assert viz["type"] == "bar"
    assert set(viz["data"]["labels"]) == {"age", "score"}
    assert len(out["data"]) <= 100  # visualize cap


def test_visualize_categorical_value_counts(svc, job_id):
    out = svc.query(
        job_id,
        ir={"intent": "visualize", "columns": ["province"], "operations": []},
    )
    viz = out["visualization_data"]
    assert viz["type"] == "bar"
    assert viz["data"]["datasets"][0]["label"] == "Count of province"


def test_failed_job_records_error(svc):
    jid = svc.upload_csv(b"not,really\ncsv", "bad.csv")
    # corrupt the landed path to force a failure
    svc.jobs[jid].file_path = "/nonexistent/really.csv"
    with pytest.raises(Exception):
        svc.process_job(jid)
    assert svc.jobs[jid].status == JobStatus.FAILED
    assert svc.jobs[jid].error


def test_rule_based_grouped_mean(svc, job_id):
    out = svc.query(job_id, query_text="average score by province")
    got = {r["province"]: r["mean_score"] for r in out["data"]}
    assert set(got) == {"north", "south", "east", "west"}
    assert all(v > 0 for v in got.values())


# ---- storage seam (S2/S3): s3a-style logical URIs over the local fake -----


def test_object_store_uri_roundtrip(tmp_path):
    store = LocalObjectStore(str(tmp_path / "s3"), bucket="bkt")
    uri = store.put_bytes("a/b.txt", b"hi")
    assert uri == "s3a://bkt/a/b.txt"
    assert store.get_bytes("a/b.txt") == b"hi"
    assert store.resolve(uri).endswith("/a/b.txt")
    assert store.list_keys("a/") == ["a/b.txt"]
    with pytest.raises(ValueError):
        store.resolve("s3a://other-bucket/a/b.txt")
    with pytest.raises(ValueError):
        store.put_bytes("../escape.txt", b"x")
    store.delete("a/b.txt")
    assert not store.exists("a/b.txt")


def test_job_metadata_stores_logical_uris(svc, job_id):
    """Uploads and datasets are addressed by s3a-style URIs; every Spark
    read goes through store.resolve() — the exact seam a real object-store
    deployment swaps in."""
    assert svc.jobs[job_id].file_path.startswith("s3a://")
    assert svc.store.exists(f"uploads/{job_id}.csv")
    # dataset parquet landed under the store root via resolve()
    assert any(k.endswith(".parquet") for k in svc.store.list_keys(f"datasets/{job_id}"))


# ---- insights cache TTL (S5; reference mod.rs:107 = 24 h) -----------------


def test_insights_cache_ttl_expiry(spark, tmp_path):
    now = [1000.0]
    svc = DataPipelineService(
        spark,
        str(tmp_path / "ttl"),
        insights_cache=TTLCache(ttl_s=100.0, clock=lambda: now[0]),
    )
    jid = svc.upload_csv(FIXTURE.read_bytes(), "people.csv")
    svc.process_job(jid)
    assert svc.insights_cache.get(jid) is not None
    now[0] += 99.0
    assert svc.insights_cache.get(jid) is not None  # still fresh
    now[0] += 2.0
    assert svc.insights_cache.get(jid) is None  # expired
    # recompute-on-miss repopulates after expiry
    assert svc.get_insights(jid)["data_summary"]["row_count"] == 200
    assert svc.insights_cache.get(jid) is not None


# ---- bounded driver fetch (conversation results can never OOM the driver) -


def test_filter_intent_result_is_bounded(svc, job_id):
    out = svc.query(
        job_id,
        ir={
            "intent": "filter",
            "columns": ["age"],
            "operations": [
                {"type": "filter", "column": "age", "operator": ">", "value": "0"}
            ],
        },
        max_rows=50,
    )
    assert len(out["data"]) == 50
    assert out["truncated"] is True
    # under the cap -> not truncated
    out2 = svc.query(job_id, query_text="what is the average age?")
    assert out2["truncated"] is False


# ---- pluggable LLM client (N3/N4 lifecycle through the fake) --------------


def test_fake_llm_translate_compile_respond(spark, tmp_path):
    fake = FakeLLMClient(
        translations={
            "typical income": {
                "intent": "aggregate",
                "columns": [],
                "operations": [
                    {"type": "mean", "column": "income_as_at_joining_scheme"}
                ],
            }
        }
    )
    svc = DataPipelineService(spark, str(tmp_path / "llm"), llm=fake)
    jid = svc.upload_csv(FIXTURE.read_bytes(), "people.csv")
    svc.process_job(jid)
    out = svc.query(jid, query_text="what is the typical income here?")
    assert "mean_income_as_at_joining_scheme" in out["data"][0]
    assert out["response"].startswith("Deterministic summary:")
    assert [c[0] for c in fake.calls] == ["translate", "summarize"]

    # unmatched query -> model declines -> rule-based fallback still answers
    out2 = svc.query(jid, query_text="what is the average age?")
    assert out2["data"][0]["mean_age"] > 0


# ---- history-aware follow-ups ---------------------------------------------


def test_conversation_followup_resolves_column_from_history(svc, job_id):
    out1 = svc.query(job_id, query_text="what is the average score?")
    cid = out1["conversation_id"]
    out2 = svc.query(job_id, query_text="and the total?", conversation_id=cid)
    assert "sum_score" in out2["data"][0]  # 'score' came from turn 1


def test_conversation_contexts_are_capped(svc, job_id, monkeypatch):
    import g_data_pipeline_spark.service as service_mod

    monkeypatch.setattr(service_mod, "MAX_CONVERSATIONS", 3)
    cids = [
        svc.query(job_id, query_text="what is the average score?")[
            "conversation_id"
        ]
        for _ in range(5)
    ]
    assert len(svc.conversations) <= 3
    assert cids[0] not in svc.conversations
    out = svc.query(job_id, query_text="and the total?", conversation_id=cids[-1])
    assert out["conversation_id"] == cids[-1]
    assert "sum_score" in out["data"][0]  # history of the newest survived


def _run_concurrently(n_threads, work, deadline_s=60.0):
    """Run ``work(i)`` on ``n_threads`` threads released together, with the
    interpreter switching threads every microsecond to widen race windows.
    One deadline bounds the whole run (not one per join), and a thread
    still alive at it fails the test. Returns the exceptions raised."""
    errors: list = []
    barrier = threading.Barrier(n_threads)

    def worker(i):
        try:
            barrier.wait(timeout=10)
            work(i)
        except Exception as exc:  # noqa: BLE001 — returned to the test
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        end = time.monotonic() + deadline_s
        for t in threads:
            t.join(timeout=max(0.0, end - time.monotonic()))
    finally:
        sys.setswitchinterval(old)
    alive = [t for t in threads if t.is_alive()]
    assert not alive, f"{len(alive)} threads still running after {deadline_s} s"
    return errors


def test_conversation_registry_is_thread_safe(svc, job_id, monkeypatch):
    import g_data_pipeline_spark.service as service_mod

    got: list = []
    # concurrent first opens of one id must share one context
    errors = _run_concurrently(
        16,
        lambda _: got.extend(
            svc._conversation(f"shared-{k}", job_id) for k in range(300)
        ),
    )
    # churn past the cap: eviction never races a lookup
    monkeypatch.setattr(service_mod, "MAX_CONVERSATIONS", 5)
    errors += _run_concurrently(
        16, lambda _: [svc._conversation(None, job_id) for _ in range(200)]
    )
    assert errors == []
    contexts: dict = {}
    for ctx in got:
        contexts.setdefault(ctx.id, set()).add(id(ctx))
    assert len(contexts) == 300
    assert all(len(objs) == 1 for objs in contexts.values())
    assert len(svc.conversations) == 5


# ---- query result cache ---------------------------------------------------


def _spark_jobs(svc) -> list[int]:
    return sorted(svc.spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_repeated_ir_query_answers_from_cache_without_spark(svc, job_id):
    ir = {
        "intent": "visualize",
        "columns": ["age", "score"],
        "operations": [
            {"type": "filter", "column": "age", "operator": ">", "value": "30"}
        ],
    }
    first = svc.query(job_id, ir=ir, max_rows=20)
    jobs = _spark_jobs(svc)
    again = svc.query(job_id, ir=ir, max_rows=20)
    assert _spark_jobs(svc) == jobs  # the hit ran no Spark job
    assert first["truncated"] is True and len(first["data"]) == 20
    for key in ("data", "truncated", "visualization_data"):
        assert again[key] == first[key]
    assert again["conversation_id"] != first["conversation_id"]


def test_nl_and_equivalent_ir_share_one_entry(svc, job_id):
    nl = svc.query(job_id, query_text="average score by province")
    entries, jobs = len(svc._results), _spark_jobs(svc)
    ir = svc.query(
        job_id,
        ir={
            "intent": "aggregate",
            "operations": [{"type": "mean", "column": "score", "by": "province"}],
        },
    )
    assert len(svc._results) == entries and _spark_jobs(svc) == jobs
    assert ir["data"] == nl["data"]


def test_max_rows_keys_separate_entries(svc, job_id):
    ir = {
        "intent": "filter",
        "columns": ["age", "sex"],
        "operations": [
            {"type": "filter", "column": "age", "operator": ">=", "value": "0"}
        ],
    }
    entries = len(svc._results)
    five = svc.query(job_id, ir=ir, max_rows=5)
    fifty = svc.query(job_id, ir=ir, max_rows=50)
    assert len(svc._results) == entries + 2
    assert len(five["data"]) == 5 and len(fifty["data"]) == 50
    assert fifty["data"][:5] == five["data"]


def test_history_is_appended_on_a_hit(svc, job_id):
    svc.query(job_id, query_text="what is the average score?")  # warm the entry
    jobs = _spark_jobs(svc)
    out1 = svc.query(job_id, query_text="what is the average score?")
    assert _spark_jobs(svc) == jobs
    cid = out1["conversation_id"]
    assert len(svc.conversations[cid].history) == 1
    out2 = svc.query(job_id, query_text="and the total?", conversation_id=cid)
    assert "sum_score" in out2["data"][0]  # 'score' came from the cached turn
    assert len(svc.conversations[cid].history) == 2


def test_rejected_request_opens_no_conversation(svc, job_id):
    before = len(svc.conversations)
    with pytest.raises(ValueError):
        svc.query(job_id, ir=[1, 2])
    with pytest.raises(ValueError):
        svc.query(job_id, ir={"columns": ["nope"]}, conversation_id="rejected")
    with pytest.raises(ValueError):
        svc.query(job_id, conversation_id="rejected")
    assert len(svc.conversations) == before
    assert "rejected" not in svc.conversations


def test_datasets_are_capped(svc, job_id, spark, monkeypatch):
    import g_data_pipeline_spark.service as service_mod

    monkeypatch.setattr(service_mod, "MAX_DATASETS", 2)
    ir = {"intent": "aggregate", "operations": [{"type": "sum", "column": "age"}]}
    before = svc.query(job_id, ir=ir, max_rows=10)
    for other in ("lru-a", "lru-b"):
        spark.range(3).write.parquet(svc.store.resolve(svc._dataset_uri(other)))
        assert svc.dataset(other).count() == 3
    assert list(svc._datasets) == ["lru-a", "lru-b"]  # the oldest went
    after = svc.query(job_id, ir=ir, max_rows=9)  # a miss: re-opens the Parquet
    assert after["data"] == before["data"]
    assert list(svc._datasets) == ["lru-b", job_id]


def test_ttl_cache_evicts_least_recently_used(monkeypatch):
    import g_data_pipeline_spark.storage as storage_mod

    monkeypatch.setattr(storage_mod, "CACHE_MAX_BYTES", 30)
    cache = TTLCache()
    for k in ("a", "b", "c"):
        cache.put(k, "x" * 9)  # 10 each: exactly full
    assert cache.get("a") is not None  # a is now the most recent
    cache.put("d", "x" * 9)
    assert cache.get("b") is None  # least recently used went first
    assert all(cache.get(k) is not None for k in ("a", "c", "d"))
    cache.put("e", "x" * 19)  # needs two slots
    assert [k for k in "acde" if k in cache] == ["d", "e"]
    cache.put("huge", "x" * 30)  # larger than the cap: not stored
    assert "huge" not in cache and len(cache) == 2


def test_ttl_cache_is_thread_safe(monkeypatch):
    import g_data_pipeline_spark.storage as storage_mod

    monkeypatch.setattr(storage_mod, "CACHE_MAX_BYTES", 200)
    cache = TTLCache()

    def work(t):
        for i in range(500):
            key = f"k{(t * 7 + i) % 40}"
            cache.put(key, key * 3)
            value = cache.get(key)
            assert value is None or value == key * 3

    assert _run_concurrently(16, work) == []
    sizes = [len(k) + len(v) for k, (_, v) in cache._data.items()]
    assert cache._bytes == sum(sizes) <= 200
