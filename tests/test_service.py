"""End-to-end service lifecycle tests mirroring the reference's three entry
points (SURVEY.md §3): upload -> job -> insights; recompute-on-miss;
conversation queries (rules + LLM-JSON + raw IR) with visualization specs."""

from __future__ import annotations

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


def test_conversation_registry_is_thread_safe(svc, job_id, monkeypatch):
    import sys
    import threading

    import g_data_pipeline_spark.service as service_mod

    got: list = []
    errors: list = []

    def run(n_threads, work):
        barrier = threading.Barrier(n_threads)

        def worker():
            try:
                barrier.wait(timeout=10)
                work()
            except Exception as exc:  # noqa: BLE001 — reported below
                errors.append(exc)

        threads = [threading.Thread(target=worker) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        # concurrent first opens of one id must share one context
        run(
            16,
            lambda: got.extend(
                svc._conversation(f"shared-{k}", job_id) for k in range(300)
            ),
        )
        # churn past the cap: eviction never races a lookup
        monkeypatch.setattr(service_mod, "MAX_CONVERSATIONS", 5)
        run(16, lambda: [svc._conversation(None, job_id) for _ in range(200)])
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    contexts: dict = {}
    for ctx in got:
        contexts.setdefault(ctx.id, set()).add(id(ctx))
    assert len(contexts) == 300
    assert all(len(objs) == 1 for objs in contexts.values())
    assert len(svc.conversations) == 5
