"""The service layer: the reference's end-to-end lifecycles re-hosted on the
Spark engine (SURVEY.md §3).

- upload -> background profiling job (§3.1): ``upload_csv`` +
  ``process_job``. A job lands the CSV as typed Parquet ONCE (vs the
  reference re-parsing the CSV on every touch), profiles it, caches insights.
- insights with recompute-on-miss (§3.2): ``get_insights``.
- conversation query (§3.3): NL/IR -> compile -> ONE lazy plan -> JSON rows
  + Chart.js-style visualization spec (V1-V3) + templated prose. Answers
  come from a bounded result cache (a private ``TTLCache``) keyed on
  ``(job_id, max_rows, StructuredQuery.to_json())``: the validated IR, not
  the NL text, so an NL request and an IR request that mean the same query
  share one entry, and conversation history (which only steers the
  translation) needs no place in the key. A hit runs no Spark job. The
  cache needs no invalidation: a job's CSV is written once under its uuid
  and landed once, so its Parquet -- and every answer over it -- never
  changes. Prose and the conversation turn stay per request.

Storage goes through the :mod:`g_data_pipeline_spark.storage` seam: job
metadata records *logical* object URIs (``s3a://bucket/key``-style) and every
Spark read/write resolves them via the injected :class:`ObjectStore` — the
local fake in tests, hadoop-aws passthrough in production (reference:
``s3.rs:40-74`` / ``memory_s3.rs``). The insights cache has the reference's
24 h TTL (``mod.rs:107``); to change the TTL or the clock, pass
``insights_cache=TTLCache(ttl_s, clock)``. LLM calls (N3 translate /
N4 summarize) go through the :mod:`g_data_pipeline_spark.llm` seam; without a
client the rule-based translator and template prose serve as deterministic
fallbacks. One uuid identifies upload, job, and dataset (fixing the
reference's dual-uuid quirk, SURVEY.md §3.1).
"""

from __future__ import annotations

import datetime
import json
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from g_data_pipeline_spark.ir import QueryIntent, StructuredQuery
from g_data_pipeline_spark.llm import LLMClient
from g_data_pipeline_spark.nl import parse_llm_response, rule_based_translate
from g_data_pipeline_spark.plans import compile_query
from g_data_pipeline_spark.profiler import classify_columns, format_insights, profile
from g_data_pipeline_spark.sources import land_csv
from g_data_pipeline_spark.storage import LocalObjectStore, ObjectStore, TTLCache

# Hard ceiling on rows fetched to the driver per conversation query. The
# reference collects Filter/Sort results unbounded (conversation.rs) — at
# 100 TB that OOMs the driver; results beyond the cap are flagged truncated
# so callers paginate or export instead.
MAX_RESULT_ROWS = 1000

# Conversation contexts kept in memory; past the cap the least recently
# used one is evicted (every query without a conversation_id opens one).
MAX_CONVERSATIONS = 10_000

# Landed datasets kept open (a DataFrame each, with its cached profile
# plans); past the cap the least recently used is dropped, and the next
# query on it re-opens its Parquet.
MAX_DATASETS = 256


# Job/JobStatus (and the store seam) live in jobstore.py — re-exported
# here so existing imports keep working. The reference persists these in
# Postgres (database.rs); the default here is the in-memory fake, with
# SqliteJobStore as the durable drop-in (restart survival tested in
# tests/test_jobstore.py).
from g_data_pipeline_spark.jobstore import (  # noqa: E402
    InMemoryJobStore,
    Job,
    JobStatus,
    JobStore,
)


@dataclass
class ConversationTurn:
    query: str
    response: str
    timestamp: float = field(default_factory=time.time)


@dataclass
class ConversationContext:
    id: str
    job_id: str
    history: list[ConversationTurn] = field(default_factory=list)


class DataPipelineService:
    """In-process equivalent of the reference's Actix service wired to Spark."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        store: ObjectStore | None = None,
        llm: LLMClient | None = None,
        job_store: JobStore | None = None,
        insights_cache=None,
    ):
        self.spark = spark
        self.store = store or LocalObjectStore(workdir)
        self.llm = llm
        # durable twin: pass SqliteJobStore(path) (reference database.rs)
        self.jobs: JobStore = job_store or InMemoryJobStore()
        # job_id -> insights JSON, expiring per the reference's 24 h TTL;
        # wire twin: pass kvstore.RespKVCache (reference redis.rs). An
        # empty cache is falsy (it has __len__), so test for None.
        self.insights_cache = (
            TTLCache() if insights_cache is None else insights_cache
        )
        self.conversations: OrderedDict[str, ConversationContext] = (
            OrderedDict()
        )
        self._conversations_lock = threading.Lock()
        self._datasets: OrderedDict[str, DataFrame] = OrderedDict()
        self._datasets_lock = threading.Lock()
        # (job_id, max_rows, canonical IR) -> serialized answer
        self._results = TTLCache()

    # ---- §3.1 upload -> profile job -------------------------------------

    def upload_csv(self, data: bytes, filename: str = "upload.csv") -> str:
        if not data:
            raise ValueError("empty file")
        if not filename.lower().endswith(".csv"):
            raise ValueError("only .csv files are accepted")
        job_id = str(uuid.uuid4())
        uri = self.store.put_bytes(f"uploads/{job_id}.csv", data)
        self.jobs.put(Job(id=job_id, file_path=uri))
        return job_id

    def _dataset_uri(self, job_id: str) -> str:
        return self.store.uri(f"datasets/{job_id}")

    def process_job(self, job_id: str) -> dict[str, Any]:
        # transitions go THROUGH the store so a durable backend persists
        # every state change (database.rs update-status parity)
        job = self.jobs.transition(job_id, JobStatus.PROCESSING)
        try:
            csv_path = self.store.resolve(job.file_path)
            parquet_dir = self.store.resolve(self._dataset_uri(job_id))
            df, _ = land_csv(self.spark, csv_path, parquet_dir)
            self._hold_dataset(job_id, df)
            insights = profile(df)
            self._cache_insights(job_id, insights)
            self.jobs.transition(job_id, JobStatus.COMPLETED)
            return insights
        except Exception as exc:  # noqa: BLE001 — job must record failure
            self.jobs.transition(job_id, JobStatus.FAILED, error=str(exc))
            raise

    # ---- §3.2 insights with recompute-on-miss ----------------------------

    def get_insights(self, job_id: str) -> dict[str, Any] | None:
        job = self.jobs.get(job_id)
        if job is None:
            return None
        if job.status != JobStatus.COMPLETED:
            # reference answers 202 Accepted; callers poll
            return {"status": job.status.value}
        cached = self.insights_cache.get(job_id)
        if cached is None:
            # materialized-view recompute-on-miss: re-profile the landed
            # dataset; the job stays COMPLETED and the Parquet that live
            # queries read is left in place
            cached = self._cache_insights(job_id, profile(self.dataset(job_id)))
        return json.loads(cached)

    def _cache_insights(self, job_id: str, insights: dict[str, Any]) -> str:
        payload = json.dumps(format_insights(insights))
        self.insights_cache.put(job_id, payload)
        return payload

    # ---- §3.3 conversation query -----------------------------------------

    def dataset(self, job_id: str) -> DataFrame:
        with self._datasets_lock:
            df = self._datasets.get(job_id)
            if df is not None:
                self._datasets.move_to_end(job_id)
                return df
        parquet_dir = self.store.resolve(self._dataset_uri(job_id))
        df = self.spark.read.parquet(parquet_dir)
        self._hold_dataset(job_id, df)
        return df

    def _hold_dataset(self, job_id: str, df: DataFrame) -> None:
        with self._datasets_lock:
            _put_lru(self._datasets, job_id, df, MAX_DATASETS)

    def _translate(
        self, query_text: str, df: DataFrame, history: list[str]
    ) -> StructuredQuery:
        """N2/N3 translation chain: direct JSON in the text -> LLM client
        (when configured) -> rule-based fallback, all history-aware."""
        try:
            return parse_llm_response(query_text, df.columns)
        except ValueError:
            pass
        if self.llm is not None:
            try:
                answer = self.llm.translate(query_text, df.columns, history)
                return parse_llm_response(answer, df.columns)
            except ValueError:
                pass  # model couldn't translate / emitted invalid IR
        classes = classify_columns(df)
        return rule_based_translate(
            query_text, df.columns, classes.numeric, history=history
        )

    def _conversation(
        self, conversation_id: str | None, job_id: str
    ) -> ConversationContext:
        """The context for ``conversation_id`` (a new one when unknown or
        None), marked most recently used; evicts the least recently used
        contexts beyond ``MAX_CONVERSATIONS``."""
        with self._conversations_lock:
            ctx = self.conversations.get(conversation_id) or ConversationContext(
                id=conversation_id or str(uuid.uuid4()), job_id=job_id
            )
            _put_lru(self.conversations, ctx.id, ctx, MAX_CONVERSATIONS)
            return ctx

    def _history(self, conversation_id: str | None) -> list[str]:
        """Prior query texts of a known conversation, without opening or
        touching its context."""
        with self._conversations_lock:
            ctx = self.conversations.get(conversation_id)
            return [t.query for t in ctx.history] if ctx is not None else []

    def query(
        self,
        job_id: str,
        query_text: str | None = None,
        ir: dict[str, Any] | str | None = None,
        conversation_id: str | None = None,
        max_rows: int = MAX_RESULT_ROWS,
    ) -> dict[str, Any]:
        df = self.dataset(job_id)
        if ir is not None:
            sq = StructuredQuery.from_json(ir)
            sq.validate(available_columns=df.columns)
        elif query_text is not None:
            sq = self._translate(query_text, df, self._history(conversation_id))
        else:
            raise ValueError("need query_text or ir")
        # only a request that parsed opens (or touches) a conversation
        ctx = self._conversation(conversation_id, job_id)

        key = f"{job_id}/{max_rows}/{sq.to_json()}"
        answer = self._results.get(key)
        if answer is None:
            result = compile_query(df, sq)
            # Bounded driver fetch: limit(max_rows+1) keeps the cap inside
            # the plan (TakeOrderedAndProject under a sort), the +1 row only
            # detects truncation and is dropped before serialization.
            fetched = result.limit(max_rows + 1).collect()
            rows = [r.asDict(recursive=True) for r in fetched[:max_rows]]
            out: dict[str, Any] = {"data": rows, "truncated": len(fetched) > max_rows}
            if sq.intent == QueryIntent.VISUALIZE:
                out["visualization_data"] = visualization_spec(result, rows)
            answer = json.dumps(out, default=_json_default)
            self._results.put(key, answer)
        # a hit and a miss both answer from the serialized string
        response: dict[str, Any] = {"conversation_id": ctx.id, **json.loads(answer)}
        response["response"] = (
            self.llm.summarize(query_text or str(ir), response["data"])
            if self.llm is not None
            else _prose_summary(sq, response["data"])
        )
        ctx.history.append(
            ConversationTurn(query=query_text or str(ir), response=response["response"])
        )
        return response


def _put_lru(lru: OrderedDict, key: str, value: Any, cap: int) -> None:
    """Store ``key`` as the most recently used entry, then drop the least
    recently used ones past ``cap``; the caller holds the map's lock."""
    lru[key] = value
    lru.move_to_end(key)
    while len(lru) > cap:
        lru.popitem(last=False)


def _json_default(value: Any) -> str:
    """Result rows of date/timestamp columns hold ``date``/``datetime``
    values; they go over the wire as ISO-8601 strings."""
    if isinstance(value, datetime.date):  # datetime is a date subclass
        return value.isoformat()
    raise TypeError(f"Object of type {type(value).__name__} is not JSON serializable")


def _prose_summary(sq: StructuredQuery, rows: list[dict[str, Any]]) -> str:
    """N5 template fallback (the reference's LLM prose is out of correctness
    scope — SURVEY.md §2.5 N4/N5)."""
    if not rows:
        return "No data found for your query."
    if sq.intent == QueryIntent.AGGREGATE and len(rows) == 1:
        parts = ", ".join(f"{k} = {v}" for k, v in rows[0].items())
        return f"Computed {parts}."
    return f"Query returned {len(rows)} rows."


def visualization_spec(result: DataFrame, rows: list[dict[str, Any]]) -> dict[str, Any]:
    """V1-V3 (SURVEY.md §2.4) computed from the result's SCHEMA, not by
    sniffing the first JSON row like the reference (conversation.rs:188-287).

    V1: numeric columns -> bar chart of column averages.
    V2: else first string column -> bar chart of value counts.
    V3: else -> table spec.
    """
    numeric_cols = [
        f.name for f in result.schema.fields if isinstance(f.dataType, T.NumericType)
    ]
    if numeric_cols and rows:
        avgs = {
            c: (sum(r[c] for r in rows if r[c] is not None) / n)
            for c in numeric_cols
            if (n := sum(1 for r in rows if r[c] is not None)) > 0
        }
        return {
            "type": "bar",
            "data": {
                "labels": list(avgs.keys()),
                "datasets": [
                    {"label": "Average", "data": [avgs[c] for c in avgs]}
                ],
            },
        }
    string_cols = [
        f.name for f in result.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    if string_cols and rows:
        col = string_cols[0]
        counts: dict[str, int] = {}
        for r in rows:
            v = r.get(col)
            if v is not None:
                counts[str(v)] = counts.get(str(v), 0) + 1
        return {
            "type": "bar",
            "data": {
                "labels": list(counts.keys()),
                "datasets": [{"label": f"Count of {col}", "data": list(counts.values())}],
            },
        }
    return {
        "type": "table",
        "columns": result.columns,
        "rows": [[None if r[c] is None else str(r[c]) for c in result.columns] for r in rows],
    }
