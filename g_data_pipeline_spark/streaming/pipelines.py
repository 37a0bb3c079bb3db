"""Structured Streaming pipelines over event streams.

The reference has zero streaming constructs (SURVEY.md §2.2 "Not
implemented"); this module provides the streaming form of the events
operators. Design rule: the WINDOW AGGREGATION BUILDERS ARE THE BATCH ONES
— operators.windows functions are applied verbatim to streaming DataFrames,
so batch backfill and live streaming share one implementation (the
Dataset/DataFrame unification Spark is built around). Only sources, sinks,
watermarks, and output modes are streaming-specific and live here.

Late data: every aggregation takes a ``watermark`` — events later than it
are dropped and their windows finalized; state size is bounded by
(watermark horizon / slide) x key cardinality. At 100 TB/day scale the same
code runs against Kafka by swapping the source; nothing else changes.

Exactly-once sinks share one micro-batch runner. :func:`drain_available_now`
runs a writer over all currently-available input (Trigger.AvailableNow) and
always stops it; :func:`run_foreach_batch` wires a per-batch function to it
and returns that function, so tests replay an epoch by calling it with the
same ``batch_id``. Idempotence comes in two forms: per-batch ``__batch_id``
partitions overwritten dynamically (:func:`overwrite_batch_partition`), or
run-id commits through the ``sources/txn.py`` manifest protocol, namespaced
by :func:`default_sink_name`. The incremental dedup operators all run the
as-of directory-cut protocol of :func:`directory_cut_stream`: read the
directory as of the version before the batch's own delta
(``txn.read_as_of_run``), so a replay sees what the first attempt saw; then
commit the delta, then the output, each no-op on its run id.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from g_data_pipeline_spark.operators.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events_from_json(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream with the events schema (schema must be explicit
    for streaming reads — no inference). Swap for ``format("kafka")`` +
    ``from_json(value)`` in production; downstream code is identical."""
    return spark.readStream.schema(EVENT_SCHEMA).json(path)


def tumbling_counts_stream(
    stream: DataFrame,
    duration: str = "1 hour",
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    return tumbling_window_agg(
        stream.withWatermark("ts", watermark),
        "ts",
        duration,
        keys=keys or ["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        ],
    )


def sliding_counts_stream(
    stream: DataFrame,
    duration: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    return sliding_window_agg(
        stream.withWatermark("ts", watermark),
        "ts",
        duration,
        slide,
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )


def sessionized_counts_stream(
    stream: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming session windows: state merges sessions as events arrive;
    a session closes (and emits, in append mode) once the watermark passes
    its end."""
    return session_window_agg(
        stream.withWatermark("ts", watermark),
        "ts",
        gap,
        keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )


def dedup_events_stream(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming exactly-once event dedup — the ingestion guard of a
    training-data pipeline (at-least-once sources like Kafka redeliver).

    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark``: state
    per key is EVICTED once the watermark passes its event time, so state
    size is bounded by (watermark horizon x key arrival rate) — the only
    form that survives an unbounded stream. The plain ``dropDuplicates``
    form (False) keeps every key forever: correct, but state grows without
    bound; batch jobs should use operators.dedup.exact_dedup instead."""
    marked = stream.withWatermark("ts", watermark)
    cols = keys or ["event_id"]
    if within_watermark:
        return marked.dropDuplicatesWithinWatermark(cols)
    return marked.dropDuplicates(cols)


def running_user_totals_stream(stream: DataFrame) -> DataFrame:
    """CUSTOM STATEFUL operator via applyInPandasWithState: per-user running
    event count + value total, maintained in explicit GroupState — the
    escape hatch for stateful logic that windowed aggregation can't express
    (here deliberately simple so tests can assert exact parity with batch).

    State is one small tuple per user; Spark checkpoints it per micro-batch
    and redistributes on rescale — the custom-operator contract the
    reference has no counterpart for."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def drain_available_now(writer, what: str, timeout_s: int) -> None:
    """Run ``writer`` (a ``DataStreamWriter``) over all currently-available
    input (Trigger.AvailableNow) and stop it. Raises ``TimeoutError`` when
    the input is not drained within ``timeout_s`` — callers never see a
    partially-processed sink."""
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(f"{what} did not drain within {timeout_s}s")
    finally:
        q.stop()


def run_foreach_batch(
    stream: DataFrame, apply_batch, checkpoint_dir: str, what: str,
    timeout_s: int,
):
    """Drain ``stream`` through ``apply_batch(batch_df, batch_id)`` and
    return ``apply_batch``, so tests can replay an epoch directly."""
    drain_available_now(
        stream.writeStream.foreachBatch(apply_batch).option(
            "checkpointLocation", checkpoint_dir
        ),
        what,
        timeout_s,
    )
    return apply_batch


def default_sink_name(checkpoint_dir: str) -> str:
    """Run-id namespace of a sink: a stable hash of its checkpoint dir.
    Batch ids restart at 0 per checkpoint, so the same checkpoint keeps
    the same namespace (replays stay idempotent) and a fresh checkpoint
    gets disjoint run ids (no collision with committed ``batch-0``)."""
    return hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:12]


def overwrite_batch_partition(
    df: DataFrame, batch_id: int, path: str, *partition_cols: str
) -> None:
    """Write ``df`` as the ``__batch_id=batch_id`` partition of ``path``
    (further partitioned by ``partition_cols``) with dynamic partition
    overwrite: a replayed epoch rewrites exactly its own partitions."""
    (
        df.withColumn("__batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id", *partition_cols)
        .parquet(path)
    )


def committed_versions(path: str) -> list[int]:
    """Ascending versions N of the ``path/v=N`` snapshots whose write
    committed (``_SUCCESS`` present). Lists the local directory (tests run
    on local-fs); a production deployment swaps in a FileSystem listing
    or a transaction log — the versioning contract is the point."""
    if not os.path.isdir(path):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("v=")
        and os.path.exists(os.path.join(path, d, "_SUCCESS"))
    )


def directory_cut_stream(
    stream: DataFrame,
    directory_table: str,
    out_table: str,
    checkpoint_dir: str,
    cut,
    empty_directory,
    what: str,
    timeout_s: int,
    sink_name: str | None,
    delta_tag: str = "dir",
):
    """The as-of directory-cut protocol every incremental dedup stream
    runs. Per micro-batch: ``cut(batch_df, directory) -> (out, delta)``
    against ``directory_table`` read AS OF the version preceding the
    batch's own delta commit (``empty_directory(batch_df)`` when there
    is none), then commit ``delta`` under ``{sink}-{delta_tag}-batch-N``
    and ``out`` under ``{sink}-out-batch-N``. A failed epoch may already
    have committed its delta; the as-of read makes its replay see exactly
    what the first attempt saw, and both commits no-op on their run ids.
    Returns the per-batch function after the stream drains."""
    from g_data_pipeline_spark.sources import txn

    if sink_name is None:
        sink_name = default_sink_name(checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta_rid = f"{sink_name}-{delta_tag}-batch-{int(batch_id)}"
        out_rid = f"{sink_name}-out-batch-{int(batch_id)}"
        directory = txn.read_as_of_run(
            spark, directory_table, delta_rid,
            lambda: empty_directory(batch_df),
        )
        out, delta = cut(batch_df, directory)
        # both frames derive from one tree: materialize each once
        out = out.localCheckpoint(eager=True)
        delta = delta.localCheckpoint(eager=True)
        txn.commit_write(
            spark, delta, directory_table, run_id=delta_rid, mode="append"
        )
        txn.commit_write(
            spark, out, out_table, run_id=out_rid, mode="append"
        )

    return run_foreach_batch(
        stream, apply_batch, checkpoint_dir, what, timeout_s
    )


def run_available_now(
    df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    timeout_s: int = 120,
) -> DataFrame:
    """Execute a streaming DataFrame over all currently-available input
    (Trigger.AvailableNow) into a memory sink and return the result table.

    This is the batch-parity harness: the stream consumes the same files a
    batch job would read, so outputs must match the batch operator exactly
    (asserted in tests/test_streaming.py)."""
    drain_available_now(
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode),
        f"streaming query {query_name!r}",
        timeout_s,
    )
    return df.sparkSession.table(query_name)


def enrich_events_stream(stream: DataFrame, users: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of events joins
    against the (static, broadcast) user dimension — the standard streaming
    enrichment pattern. Stateless (no watermark needed: the static side is
    re-resolved per micro-batch, so dimension updates between batches are
    picked up), append-mode safe, and the stream side never shuffles when
    the dimension broadcasts."""
    return stream.join(F.broadcast(users), "user_id", "left")


def click_to_purchase_stream(
    stream: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream join: every (click, purchase) pair for the
    same user where the purchase lands within ``horizon`` after the click —
    the attribution/conversion-funnel primitive.

    Both sides carry event-time watermarks and the join has a two-sided
    time bound, so state is provably bounded: a buffered click can be
    dropped once the watermark passes click_ts + horizon (Structured
    Streaming derives the state-cleanup condition from the interval
    predicate — the documented requirement for stream-stream inner joins).
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        ),
    ).select(
        "user_id", "click_id", "click_ts", "purchase_id", "purchase_ts",
        "purchase_value",
    )


def exactly_once_parquet_sink(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
):
    """End-to-end exactly-once PARQUET sink via ``foreachBatch`` + dynamic
    partition overwrite — the standard idempotent-writer pattern for sinks
    without transactional commit.

    Structured Streaming guarantees each epoch is replayed with the SAME
    ``batch_id`` after failure; writing every micro-batch into its own
    ``__batch_id=N`` partition with dynamic partition-overwrite makes the
    replay overwrite exactly the partition the failed attempt may have
    half-written, never duplicating rows in other partitions. Downstream
    batch readers just read ``path`` (the synthetic ``__batch_id`` column
    prunes away under column pruning).

    Returns the per-batch writer function once the AvailableNow trigger has
    drained all input, so tests can invoke a simulated replay directly.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_batch_partition(batch_df, batch_id, path)

    return run_foreach_batch(
        stream, write_batch, checkpoint_dir, "exactly-once sink", timeout_s
    )


def streaming_merge_sink(
    changes_stream: DataFrame,
    base: DataFrame,
    path: str,
    checkpoint_dir: str,
    key: str,
    timeout_s: int = 120,
):
    """Streaming CDC upsert: apply each micro-batch of changes onto a
    versioned snapshot with latest-wins MERGE semantics (the streaming form
    of ``operators/cdc.py:merge_latest`` — what Delta calls a streaming
    ``MERGE INTO`` target).

    Exactly-once via snapshot versioning keyed on ``batch_id``: batch N
    reads the newest committed snapshot with version < N (the base snapshot
    when none), merges its changes, and overwrites ``path/v=N`` whole.
    Replaying an epoch after failure re-reads the SAME predecessor and
    rewrites the SAME version directory, so a half-written attempt is
    repaired, never double-applied. Readers take the max committed version.

    Version discovery here lists the local directory (tests run on
    local-fs); a production deployment swaps in a FileSystem listing or a
    transaction log — the versioning contract is the point, not the
    listing mechanism. Returns the per-batch function so tests can replay
    an epoch directly.
    """
    from g_data_pipeline_spark.operators.cdc import merge_latest

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prior = [v for v in committed_versions(path) if v < batch_id]
        snap = (
            spark.read.parquet(os.path.join(path, f"v={prior[-1]}"))
            if prior
            else base
        )
        merged = merge_latest(snap, batch_df, key=key)
        merged.write.mode("overwrite").parquet(
            os.path.join(path, f"v={batch_id}")
        )

    return run_foreach_batch(
        changes_stream, apply_batch, checkpoint_dir, "streaming merge sink",
        timeout_s,
    )


def streaming_rollup_sink(
    stream: DataFrame,
    spec,
    path: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
):
    """Streaming incremental materialized view: fold each micro-batch of
    facts into a versioned algebraic rollup (the streaming form of
    ``operators/matview.MatView.refresh`` — what Delta/Materialize call
    continuous view maintenance). ``spec`` is a
    ``operators.matview.RollupSpec``.

    Per batch the work is ONE keyed aggregate over the batch plus a fold
    with the prior state — cost O(|state| + |batch|), independent of how
    many facts the view has ever absorbed. Sums ride the decimal
    accumulators of ``aggregate_batch``, so the maintained snapshot stays
    bit-equal to a batch recompute over the full history (pinned by test).

    Exactly-once via the same snapshot-versioning contract as
    :func:`streaming_merge_sink`: batch N reads the newest committed
    snapshot with version < N and overwrites ``path/v=N`` whole, so an
    epoch replay repairs a half-written attempt instead of double-counting
    the batch (the failure mode a naive ``MatView.refresh``-per-batch
    would hit — refresh allocates the next version, so a replay would
    fold the same rows twice). Readers use :func:`read_merge_snapshot`
    (same layout). Returns the per-batch function so tests can replay an
    epoch directly.
    """
    from g_data_pipeline_spark.operators.matview import (
        aggregate_batch,
        merge_states,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = aggregate_batch(batch_df, spec)
        prior = [v for v in committed_versions(path) if v < batch_id]
        if prior:
            old = spark.read.parquet(os.path.join(path, f"v={prior[-1]}"))
            fresh = merge_states(old, fresh, spec)
        fresh.write.mode("overwrite").parquet(
            os.path.join(path, f"v={batch_id}")
        )

    return run_foreach_batch(
        stream, apply_batch, checkpoint_dir, "streaming rollup sink",
        timeout_s,
    )


def read_merge_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Current state of a :func:`streaming_merge_sink` target (max
    committed version)."""
    versions = committed_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshot under {path}")
    return spark.read.parquet(os.path.join(path, f"v={versions[-1]}"))


def sessionize_stream(
    stream: DataFrame, gap_us: int = 30 * 60 * 1_000_000
) -> DataFrame:
    """CUSTOM STATEFUL session-id assignment via applyInPandasWithState —
    the streaming twin of the batch ``e_sessionize`` query: a >gap_us
    silence starts a new session, and every event is emitted with its
    (user_id, session_idx). State per user is two longs (last event time,
    current session index); Spark checkpoints and redistributes it on
    rescale.

    Ordering contract: events are sorted (ts, event_id) WITHIN each
    micro-batch before assignment, so single-batch (availableNow) replays
    match batch exactly; cross-batch late events would need a
    watermark-buffered variant (same state schema, delayed emission) —
    the standard streaming-sessionization caveat."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("session_idx", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_us", T.LongType()),
            T.StructField("idx", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        last_us, idx = state.get if state.exists else (-1, 0)
        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return
        rows = pd.concat(parts).sort_values(["ts", "event_id"])
        # robust across pandas datetime64 storage units (ns vs us)
        us = rows["ts"].values.astype("datetime64[us]").astype("int64")
        out_ids, out_idx = [], []
        for eid, u in zip(rows["event_id"].tolist(), us.tolist()):
            if last_us < 0 or u - last_us > gap_us:
                idx += 1
            last_us = u
            out_ids.append(int(eid))
            out_idx.append(int(idx))
        state.update((int(last_us), int(idx)))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(out_ids),
                "event_id": out_ids,
                "session_idx": out_idx,
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def incremental_dedup_stream(
    docs_stream: DataFrame,
    archive_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: int = 180,
):
    """Streaming crawl ingestion with EXACTLY-ONCE incremental dedup: each
    micro-batch is deduped against the fingerprint archive built by all
    PREVIOUS batches (operators/bloom.py — Bloom pre-filter + residual
    anti-join, exact), survivors land in ``out_path`` and their
    fingerprints append to ``archive_path``, both replay-idempotent.

    Replay correctness is the subtle part: Structured Streaming replays a
    failed epoch with the SAME batch_id, but by then the failed attempt
    may already have written this batch's fingerprints into the archive —
    a naive archive join would then kill EVERY document of the replayed
    batch. Both writes therefore go into per-batch ``__batch_id``
    partitions with dynamic partition-overwrite (the exactly_once sink
    pattern), and the dedup join reads the archive EXCLUDING the current
    batch's own partition — so a replay sees exactly the archive state
    the first attempt saw, and overwrites exactly its own partitions.

    Returns the per-batch function after the AvailableNow trigger drains,
    so tests can invoke a simulated replay directly.
    """
    from g_data_pipeline_spark.operators.bloom import incremental_dedup_bloom

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            archive = spark.read.parquet(archive_path).filter(
                F.col("__batch_id") != int(batch_id)
            )
        except Exception:  # first batch: archive does not exist yet
            archive = spark.createDataFrame(
                [], "fingerprint string, __batch_id long"
            )
        survivors = incremental_dedup_bloom(
            batch_df,
            archive,
            text_col,
            id_col,
            history_fp_col="fingerprint",
        ).localCheckpoint(eager=True)  # two writes consume this subtree
        overwrite_batch_partition(survivors, batch_id, out_path)
        overwrite_batch_partition(
            survivors.select("fingerprint"), batch_id, archive_path
        )

    return run_foreach_batch(
        docs_stream, apply_batch, checkpoint_dir, "incremental dedup stream",
        timeout_s,
    )


def profile_maintenance_stream(
    stream: DataFrame,
    stats_path: str,
    checkpoint_dir: str,
    cols: list[str],
    timeout_s: int = 120,
):
    """Profile-on-ingest: maintain the mergeable stats dataset
    (operators/incremental_profile.py) FROM the ingest stream itself.

    Each micro-batch computes its own partial-profile states (exact
    decimal moments + HLL/KLL sketches — constant bytes per batch) and
    lands them in a per-batch partition of the stats dataset. The corpus
    profile at any moment is ``merged_profile(spark.read.parquet(
    stats_path))`` — cost O(#batches), the raw stream is never re-read.
    This is the streaming closure of the 100 TB profiler path: profiling
    cost is paid once per ingested byte, on ingest, and global refresh
    stays constant-time as history grows.

    Replay-idempotent via the ``__batch_id`` dynamic-partition-overwrite
    pattern (see exactly_once_parquet_sink): a replayed epoch overwrites
    exactly its own stats partition, so no batch is ever double-counted
    in the merge. Returns the per-batch function after the AvailableNow
    trigger drains, so tests can invoke a simulated replay directly.
    """
    from g_data_pipeline_spark.operators.incremental_profile import (
        partial_profile,
    )

    return _partial_maintenance_stream(
        stream,
        stats_path,
        checkpoint_dir,
        lambda batch_df, key: partial_profile(batch_df, cols, [key]),
        timeout_s,
    )


def heavy_hitter_maintenance_stream(
    stream: DataFrame,
    col: str,
    stats_path: str,
    checkpoint_dir: str,
    k: int = 64,
    timeout_s: int = 120,
):
    """Streaming top-k maintenance: each micro-batch lands its own capped
    heavy-hitter summary (``operators/incremental_profile.
    partial_heavy_hitters`` — ≤ k rows + truncation bound per batch) into
    a per-batch partition of the stats dataset. The live "trending
    values" answer at any moment is ``merged_heavy_hitters(spark.read.
    parquet(stats_path))`` with deterministic count brackets — cost
    O(k × #batches), the stream itself never re-read. Trailing-window
    trends (last N batches / since timestamp T) are the same fold over a
    ``__batch_id`` filter, exactly like the rolling WAU/MAU sketch path.

    Replay-idempotent via the same ``__batch_id`` dynamic-partition
    overwrite as :func:`profile_maintenance_stream`.
    """
    from g_data_pipeline_spark.operators.incremental_profile import (
        partial_heavy_hitters,
    )

    return _partial_maintenance_stream(
        stream,
        stats_path,
        checkpoint_dir,
        lambda batch_df, key: partial_heavy_hitters(
            batch_df, col, [key], k=k
        ),
        timeout_s,
    )


def _partial_maintenance_stream(
    stream: DataFrame,
    stats_path: str,
    checkpoint_dir: str,
    partial_fn,
    timeout_s: int,
):
    """Shared stats-on-ingest loop: ``partial_fn(batch_df, batch_key_col)``
    produces the batch's mergeable summary rows keyed by the supplied
    ``__batch_id`` column; each epoch overwrites exactly its own stats
    partition (dynamic partition overwrite), so a replayed epoch repairs
    instead of double-counting. Returns the per-batch function after the
    AvailableNow trigger drains, so tests can invoke a simulated replay
    directly."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_batch_partition(
            partial_fn(batch_df, F.lit(int(batch_id)).alias("__batch_id")),
            batch_id,
            stats_path,
        )

    return run_foreach_batch(
        stream, apply_batch, checkpoint_dir, "stats maintenance stream",
        timeout_s,
    )


def txn_commit_sink(
    stream: DataFrame,
    table: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
    sink_name: str | None = None,
):
    """Exactly-once streaming publish into a manifest-committed table
    (sources/txn.py): every micro-batch is staged and committed with
    ``run_id = f"{sink_name}-batch-{batch_id}"``. Structured Streaming
    replays a failed epoch under the SAME batch_id, and ``commit_write``
    returns the already-committed version for a known run_id without
    writing a new manifest — so replays are no-ops BY THE COMMIT
    PROTOCOL, not by partition-overwrite gymnastics. Readers
    (``txn.read_committed``) see each batch atomically: never a
    half-written micro-batch, even if the writer dies between staging
    and manifest rename.

    Batch ids restart at 0 PER CHECKPOINT, so the run_id must be
    namespaced per logical query: a second stream (or a restart with a
    fresh checkpoint dir) writing the same table would otherwise collide
    with already-committed ``batch-0`` run_ids and commit_write would
    silently no-op, DROPPING the new stream's data. ``sink_name``
    defaults to a stable hash of the checkpoint dir — same checkpoint →
    same namespace (replay idempotence preserved), different checkpoint
    → disjoint run_ids (no cross-query collisions).

    Contrast with :func:`exactly_once_parquet_sink`: that one makes the
    PHYSICAL WRITE idempotent (dynamic partition overwrite); this one
    makes the COMMIT idempotent and adds atomic visibility + time travel.
    Returns the per-batch writer so tests can invoke simulated replays.
    """
    from g_data_pipeline_spark.sources import txn

    if sink_name is None:
        sink_name = default_sink_name(checkpoint_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        txn.commit_write(
            batch_df.sparkSession,
            batch_df,
            table,
            run_id=f"{sink_name}-batch-{int(batch_id)}",
            mode="append",
        )

    return run_foreach_batch(
        stream, write_batch, checkpoint_dir, "txn commit sink", timeout_s
    )


def substring_dedup_stream(
    stream: DataFrame,
    directory_table: str,
    out_table: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 50,
    timeout_s: int = 180,
    sink_name: str | None = None,
):
    """Streaming substring-level dedup (Lee et al. '21 at crawl-dump
    cadence) with EXACTLY-ONCE semantics end-to-end over manifest tables:
    each micro-batch is cut against the canonical window-hash DIRECTORY
    built by all previous batches (operators/dedup.
    incremental_substring_dedup), the cleaned documents commit to
    ``out_table`` and the batch's never-seen-hash delta appends to
    ``directory_table`` — both through the txn commit protocol, so
    replays no-op on their run_ids.

    The replay subtlety: a failed epoch may have already committed this
    batch's directory delta — a naive latest-version read would then see
    the batch's OWN windows in the directory and cut the whole batch to
    empty text on replay. The directory is therefore read AS OF the
    version PRECEDING this batch's own delta commit (the manifest's
    parent), pinned by the delta run_id — a replay reads exactly the
    state the first attempt saw. run_ids are namespaced per checkpoint
    dir (``default_sink_name``: batch ids restart at 0 per
    checkpoint).

    Returns the per-batch function after the AvailableNow trigger drains,
    so tests can invoke simulated replays directly.
    """
    from g_data_pipeline_spark.operators.dedup import (
        incremental_substring_dedup,
    )

    return directory_cut_stream(
        stream, directory_table, out_table, checkpoint_dir,
        lambda batch_df, directory: incremental_substring_dedup(
            batch_df, directory, id_col, text_col,
            window_tokens=window_tokens,
        ),
        lambda batch_df: batch_df.sparkSession.createDataFrame(
            [], "h string, owner_id long, owner_pos int"
        ),
        "substring dedup stream", timeout_s, sink_name,
    )


def minhash_dedup_stream(
    stream: DataFrame,
    directory_table: str,
    out_table: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "xxhash64",
    timeout_s: int = 180,
    sink_name: str | None = None,
):
    """Streaming NEAR-dup maintenance against a growing MinHash-LSH band
    archive (the crawl-dump cadence form of
    operators/dedup.incremental_minhash_dedup) with EXACTLY-ONCE
    semantics end-to-end over manifest tables: each micro-batch labels
    its documents against the band-bucket DIRECTORY built by all
    previous batches, the labeled rows commit to ``out_table`` and the
    batch's survivor band delta appends to ``directory_table`` — both
    through the txn commit protocol, so replays no-op on their run_ids.

    Same replay subtlety as :func:`substring_dedup_stream`: a failed
    epoch may already have committed this batch's directory delta, so
    the directory is read AS OF the version PRECEDING the batch's own
    delta commit (O(1) via the txn run-marker index). The labeling rule
    itself is additionally replay-stable by construction — the operator
    ignores directory rows the batch itself owns (owner_id == id) and
    bucket-min survivorship runs over all batch docs (see the operator
    docstring), so a replay emits byte-identical labels.
    """
    from g_data_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_directory,
    )

    family = dict(
        n=n, num_hashes=num_hashes, bands=bands, hash_family=hash_family
    )
    return directory_cut_stream(
        stream, directory_table, out_table, checkpoint_dir,
        lambda batch_df, directory: incremental_minhash_dedup(
            batch_df, directory, id_col, text_col, **family
        ),
        # empty directory with the right (family-dependent) schema
        lambda batch_df: minhash_band_directory(
            batch_df.limit(0), id_col, text_col, **family
        ),
        "minhash dedup stream", timeout_s, sink_name,
    )


def crawl_curation_stream(
    stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    sink_name: str | None = None,
    **tick_kwargs,
):
    """The full crawl-curation loop at streaming cadence: every
    micro-batch runs pipelines.crawl_curation_tick (quality -> exact ->
    substring -> near-dup vs the growing archives under ``base_dir``)
    with ``dump_id = f"{sink_name}-{batch_id}"``.

    Exactly-once comes from the TICK, not from this wrapper: each tick
    commits through per-table run_ids with as-of-parent directory reads
    and short-circuits when its output run_id already committed — so
    Structured Streaming replaying a failed epoch under the same
    batch_id is a pure no-op at every stage boundary (mid-tick crashes
    resume from the exact table that missed its commit). run_ids are
    namespaced per checkpoint dir (``default_sink_name``: batch ids
    restart at 0 per checkpoint).

    Returns the per-batch function after the AvailableNow trigger
    drains, so tests can invoke simulated replays directly.
    """
    from g_data_pipeline_spark.pipelines import crawl_curation_tick

    if sink_name is None:
        sink_name = default_sink_name(checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        crawl_curation_tick(
            batch_df.sparkSession,
            batch_df,
            base_dir,
            f"{sink_name}-{int(batch_id)}",
            **tick_kwargs,
        )

    return run_foreach_batch(
        stream, apply_batch, checkpoint_dir, "crawl curation stream",
        timeout_s,
    )
