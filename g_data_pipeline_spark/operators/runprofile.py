"""Post-run operator metrics: what the job ACTUALLY did.

`operators/planlint.py` is the structural half of plan hygiene — it reads
the plan without executing anything. This module is the runtime half: after
an action runs, every physical operator holds SQL metrics (rows out, spill
bytes, shuffle bytes written, scan file counts, peak hash-map memory …),
and those numbers — not the plan shape — are what diagnoses a 100 TB job:
a SortMergeJoin that looks fine structurally but spilled 2 TB, an Exchange
that wrote 100× the expected bytes because a filter didn't prune, a scan
whose `numFiles` proves partition pruning did (or didn't) happen.

The harvest walks the EXECUTED plan object graph over py4j — including
through AQE wrappers (`AdaptiveSparkPlanExec.executedPlan`, the
`*QueryStageExec` nodes that hide materialized stages behind empty
`children()`) — and flattens each node's SQLMetric map into plain rows.
Driver-side and read-only: nothing is re-executed, no data moves. Metrics
are accumulators, so on a real cluster the values aggregate across all
executors exactly as the Spark UI shows them.

Usage — the guaranteed path is `profile_action`, which runs the action and
harvests in one call::

    rows, metrics = profile_action(df)       # collect() + harvest
    summary = run_summary(metrics)           # headline dict
    frame   = metrics_frame(spark, metrics)  # DataFrame for SQL-side triage

Harvesting a plan whose action ran earlier in the same session also works
(`executed_metrics(df)` after `df.collect()`); harvesting a never-executed
plan returns whatever initial values the metrics hold (typically zeros) —
callers wanting a hard guarantee should use `profile_action`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession


@dataclass(frozen=True)
class MetricRow:
    seq: int  # preorder position of the node (disambiguates repeats)
    depth: int
    node: str  # nodeName(), e.g. "HashAggregate", "Exchange"
    metric: str  # stable key, e.g. "numOutputRows", "spillSize"
    label: str  # human label, e.g. "number of output rows"
    value: int


def _scala_seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _harvest(jplan, depth: int, counter: list[int], out: list[MetricRow]) -> None:
    cls = jplan.getClass().getSimpleName()
    seq = counter[0]
    counter[0] += 1
    name = jplan.nodeName()
    it = jplan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        sm = kv._2()
        label = sm.name().get() if sm.name().isDefined() else kv._1()
        out.append(
            MetricRow(
                seq=seq,
                depth=depth,
                node=name,
                metric=kv._1(),
                label=label,
                value=int(sm.value()),
            )
        )
    # AQE wrappers hide the real plan behind empty children():
    # AdaptiveSparkPlanExec holds the (final) plan in executedPlan;
    # Shuffle/Broadcast/ResultQueryStageExec hold theirs in plan().
    if cls == "AdaptiveSparkPlanExec":
        _harvest(jplan.executedPlan(), depth + 1, counter, out)
    elif cls.endswith("QueryStageExec"):
        _harvest(jplan.plan(), depth + 1, counter, out)
    else:
        for child in _scala_seq(jplan.children()):
            _harvest(child, depth + 1, counter, out)


def executed_metrics(df: DataFrame) -> list[MetricRow]:
    """Flatten every operator's SQL metrics from ``df``'s executed plan.
    Call AFTER an action on ``df`` (or use :func:`profile_action`)."""
    out: list[MetricRow] = []
    _harvest(df._jdf.queryExecution().executedPlan(), 0, [0], out)
    return out


# --- multi-action metrics tap ------------------------------------------------
#
# Eager/multi-action operators (the full profiler, the range-partition
# percentile kernel) run SEVERAL internal actions on internal DataFrames —
# a caller holding only the final result has no plan to harvest, which left
# the two costliest bench entries without runtime metrics. The tap is a
# zero-cost seam: operators call ``tap_action(df)`` right after each
# internal action (a no-op unless a tap is open), and a caller wanting the
# aggregate opens ``metrics_tap()`` around the whole call. Node sequence
# ids are re-based per harvested plan so run_summary's distinct-seq
# counters (n_exchanges, n_operators) stay correct across plans.

_TAP: list[MetricRow] | None = None


def tap_action(df: DataFrame) -> None:
    """Record ``df``'s executed-plan metrics into the open tap (no-op
    when none is open). Call immediately after an action ON THIS ``df``
    — actions that plan internally (``df.count()``) execute a different
    QueryExecution and must be rewritten as agg+collect to be tappable."""
    global _TAP
    if _TAP is None:
        return
    base = max((m.seq for m in _TAP), default=-1) + 1
    for m in executed_metrics(df):
        _TAP.append(
            MetricRow(
                seq=base + m.seq,
                depth=m.depth,
                node=m.node,
                metric=m.metric,
                label=m.label,
                value=m.value,
            )
        )


class metrics_tap:
    """Context manager collecting every ``tap_action`` harvest inside the
    block; ``.metrics`` holds the combined rows afterwards::

        with metrics_tap() as tap:
            for plan in plans:       # each already collected
                tap_action(plan)
        summary = run_summary(tap.metrics)
    """

    def __init__(self) -> None:
        self.metrics: list[MetricRow] = []

    def __enter__(self) -> "metrics_tap":
        global _TAP
        self._prev = _TAP
        _TAP = self.metrics
        return self

    def __exit__(self, *exc) -> None:
        global _TAP
        _TAP = self._prev


def profile_action(df: DataFrame) -> tuple[list[Row], list[MetricRow]]:
    """Run ``df.collect()`` and harvest the executed plan's metrics —
    the one-call 'what did this query actually do' probe."""
    rows = df.collect()
    return rows, executed_metrics(df)


def metrics_frame(spark: SparkSession, metrics: list[MetricRow]) -> DataFrame:
    """Local metrics rows -> DataFrame (seq, depth, node, metric, label,
    value) for SQL-side triage or landing next to job logs."""
    return spark.createDataFrame(
        [(m.seq, m.depth, m.node, m.metric, m.label, m.value) for m in metrics],
        "seq int, depth int, node string, metric string, label string, value long",
    )


def run_summary(metrics: list[MetricRow]) -> dict:
    """Headline health numbers an ops dashboard wants from one run.

    Negative metric values (uninitialized sentinels on untouched
    operators) are excluded from the sums.
    """

    def total(metric: str) -> int:
        return sum(m.value for m in metrics if m.metric == metric and m.value >= 0)

    def peak(metric: str) -> int:
        vals = [m.value for m in metrics if m.metric == metric and m.value >= 0]
        return max(vals, default=0)

    scans = [
        m.value
        for m in metrics
        if m.metric == "numOutputRows" and m.node.startswith("Scan") and m.value >= 0
    ]
    return {
        "shuffle_bytes_written": total("shuffleBytesWritten"),
        "shuffle_records_written": total("shuffleRecordsWritten"),
        "spill_bytes": total("spillSize"),
        "peak_memory_bytes": peak("peakMemory"),
        "files_read": total("numFiles"),
        "files_bytes_read": total("filesSize"),
        "rows_scanned": sum(scans),
        "n_exchanges": len(
            {m.seq for m in metrics if m.node == "Exchange"}
        ),
        "n_operators": len({m.seq for m in metrics}),
    }
