"""Incremental CCNet boilerplate-line removal — the crawl-cadence form
of operators/paragraphs.remove_boilerplate_lines (r8 verdict #4's
"batch/incremental/streaming come along for free"): cut every batch
occurrence of a line that has been seen in >= ``min_docs`` DISTINCT
documents across ALL dumps so far (archive + batch), and append the
batch's owner-set delta so later dumps count against this one.

Directory = ``(h, owner_id)`` distinct pairs, CAPPED at ``min_docs``
smallest owner ids per hash. The cap is lossless for the decision:
once a line has >= min_docs distinct docs it is boilerplate forever,
so counts beyond the floor never matter — the directory is bounded by
min_docs rows per distinct line regardless of corpus size.

Replay stability (the incremental-family invariant, provable here):
archive counts EXCLUDE the batch's own doc ids (self-ownership
exclusion), so replaying a batch against a directory that already
absorbed its delta decides identically. With the cap: if a first run's
total t = |archive| + |batch| >= min_docs, the stored set keeps
min(min_docs, t) smallest ids, of which at most |batch| are the
batch's own — on replay |stored \\ batch| + |batch| >= min_docs still
holds; if t < min_docs nothing is displaced and the replay total is
exactly t. Either way the threshold comparison is unchanged.

Known semantic edge (inherent to incremental thresholding, documented
like the crawl tick's substring-before-neardup ordering): occurrences
in EARLIER dumps of a line that only later crosses the floor are not
retro-cut — CCNet itself runs per-snapshot batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from g_data_pipeline_spark.operators.paragraphs import (
    LINE_SEP,
    _explode_units,
)

DIRECTORY_SCHEMA = T.StructType(
    [
        T.StructField("h", T.StringType()),
        T.StructField("owner_id", T.LongType()),
    ]
)


def incremental_boilerplate_lines(
    batch: DataFrame,
    directory: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = LINE_SEP,
    min_docs: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(cleaned, delta)``:

    - ``cleaned``: one row per batch doc ``(id, n_lines, n_removed,
      cleaned)`` — every occurrence of an over-floor line cut,
      survivors rejoined with ``sep`` in original order ('' when fully
      cut; NULL text contributes one empty line — the one-row-per-doc
      contract);
    - ``delta``: new ``(h, owner_id)`` pairs to append — the smallest
      ids completing each hash's capped owner set (never exceeding
      ``min_docs`` stored owners per hash after the append).

    Scale shape: one posexplode; one md5(line)-keyed distinct (h, id)
    aggregate; archive join keyed on h (a bucketed-by-h directory
    table means only the batch side shuffles); one per-doc rollup."""
    units = _explode_units(batch, id_col, text_col, sep, "line").withColumn(
        "h", F.md5(F.col("line"))
    )
    batch_docs = units.select("h", "id").distinct()
    # Only the batch's hashes matter: semi-join the directory down to
    # them BEFORE any aggregation — the archive is never globally
    # re-aggregated per dump (with a bucketed-by-h directory table only
    # the batch side shuffles). Then exclude the batch's own pairs
    # (self-ownership rule) and count the remaining archive owners.
    dir_batch = directory.join(batch_docs.select("h"), "h", "left_semi")
    arch = (
        dir_batch.join(
            batch_docs.withColumnRenamed("id", "owner_id"),
            ["h", "owner_id"],
            "left_anti",
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("__arch_n"))
    )
    batch_n = batch_docs.groupBy("h").agg(
        F.count(F.lit(1)).alias("__batch_n")
    )
    totals = batch_n.join(arch, "h", "left").select(
        "h",
        (
            F.col("__batch_n") + F.coalesce(F.col("__arch_n"), F.lit(0))
        ).alias("__total"),
    )
    flagged = units.join(totals, "h").withColumn(
        "__cut", F.col("__total") >= F.lit(min_docs)
    )
    cleaned = (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("__cut").cast("int"))
            .cast("long")
            .alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("__cut"), F.struct("pos", "line")
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
                sep,
            ).alias("cleaned"),
        )
    )
    cleaned = batch.select(F.col(id_col).alias("id")).join(cleaned, "id")

    # Delta: per hash keep the smallest batch ids that fit under the cap
    # (cap - already-stored archive owners). rank by id within hash.
    # dir_batch again: stored counts only needed for batch hashes.
    stored_n = dir_batch.groupBy("h").agg(
        F.count(F.lit(1)).alias("__stored_n")
    )
    new_pairs = batch_docs.join(
        dir_batch.withColumnRenamed("owner_id", "id"),
        ["h", "id"],
        "left_anti",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("id")
    delta = (
        new_pairs.withColumn("__rk", F.row_number().over(w))
        .join(stored_n, "h", "left")
        .filter(
            F.col("__rk") + F.coalesce(F.col("__stored_n"), F.lit(0))
            <= F.lit(min_docs)
        )
        .select("h", F.col("id").alias("owner_id"))
    )
    return cleaned, delta


def boilerplate_lines_stream(
    stream: DataFrame,
    directory_table: str,
    out_table: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = LINE_SEP,
    min_docs: int = 3,
    timeout_s: int = 180,
    sink_name: str | None = None,
):
    """Exactly-once streaming twin via ``directory_cut_stream``:
    each micro-batch counts against the owner directory AS OF the
    version preceding its own delta commit (run-marker as-of read),
    then commits cleaned docs + the capped owner delta through the txn
    manifest protocol — replays no-op on their run_ids AND the operator
    labels replay-stably by construction (self-ownership exclusion +
    the cap-displacement argument in the module docstring)."""
    from g_data_pipeline_spark.streaming.pipelines import (
        directory_cut_stream,
    )

    return directory_cut_stream(
        stream, directory_table, out_table, checkpoint_dir,
        lambda batch_df, directory: incremental_boilerplate_lines(
            batch_df, directory, id_col, text_col, sep=sep, min_docs=min_docs
        ),
        lambda batch_df: batch_df.sparkSession.createDataFrame(
            [], DIRECTORY_SCHEMA
        ),
        "boilerplate-line stream", timeout_s, sink_name,
    )
