"""Incremental PARAGRAPH dedup vs a growing hash directory — the
crawl-cadence form of operators/paragraphs.dedup_paragraphs (Dolma's
corpus rule applied per dump): a new dump's paragraphs are cut when
their exact hash is already archived OR duplicated within the batch
(first (doc, pos) occurrence wins), and the batch's surviving NEW
hashes append back so the next dump dedups against this one. Completes
the incremental dedup family across all six modalities: exact doc /
substring window / MinHash band / SimHash chunk / semantic cell /
paragraph.

Replay stability (the substring-directory argument, verbatim): the
decision for a batch paragraph depends only on (a) archive membership
of its hash — a replay against a directory that already absorbed this
batch's delta sees its OWN first occurrence as an archive hit, but the
within-batch rank-1 rule already kept exactly that occurrence, so
labels don't flip... EXCEPT the first occurrence itself: an archived
own-hash must not cut the occurrence that owns it. The directory
therefore stores the OWNER (doc, pos) per hash, and the archive-hit
excludes self-ownership — identical to the banded families'
self-ownership exclusion, and the same reason their replays are
no-ops. Delta idempotence is the usual anti-join on the hash.

Scale shape: one posexplode, one hash-keyed join against the
directory (hash-bucketed at scale, only the batch side shuffles), one
hash-keyed window within the batch, one per-doc rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from g_data_pipeline_spark.operators.paragraphs import PARA_SEP

DIRECTORY_SCHEMA = "h string, owner_id long, owner_pos int"


def incremental_paragraph_dedup(
    batch: DataFrame,
    directory: DataFrame,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Cut archived/duplicated paragraphs from a new dump. Returns
    ``(cleaned, delta)``:

    - ``cleaned``: one row per batch doc — ``(id, n_paragraphs,
      n_removed, cleaned)``, reassembled in original order ('' for a
      fully-archived doc);
    - ``delta``: ``(h, owner_id, owner_pos)`` for hashes NOT already in
      the directory, owner = the batch's first (doc, pos) occurrence —
      append so replays no-op and later dumps cut against this one.
    """
    # NULL text -> '' (split(NULL) is NULL; posexplode would silently
    # drop the doc from the cleaned rollup — r8 ADVICE).
    paras = batch.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), PARA_SEP)
        ).alias("pos", "para"),
    ).withColumn("h", F.md5(F.col("para")))
    dir_slim = directory.select(
        "h",
        F.col("owner_id").alias("__own_id"),
        F.col("owner_pos").alias("__own_pos"),
    )
    hit = paras.join(dir_slim, "h", "left")
    w = Window.partitionBy("h").orderBy("id", "pos")
    ranked = hit.withColumn("__rk", F.row_number().over(w))
    # keep iff: first batch occurrence AND (not archived, or archived
    # under OUR OWN (id, pos) — the self-ownership exclusion that makes
    # replays against an absorbed delta label identically)
    keep = (F.col("__rk") == 1) & (
        F.col("__own_id").isNull()
        | (
            (F.col("__own_id") == F.col("id"))
            & (F.col("__own_pos") == F.col("pos"))
        )
    )
    labeled = ranked.withColumn("__keep", keep)
    cleaned = (
        labeled.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
            F.sum((~F.col("__keep")).cast("int"))
            .cast("long")
            .alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"), F.struct("pos", "para")
                            )
                        )
                    ),
                    lambda x: x["para"],
                ),
                PARA_SEP,
            ).alias("cleaned"),
        )
    )
    delta = (
        labeled.filter(F.col("__keep") & F.col("__own_id").isNull())
        .select(
            "h",
            F.col("id").alias("owner_id"),
            F.col("pos").cast("int").alias("owner_pos"),
        )
        .join(directory.select("h"), "h", "left_anti")
    )
    return cleaned, delta


def paragraph_dedup_stream(
    stream: DataFrame,
    directory_table: str,
    out_table: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: int = 180,
    sink_name: str | None = None,
):
    """Exactly-once streaming twin via ``directory_cut_stream``:
    each micro-batch cuts against the directory AS OF the version
    preceding its own delta commit (run-marker as-of read), then
    commits cleaned docs + the hash delta through the txn manifest
    protocol — replays no-op on their run_ids AND the operator labels
    replay-stably by construction (self-ownership exclusion)."""
    from g_data_pipeline_spark.streaming.pipelines import (
        directory_cut_stream,
    )

    return directory_cut_stream(
        stream, directory_table, out_table, checkpoint_dir,
        lambda batch_df, directory: incremental_paragraph_dedup(
            batch_df, directory, id_col, text_col
        ),
        lambda batch_df: batch_df.sparkSession.createDataFrame(
            [], DIRECTORY_SCHEMA
        ),
        "paragraph dedup stream", timeout_s, sink_name,
    )
