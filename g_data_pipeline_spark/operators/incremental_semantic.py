"""Incremental SEMANTIC (embedding) dedup vs a growing archive — the
last dedup modality to get an incremental form (exact fingerprints,
substring windows, MinHash bands, and SimHash chunks already have one):
a new crawl dump's embeddings are compared against the survivors of all
previous dumps WITHIN coarse k-means cells (the SemDeDup construction,
Abbas et al. 2023), never all-pairs.

State: the archive keeps one row per SURVIVOR — ``(cell, vec_id,
embedding)`` under its top-1 cell of a FROZEN codebook (train once,
re-index on quantizer refresh — the standard IVF practice; at 100 TB
the archive is a cell-partitioned table, so a batch's probes read only
their cells and only the batch side ever shuffles). Unlike the banded
families the archive must keep vectors (the decision needs true
cosine), which is also what makes precision exact.

Decision, one pass, deterministic and replay-stable (the banded-core
argument, adapted): a batch vector's DUP NEIGHBORS are (a) archive rows
in its probed cells with ``vec_id != id`` and cosine >= threshold —
history wins regardless of id order, self-ownership excluded so a
replay against an absorbed delta labels identically — and (b) batch
rows with a SMALLER id in a shared probed cell and cosine >= threshold,
computed over ALL batch rows (not survivors), so chained decisions
match between first run and replay. ``n_dup_neighbors`` counts DISTINCT
neighbor ids across both sources.

Replay-stability proof when ``n_probe`` < number of cells (round-8
audit of an advisory claim that the shared-probed-cell batch rule
breaks replay; the claim is FALSE and the edge is pinned by
``tests/test_incremental_semantic.py::
test_replay_stable_when_probe_sets_diverge``): a replay's only new
information is absorbed survivors, visible to query ``i`` exactly when
``top1(j) in probes(i)`` (the archive stores each survivor under its
top-1 cell; ``assign_to_centroids`` and ``_probe_cells`` rank
identically — max cosine, ties to the lowest cell). Since ``j`` always
probes its own top-1 cell, ``top1(j) in probes(i)`` implies the pair
SHARES probed cell ``top1(j)``; therefore for ``j < i`` the batch pass
already counted ``j`` on the first run, and for ``j > i`` the batch
pass labeled ``j`` a dup of ``i`` so ``j`` never survived into the
archive. Batch-pass results themselves replay bit-identically (the
pass recomputes over ALL batch rows). Note the inviting "fix" of
keying the batch neighbor side by top-1 cell only — to mirror the
archive condition — would BREAK stability in the reverse direction: a
pair where ``top1(i) in probes(j)`` but ``top1(j) not in probes(i)``
(rankings diverge near a cell boundary) would leave both docs clean
and archived on the first run, then flip ``i`` to dup on replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from g_data_pipeline_spark.functions.vectors import cosine_sim
from g_data_pipeline_spark.operators.similarity import assign_to_centroids


def _probe_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Top-``n_probe`` cells per vector against a DataFrame codebook:
    broadcast the k x dim codebook, rank cells row-locally by
    (cos desc, cell asc), explode the head. Zero shuffles; fan-out
    n_probe rows per vector (the IVF query-side probe). The first-ranked
    cell equals ``assign_to_centroids``' assignment (same ordering) —
    the cell the archive stores the vector under."""
    codebook = F.broadcast(
        centroids.agg(
            F.collect_list(
                F.struct(
                    F.col("cell").cast("long").alias("cell"),
                    F.col("c_vec").alias("vec"),
                )
            ).alias("__cb")
        )
    )
    scored = F.transform(
        F.col("__cb"),
        lambda c: F.struct(
            (-cosine_sim(F.col(vec_col), c["vec"])).alias("negcos"),
            c["cell"].alias("cell"),
        ),
    )
    probes = F.slice(F.array_sort(scored), 1, int(n_probe))
    return (
        corpus.select(id_col, vec_col)
        .crossJoin(codebook)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.explode(F.transform(probes, lambda p: p["cell"])).alias(
                "cell"
            ),
        )
    )


def embedding_cell_archive(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the persistent archive from a historical corpus: one row per
    vector under its top-1 cell — ``(cell, vec_id, embedding)``. At
    scale, write partitioned by ``cell`` so probes prune partitions."""
    assigned = assign_to_centroids(df, centroids, id_col, vec_col)
    return assigned.join(df.select(id_col, vec_col), id_col).select(
        "cell", F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )


def incremental_semantic_dedup(
    batch: DataFrame,
    archive: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Label a new dump's embeddings against the survivor archive (see
    module docstring for the decision rules and replay-stability
    argument). Returns ``(labeled, delta)``:

    - ``labeled``: (id, n_dup_neighbors, is_dup) for EVERY batch row;
    - ``delta``: the survivors' (cell, vec_id, embedding) rows not
      already archived — append them so the next dump dedups against
      this one (anti-join on vec_id makes an absorbed replay's delta
      empty).

    Replay-stability of the batch pass (round-8 proof): a replay's only
    new information is absorbed survivors, visible as archive rows at
    their TOP-1 cell. A surviving j flips query i's label only if
    ``top1(j) in probes(i)`` and cos >= tau but i was clean first run.
    For ``j < i`` the batch pass applies the SAME condition, so i was
    already dup. For ``j > i`` the SYMMETRIC half of the batch
    visibility (``top1(i) in probes(j)`` OR ``top1(j) in probes(i)``)
    makes j itself a dup of i whenever ``top1(j) in probes(i)`` — so j
    never survives into the archive. Either direction alone is
    insufficient: probes-x-probes matching loses first-run neighbors
    whose top-1 cell lies outside the other's probe set, and
    top1-in-probes alone admits the larger-id survivor flip.

    Scale shape: probes and archive join key on CELL content (sum over
    cells of |batch-cell| x |archive-cell|, the SemDeDup contract); the
    within-batch pass is the same cell-keyed self-join; neighbor rows
    carry (id, neighbor id) scalars only past the cosine filter."""
    probed = _probe_cells(batch, centroids, n_probe, id_col, vec_col)

    arch_nbrs = (
        probed.join(
            archive.select(
                "cell",
                F.col("vec_id").alias("nbr"),
                F.col("embedding").alias("a_vec"),
            ),
            "cell",
        )
        .filter(F.col("nbr") != F.col("id"))
        .select(
            "id", "nbr", cosine_sim(F.col("v"), F.col("a_vec")).alias("cos")
        )
        .filter(F.col("cos") >= F.lit(float(threshold)))
        .select("id", "nbr")
    )
    # Within-batch visibility: ANY shared probed cell (see the module
    # docstring's replay-stability proof — this strictly dominates the
    # archive's top1-in-probes visibility while staying stable in both
    # id directions; do NOT "align" it to top-1-only).
    b = probed.select(
        F.col("id").alias("nbr"), F.col("v").alias("b_vec"), "cell"
    )
    batch_nbrs = (
        probed.join(b, "cell")
        .filter(F.col("nbr") < F.col("id"))
        .select(
            "id", "nbr", cosine_sim(F.col("v"), F.col("b_vec")).alias("cos")
        )
        .filter(F.col("cos") >= F.lit(float(threshold)))
        .select("id", "nbr")
    )
    per_doc = (
        arch_nbrs.unionByName(batch_nbrs)
        .groupBy("id")
        .agg(F.countDistinct("nbr").alias("n_dup_neighbors"))
    )
    ids = batch.select(F.col(id_col).alias("id"))
    labeled = ids.join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_dup_neighbors", F.lit(0))
        .cast("long")
        .alias("n_dup_neighbors"),
        (F.coalesce("n_dup_neighbors", F.lit(0)) > 0).alias("is_dup"),
    )
    survivors = labeled.filter(~F.col("is_dup")).select(
        F.col("id").alias(id_col)
    )
    delta = (
        embedding_cell_archive(
            batch.join(survivors, id_col, "left_semi"),
            centroids,
            id_col,
            vec_col,
        )
        .join(
            archive.select("vec_id"),
            "vec_id",
            "left_anti",
        )
    )
    return labeled, delta


def semantic_dedup_stream(
    stream: DataFrame,
    centroids: DataFrame,
    archive_table: str,
    out_table: str,
    checkpoint_dir: str,
    threshold: float = 0.95,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_s: int = 180,
    sink_name: str | None = None,
):
    """Exactly-once streaming twin via ``directory_cut_stream``: each
    micro-batch labels against the archive AS OF the version preceding
    its own delta commit (txn run-marker index), then commits labels and
    the survivor delta through the manifest protocol — replays no-op on
    their run_ids, and the operator's labeling is additionally
    replay-stable by construction. The codebook is FROZEN for the life
    of the stream (pass the same centroids table every run)."""
    from g_data_pipeline_spark.streaming.pipelines import (
        directory_cut_stream,
    )

    return directory_cut_stream(
        stream, archive_table, out_table, checkpoint_dir,
        lambda batch_df, archive: incremental_semantic_dedup(
            batch_df, archive, centroids, threshold, n_probe, id_col, vec_col
        ),
        lambda batch_df: batch_df.sparkSession.createDataFrame(
            [], f"cell long, vec_id long, {vec_col} array<float>"
        ),
        "semantic dedup stream", timeout_s, sink_name, delta_tag="arch",
    )
