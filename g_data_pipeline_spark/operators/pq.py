"""Product-quantization ANN: the IVF-PQ (IVFADC) index layout for
embedding corpora too large to hold raw vectors in the candidate path
(Jegou, Douze & Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011; same structure as FAISS IVFPQ). No reference
counterpart (the reference has no array types — SURVEY.md §1.2);
designed Spark-first.

Why PQ at 100 TB: a 64-dim float32 embedding is 256 bytes; its PQ code
(8 subspaces x 16 codes) is 8 small ints. The candidate join therefore
shuffles/scans ~1/30th of the bytes, and the full-fidelity vectors are
touched only for the final ``k x refine`` shortlist per query.

Pipeline (all JVM expressions — no UDFs anywhere):

1. ``train_pq_codebooks`` — per-subspace k-means, ALL subspaces trained
   in the same Lloyd pass: one corpus scan + ONE shuffle per iteration
   (explode (m, code, subvector) structs -> posexplode -> groupBy
   (m, code, pos) means). Driver state is m x k x sub_len floats (1024
   doubles at the defaults) — bounded at any corpus size. At 100 TB you
   would train on a sampled slice; encode/search below are unchanged.
2. ``pq_encode`` — one scan, ZERO shuffles: codes[m] = argmin_j
   ||sub_m - book[m][j]||^2 via a struct ``array_max`` (ties to the
   lower code id), identical on every run.
3. ``ivfpq_topk`` — coarse IVF cells prune the corpus (broadcast query
   probes keyed on cell), ADC scores the survivors from codes alone
   (table lookup into literal codebooks: dot(q, v) ~= sum_m
   dot(q_m, book[m][codes[m]])), a WindowGroupLimit keeps the top
   ``k*refine`` per query, and ONLY that shortlist is re-ranked with
   exact cosine against the raw vectors (broadcast semi-join back to
   the corpus — the "fetch by id" of a real vector store).

Precision note: ADC is an approximation, so it orders the SHORTLIST
only; the returned top-k and its ``cos`` values are exact cosine over
shortlist members (recall is approximate, precision is exact — the same
contract as ``similarity.ivf_topk``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from g_data_pipeline_spark.functions.vectors import (
    cosine_sim_with_norm,
    dot_fast,
    norm_sq_scaled,
)
from g_data_pipeline_spark.operators.similarity import (
    _lit_array,
    _nearest_centroid_expr,
    _probe_centroids_expr,
    train_centroids,
)

Codebooks = list[list[list[float]]]  # [m][code][dim_within_subspace]


def _sub(vec: Column | str, m: int, sub_len: int) -> Column:
    """Subvector m of ``vec`` (F.slice is 1-based)."""
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.slice(v, m * sub_len + 1, sub_len)


def _nearest_code_expr(sub: Column, book: list[list[float]]) -> Column:
    """argmin_j ||sub - book[j]||^2 == argmax_j (dot(sub, book[j]) -
    ||book[j]||^2 / 2); struct array_max keeps it JVM-side, ties break
    to the LOWER code id via the negated id in the comparison struct."""
    structs = []
    for j, c in enumerate(book):
        half_norm_sq = sum(x * x for x in c) / 2.0
        structs.append(
            F.struct(
                (dot_fast(sub, _lit_array(c)) - F.lit(half_norm_sq)).alias(
                    "score"
                ),
                F.lit(-j).alias("neg_code"),
            )
        )
    return -F.array_max(F.array(*structs))["neg_code"]


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 3,
    seed: int = 42,
) -> Codebooks:
    """Per-subspace Euclidean k-means codebooks, every subspace trained in
    the same distributed Lloyd pass (one scan + one (m, code, pos)-keyed
    shuffle per iteration).

    Seeding: the ``n_codes`` rows with the smallest ``xxhash64(id, seed)``
    — deterministic on any partitioning, no executor RNG state. Codebook
    entries are raw subvector means (NOT unit-normalized — PQ approximates
    dot products, so the codebook must live where the data lives)."""
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    sub_len = dim // m_subspaces
    seeds = (
        corpus.select(vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(n_codes)
        .collect()
    )
    books: Codebooks = [
        [
            [float(x) for x in r[0][m * sub_len : (m + 1) * sub_len]]
            for r in seeds
        ]
        for m in range(m_subspaces)
    ]
    for _ in range(n_iter):
        entries = F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    _nearest_code_expr(
                        _sub(vec_col, m, sub_len), books[m]
                    ).alias("code"),
                    _sub(vec_col, m, sub_len).alias("sub"),
                )
                for m in range(m_subspaces)
            ]
        )
        cells = (
            corpus.select(F.explode(entries).alias("e"))
            .select("e.m", "e.code", F.posexplode("e.sub").alias("pos", "val"))
            .groupBy("m", "code", "pos")
            .agg(F.avg("val").alias("mean"))
            .collect()
        )
        by_key: dict[tuple[int, int], dict[int, float]] = {}
        for r in cells:
            by_key.setdefault((r.m, r.code), {})[r.pos] = r.mean
        books = [
            [
                [vals[p] for p in sorted(vals)]
                if (vals := by_key.get((m, j)))
                else books[m][j]  # empty cluster keeps its previous entry
                for j in range(n_codes)
            ]
            for m in range(m_subspaces)
        ]
    return books


def pq_codes_expr(
    vec: Column | str, books: Codebooks, dim: int
) -> Column:
    """``array<int>`` of per-subspace code assignments for ``vec``."""
    sub_len = dim // len(books)
    return F.array(
        *[
            _nearest_code_expr(_sub(vec, m, sub_len), books[m])
            for m in range(len(books))
        ]
    )


def pq_encode(
    corpus: DataFrame,
    books: Codebooks,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes) — one scan, zero shuffles (pinned in tests/test_pq.py).
    This IS the compressed index: at scale, write it partitioned by the
    IVF cell and the candidate path never reads raw vectors."""
    return corpus.select(
        id_col, pq_codes_expr(vec_col, books, dim).alias("codes")
    )


def adc_score_expr(
    query_vec: Column | str, codes: Column | str, books: Codebooks, dim: int
) -> Column:
    """Asymmetric distance computation: dot(q, v) ~= sum_m
    dot(q_sub_m, book[m][codes[m]]). The codebooks enter the plan as
    literal array-of-array constants (m x k x sub_len floats), so the
    lookup is a pure ``element_at`` — no join, no UDF."""
    c = F.col(codes) if isinstance(codes, str) else codes
    sub_len = dim // len(books)
    terms = []
    for m, book in enumerate(books):
        book_lit = F.array(*[_lit_array(entry) for entry in book])
        entry = F.element_at(book_lit, F.element_at(c, m + 1) + 1)
        terms.append(dot_fast(_sub(query_vec, m, sub_len), entry))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    n_centroids: int = 16,
    m_subspaces: int = 8,
    n_codes: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> dict:
    """Train and PERSIST an IVF-PQ index:

    - ``{path}/codes/`` — (id, codes) parquet, ``partitionBy("cell")``:
      the compressed candidate table. Partitioning by cell is what turns
      a query's probe set into PARTITION PRUNING — a search touches
      n_probe/n_centroids of the files, verified via the scan's
      ``PartitionFilters`` in tests/test_pq.py.
    - ``{path}/vectors/`` — (id, vector) parquet: full-fidelity vectors,
      read ONLY by the shortlist re-rank join.
    - ``{path}/meta.json`` — centroids + codebooks + layout params
      (k x dim + m x k x sub_len floats — always driver-tiny). Written
      with plain local I/O; an object-store deployment would route this
      through the storage layer seam (storage.py).

    Returns the meta dict (also usable directly with
    ``search_ivfpq_index(..., meta=...)`` to skip the file read)."""
    import json
    import os

    centroids = train_centroids(
        corpus, n_centroids, id_col, vec_col, n_iter=n_iter, seed=seed
    )
    books = train_pq_codebooks(
        corpus, dim, m_subspaces, n_codes, id_col, vec_col,
        n_iter=n_iter, seed=seed,
    )
    index = corpus.select(
        F.col(id_col).alias("id"),
        _nearest_centroid_expr(vec_col, centroids).alias("cell"),
        pq_codes_expr(vec_col, books, dim).alias("codes"),
    )
    index.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "codes")
    )
    corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vector")
    ).write.mode("overwrite").parquet(os.path.join(path, "vectors"))
    meta = {
        "dim": dim,
        "n_centroids": n_centroids,
        "m_subspaces": m_subspaces,
        "n_codes": n_codes,
        "centroids": centroids,
        "books": books,
    }
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def append_to_ivfpq_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incrementally ADD vectors to a persisted IVF-PQ index without
    retraining — the FAISS ``index.add()`` contract, and the operation a
    100 TB embedding corpus actually performs daily (appends are constant,
    retrains are rare and scheduled).

    The stored model (centroids + codebooks in ``meta.json``) is FROZEN:
    new vectors are assigned to cells and PQ-encoded with the exact same
    expressions the original build used, so the append is one scan of the
    new batch with ZERO shuffles, and ``write.mode("append")`` with
    ``partitionBy("cell")`` drops the new files into the existing cell
    directories — partition pruning in ``search_ivfpq_index`` keeps
    working unchanged over old + new files alike.

    Exactness contract (pinned in tests/test_pq.py): build-on-part1 then
    append-part2 yields bit-identical search results to batch-encoding
    part1 ∪ part2 under the same frozen model, because encode is a pure
    deterministic expression of (vector, meta). Recall against the true
    neighbors degrades only as far as the frozen codebooks drift from the
    new data's distribution — when that matters, rebuild with
    ``write_ivfpq_index`` (the retrain path); this function never
    silently retrains (``meta.json`` is pinned unchanged).

    Caveat (same as any parquet append): the two ``append`` writes are
    not one atomic commit. A versioned deployment would route this
    through the ``v=N`` snapshot layout of operators/matview.py; kept
    direct here because the index is rebuildable from the corpus."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    encoded = new_vectors.select(
        F.col(id_col).alias("id"),
        _nearest_centroid_expr(vec_col, meta["centroids"]).alias("cell"),
        pq_codes_expr(vec_col, meta["books"], meta["dim"]).alias("codes"),
    )
    encoded.write.mode("append").partitionBy("cell").parquet(
        os.path.join(path, "codes")
    )
    new_vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vector")
    ).write.mode("append").parquet(os.path.join(path, "vectors"))
    return meta


def search_ivfpq_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    n_probe: int = 4,
    refine: int = 4,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    meta: dict | None = None,
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """Query a persisted IVF-PQ index with partition-pruned candidate
    scans. The probe cells are resolved DRIVER-SIDE (collecting the
    query batch — bounded by |queries| x n_probe, the few-queries regime
    this layout exists for) so the cell predicate is a literal ``IN``
    that reaches the parquet scan as a ``PartitionFilters`` entry: only
    the probed cell directories are listed or read, at any corpus size.

    ``allowed_ids`` (a one-column ``id`` DataFrame) turns this into the
    FILTERED search every production vector store exposes ("top-k among
    vectors WHERE <metadata predicate>"): the candidate set is
    left-semi-joined against it BEFORE the ADC shortlist ranks, so
    disallowed vectors can neither appear in results nor crowd allowed
    ones out of the k·refine shortlist (post-filtering the final top-k
    would silently return < k). The semi join's strategy is left to
    Catalyst/AQE — a small allow-list broadcasts, a huge one
    shuffle-joins on ``id``, both correct at any selectivity.

    Returns (q_id, vec_id, cos, rank) — exact cosine over the ADC
    shortlist, identical contract (and, for the same training params,
    identical results) to the in-memory ``ivfpq_topk``."""
    import json
    import os

    if meta is None:
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
    centroids = meta["centroids"]
    books = meta["books"]
    dim = meta["dim"]
    probes = queries.select(
        query_id,
        query_vec,
        F.explode(
            _probe_centroids_expr(query_vec, centroids, n_probe)
        ).alias("cell"),
    )
    probe_rows = probes.collect()
    cells = sorted({r["cell"] for r in probe_rows})
    probe_df = F.broadcast(
        spark.createDataFrame(
            probe_rows, schema=f"{query_id} long, {query_vec} array<float>, cell int"
        )
    )
    codes = spark.read.parquet(os.path.join(path, "codes")).select(
        "id", "codes", "cell"
    )
    delta_codes_path = os.path.join(path, "delta_codes")
    if os.path.exists(delta_codes_path):
        # growing-delta zone (streaming_index_delta_sink): searches see
        # streamed vectors immediately; both scans stay cell-pruned
        codes = codes.unionByName(
            spark.read.parquet(delta_codes_path).select(
                "id", "codes", "cell"
            )
        )
    codes = codes.filter(F.col("cell").isin(cells))
    cands = codes.join(probe_df, "cell").filter(
        F.col("id") != F.col(query_id)
    )
    if allowed_ids is not None:
        cands = cands.join(
            allowed_ids.select("id").distinct(), "id", "left_semi"
        )
    adc = cands.select(
        query_id,
        query_vec,
        "id",
        adc_score_expr(query_vec, "codes", books, dim).alias("adc"),
    )
    w_short = Window.partitionBy(query_id).orderBy(
        F.col("adc").desc(), F.col("id").asc()
    )
    shortlist = (
        adc.withColumn("srank", F.row_number().over(w_short))
        .filter(F.col("srank") <= k * refine)
        .select(
            query_id,
            query_vec,
            norm_sq_scaled(query_vec).alias("__q_norm"),
            "id",
        )
    )
    vectors = spark.read.parquet(os.path.join(path, "vectors")).select(
        "id", "vector"
    )
    delta_vec_path = os.path.join(path, "delta_vectors")
    if os.path.exists(delta_vec_path):
        vectors = vectors.unionByName(
            spark.read.parquet(delta_vec_path).select("id", "vector")
        )
    reranked = vectors.join(F.broadcast(shortlist), "id")
    scored = reranked.select(
        query_id,
        F.col("id").alias("vec_id"),
        cosine_sim_with_norm("vector", query_vec, "__q_norm").alias("cos"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def streaming_index_delta_sink(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_s: int = 120,
):
    """Growing-delta zone for a sealed IVF-PQ index — the streaming twin
    of ``append_to_ivfpq_index`` and the sealed/growing-segment split
    every production vector store uses (new vectors must be searchable
    in seconds; rebuilding the sealed index takes hours at 100 TB).

    Each micro-batch is cell-assigned + PQ-encoded under the FROZEN
    stored model (one scan, zero shuffles — same expressions as the
    batch path) and lands in ``{path}/delta_codes/__batch_id=N/cell=M``
    + ``{path}/delta_vectors/__batch_id=N`` via dynamic
    partition-overwrite: a replayed epoch (same ``batch_id``, Structured
    Streaming's contract) overwrites exactly its own partitions, so the
    sink is exactly-once like ``streaming.exactly_once_parquet_sink``.
    ``search_ivfpq_index`` unions the delta zone automatically, with the
    probe-cell predicate pruning BOTH layouts. Fold the delta into the
    sealed zone with ``compact_index_delta`` when it grows.

    Drains all available input (Trigger.AvailableNow) and returns the
    per-batch writer so tests can invoke a simulated replay directly."""
    import json
    import os

    from g_data_pipeline_spark.streaming.pipelines import (
        overwrite_batch_partition,
        run_foreach_batch,
    )

    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_batch_partition(
            batch_df.select(
                F.col(id_col).alias("id"),
                _nearest_centroid_expr(vec_col, meta["centroids"]).alias(
                    "cell"
                ),
                pq_codes_expr(vec_col, meta["books"], meta["dim"]).alias(
                    "codes"
                ),
            ),
            batch_id,
            os.path.join(path, "delta_codes"),
            "cell",
        )
        overwrite_batch_partition(
            batch_df.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("vector")
            ),
            batch_id,
            os.path.join(path, "delta_vectors"),
        )

    return run_foreach_batch(
        stream, write_batch, checkpoint_dir, "index delta sink", timeout_s
    )


def compact_index_delta(spark, path: str) -> int:
    """Fold the growing delta zone into the sealed index: re-encode the
    delta vectors through ``append_to_ivfpq_index`` (same frozen model —
    codes land bit-identical to what the sink wrote, so search results
    are unchanged across the compaction; pinned in tests), then remove
    the delta directories. Returns the number of vectors folded.

    Not one atomic commit (same caveat as ``append_to_ivfpq_index``): a
    crash between the append and the delta removal leaves the window
    where searches see folded rows twice; a versioned deployment routes
    the whole index root through the ``v=N`` snapshot layout of
    operators/matview.py."""
    import os
    import shutil

    delta_vec_path = os.path.join(path, "delta_vectors")
    if not os.path.exists(delta_vec_path):
        return 0
    delta = spark.read.parquet(delta_vec_path).select(
        F.col("id").alias("vec_id"), F.col("vector").alias("embedding")
    )
    n = delta.count()
    if n:
        append_to_ivfpq_index(spark, path, delta)
    shutil.rmtree(delta_vec_path)
    shutil.rmtree(os.path.join(path, "delta_codes"), ignore_errors=True)
    return n


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    m_subspaces: int = 8,
    n_codes: int = 16,
    refine: int = 4,
    n_iter: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k per query via IVF cells + PQ ADC shortlist +
    exact re-rank. Returns (q_id, vec_id, cos, rank) with exact cosine
    values, like ``similarity.ivf_topk`` — only recall is approximate.

    Plan shape (pinned): candidate join is broadcast-keyed on ``cell``
    (never cartesian), ADC runs on codes only, and the raw-vector
    re-rank join broadcasts the tiny ``k*refine``-per-query shortlist."""
    centroids = train_centroids(
        corpus, n_centroids, corpus_id, corpus_vec, n_iter=n_iter, seed=seed
    )
    books = train_pq_codebooks(
        corpus, dim, m_subspaces, n_codes, corpus_id, corpus_vec,
        n_iter=n_iter, seed=seed,
    )
    index = corpus.select(
        corpus_id,
        _nearest_centroid_expr(corpus_vec, centroids).alias("cell"),
        pq_codes_expr(corpus_vec, books, dim).alias("codes"),
    )
    probes = queries.select(
        query_id,
        query_vec,
        F.explode(
            _probe_centroids_expr(query_vec, centroids, n_probe)
        ).alias("cell"),
    )
    cands = index.join(F.broadcast(probes), "cell").filter(
        F.col(corpus_id) != F.col(query_id)
    )
    adc = cands.select(
        query_id,
        query_vec,
        corpus_id,
        adc_score_expr(query_vec, "codes", books, dim).alias("adc"),
    )
    w_short = Window.partitionBy(query_id).orderBy(
        F.col("adc").desc(), F.col(corpus_id).asc()
    )
    shortlist = (
        adc.withColumn("srank", F.row_number().over(w_short))
        .filter(F.col("srank") <= k * refine)
        .select(
            query_id,
            query_vec,
            norm_sq_scaled(query_vec).alias("__q_norm"),
            corpus_id,
        )
    )
    reranked = corpus.select(corpus_id, corpus_vec).join(
        F.broadcast(shortlist), corpus_id
    )
    scored = reranked.select(
        query_id,
        corpus_id,
        cosine_sim_with_norm(corpus_vec, query_vec, "__q_norm").alias("cos"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
